"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload (those in ``BENCHMARK.json`` and ``sweep``) at sf0.001
with a handful of ops, untraced and traced,
and checks that the last output line is the result object, that the run is
correct, and that every metric named in ``BENCHMARK.json`` is printed with
its unit. Then runs each workload with a deliberately corrupted result and
checks that the verifier flags it, and checks that the command refuses to
run in a directory that holds only the benchmark. Exits 0 when all pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL = ["--seed", "1", "--seconds", "1", "--sf", "0.001", "--ops", "6"]


def run(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload]
    return subprocess.run(
        cmd + SMALL + list(extra), cwd=cwd, capture_output=True, text=True, timeout=900
    )


def result_of(proc: subprocess.CompletedProcess) -> dict:
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(out)}")
    return out


def check_metrics(out: dict, spec: list[dict], what: str) -> list[str]:
    errors = []
    want = {m["name"]: m["unit"] for m in spec}
    got = out["metrics"]
    if set(got) != set(want):
        errors.append(f"{what}: metrics {sorted(set(got) ^ set(want))} missing or extra")
    for name, unit in want.items():
        m = got.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            errors.append(f"{what}: {name} printed as {m!r}, want a number in {unit}")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        errors.append(f"{what}: correct={out['correct']} failed={out['failed']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors: list[str] = []
    # sweep is runnable by hand though BENCHMARK.json does not list it
    workloads = [w["name"] for w in bench["workloads"]] + ["sweep"]
    for wl in workloads:
        for trace, spec in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            what = f"{wl} --trace {trace}"
            try:
                errors += check_metrics(result_of(run(wl, "--trace", trace)), spec, what)
            except (AssertionError, ValueError) as exc:
                errors.append(f"{what}: {exc}")
            print(f"checked {what}", flush=True)
        try:
            out = result_of(run(wl, "--trace", "0", "--corrupt"))
            if out["correct"] or out["failed"] < 1:
                errors.append(f"{wl}: corrupted result not flagged: {out}")
        except (AssertionError, ValueError) as exc:
            errors.append(f"{wl} --corrupt: {exc}")
        print(f"checked {wl} --corrupt", flush=True)

    # without the engine the command must fail fast and print no result
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p))
        proc = run(workloads[0], "--trace", "0", cwd=bare)
        if proc.returncode == 0 or '"metrics"' in proc.stdout:
            errors.append("bare benchmark directory: command did not refuse to run")
    print("checked bare directory", flush=True)

    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
