"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|sweep|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. It generates the workload's inputs from the
seed, starts the engine on ``local[<nproc>]`` with one client thread, sets
up (session, cached views, warm-up until per-op latency stops falling),
runs the closed loop in whole decks of ops for at least ``--seconds`` and
the workload's minimum number of decks, checks every output, and prints as
its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and Spark job counters and the metrics are the
per-layer ones (see ``perfbench/layers.json`` for which end-to-end metric
each should move). Earlier stdout lines carry run context: input sizes,
1-minute load average and the Spark job floor at start and end.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "eurostat_energy_etl_pipeline_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "sweep", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: smaller inputs, a fixed op count, and a
    # deliberately corrupted result that the checks must catch
    p.add_argument("--sf", type=float, default=None, help=argparse.SUPPRESS)
    p.add_argument("--ops", type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


class Engine:
    """The engine's public entry points, imported once."""

    def __init__(self) -> None:
        sys.path.insert(0, ROOT)
        import __spark_entry__ as entry
        from eurostat_energy_etl_pipeline_spark import catalog, plans
        from eurostat_energy_etl_pipeline_spark.etl.job import read_warehouse, run_etl
        from eurostat_energy_etl_pipeline_spark.etl.maintenance import compact_warehouse
        from eurostat_energy_etl_pipeline_spark.ml.forecast import forecast_all
        from eurostat_energy_etl_pipeline_spark.plans import insights
        from eurostat_energy_etl_pipeline_spark.rag.chatbot import answer_question
        from eurostat_energy_etl_pipeline_spark.session import get_spark
        from eurostat_energy_etl_pipeline_spark.sources.jsonstat import decode_jsonstat
        from eurostat_energy_etl_pipeline_spark.viz import charts

        plans.load_all()
        self.queries = plans.QUERIES
        self.oracle_sql = entry.oracle_sql
        self.catalog = catalog
        self.insights = insights
        self.forecast_all = forecast_all
        self.charts = charts
        self.answer_question = answer_question
        self.decode_jsonstat = decode_jsonstat
        self.run_etl = run_etl
        self.read_warehouse = read_warehouse
        self.compact_warehouse = compact_warehouse
        self.get_spark = get_spark


def warm_up(runners, eng, spark, tracer) -> list[float]:
    """One pass over the distinct ops per runner; returns the pass walls.
    The first pass is cold (JIT, first builds, cached views, Python
    workers); what follows it differs by workload (see ``warm_passes`` and
    ``settle``)."""
    passes: list[float] = []
    for runner in runners:
        ops = runner.warm_ops()
        t0 = time.perf_counter()
        for op in ops:
            runner.run_op(eng, spark, op, tracer)
        passes.append(time.perf_counter() - t0)
    return passes


def settle(wl, eng, spark, tracer, window: int = 40, min_windows: int = 6,
           max_windows: int = 12) -> list[float]:
    """Repeat the workload's settle ops until their latency stops falling:
    until two windows in a row are no more than 5% below the best window
    before them. Returns the window medians in ms."""
    ops = wl.settle_ops()
    medians: list[float] = []
    best, flat = float("inf"), 0
    i = 0
    while len(medians) < max_windows:
        lat = []
        for _ in range(window):
            t = time.perf_counter()
            wl.run_op(eng, spark, ops[i % len(ops)], tracer)
            lat.append((time.perf_counter() - t) * 1000.0)
            i += 1
        m = statistics.median(lat)
        medians.append(m)
        flat = flat + 1 if m > 0.95 * best else 0
        best = min(best, m)
        if len(medians) >= min_windows and flat >= 2:
            break
    return medians


def run(args, nproc: int) -> tuple[dict, dict]:
    import numpy as np

    import datagen
    import spans as tr
    import verify
    from workloads import WORKLOADS, Ingest, Result, Sweep

    cls = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else cls.sf
    work = os.path.join(OUT_DIR, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    info: dict = {"workload": args.workload, "seed": args.seed, "cores": nproc}
    try:
        # -- inputs (benchmark work, not counted in set-up) -----------------
        t_gen = time.perf_counter()
        sf_dir = os.path.join(work, "tables")
        if cls is not Ingest:
            info["table_rows"] = datagen.write_tables(sf_dir, sf, args.seed)
        wl = cls(np.random.default_rng([args.seed, 2]), sf_dir, work, sf)
        n_passes = 1 if args.ops is not None else wl.warm_passes
        warm = [wl] * n_passes
        if cls is Ingest:
            # warm-up loads go to scratch warehouses, on cubes of the timed
            # size; the cold pass pays the one-time start-up (Python
            # workers, writers, code generation, the first compaction)
            warm_dir = os.path.join(work, "warm")
            warm = [
                cls(np.random.default_rng([args.seed, 3, k]), sf_dir, os.path.join(warm_dir, str(k)), sf)
                for k in range(n_passes)
            ]
        gen_s = time.perf_counter() - t_gen

        tracer = tr.Tracer() if args.trace else tr.NullTracer()

        # -- set-up: from process start to the first timed op --------------
        # (input generation above is the benchmark's own work and excluded)
        eng = Engine()
        if isinstance(wl, Sweep):
            wl.bind(eng)
        t_sess = time.perf_counter()
        with tracer.span("session.start"):
            spark = eng.get_spark(f"perfbench-{args.workload}", cpus=str(nproc))
        session_s = time.perf_counter() - t_sess
        view_ms = wl.setup_session(eng, spark, tracer)
        t_warm = time.perf_counter()
        with tracer.span("setup.warmup"):
            passes = warm_up(warm, eng, spark, tracer)
            settled = []
            if hasattr(wl, "settle_ops") and args.ops is None:
                settled = settle(wl, eng, spark, tracer)
        warm_s = time.perf_counter() - t_warm
        if cls is Ingest:
            shutil.rmtree(warm_dir, ignore_errors=True)
        setup = {
            "total_s": time.perf_counter() - T_PROCESS - gen_s,
            "session_s": session_s,
            "view_ms": view_ms,
            "warm_s": warm_s,
            "passes": passes,
            "settle_window_ms": settled,
        }
        info["gen_s"] = gen_s
        info["setup"] = setup
        info["sizes"] = wl.sizes()

        # -- timed closed loop, one client --------------------------------
        sc = spark.sparkContext
        info["loadavg_start"] = tr.loadavg_1m()
        info["floor_start_ms"] = tr.floor_ms(spark)
        results, lat, errors = [], [], {}
        plans = getattr(wl, "plans", None)
        if plans is not None:
            plans.reset_counts()  # the ratio covers timed calls only
        t_begin = time.perf_counter()
        i = 0
        while True:
            op = wl.next_op()
            tracer.begin_op(i)
            t = time.perf_counter()
            with tracer.span("op", kind=op.kind):
                try:
                    res = wl.run_op(eng, spark, op, tracer)
                except Exception as exc:  # an op that raises counts as failed
                    res = Result(op)
                    errors[i] = f"{type(exc).__name__}: {str(exc)[:300]}"
            lat.append(time.perf_counter() - t)
            tracer.end_op(sc)
            results.append(res)
            i += 1
            elapsed = time.perf_counter() - t_begin
            if args.ops is not None:
                if i >= args.ops:
                    break
            elif elapsed >= args.seconds and i % wl.deck_len == 0 and i >= wl.min_decks * wl.deck_len:
                break
        wall = time.perf_counter() - t_begin
        info["floor_end_ms"] = tr.floor_ms(spark)
        info["loadavg_end"] = tr.loadavg_1m()
        info["peak_rss_mb"] = tr.peak_rss_mb(spark)
        mem_mb, info["retained_mb_parts"] = tr.retained_mb(spark)
        n_rdds, cached_mb = tr.storage(spark)

        # -- checks, outside every timed region ----------------------------
        if args.corrupt:
            wl.corrupt(results)
        checks = verify.Checks()
        failed = wl.verify(eng, spark, results, checks) | set(errors)
        info["checks"] = checks.checked
        info["check_failures"] = checks.messages
        info["op_errors"] = list(errors.values())[:5]

        attempted = len(results)
        lat_ms = [x * 1000.0 for x in lat]
        p50, p90 = np.percentile(lat_ms, [50, 90])  # linear interpolation
        info["ops"] = attempted
        info["wall_s"] = wall
        info["p90_ms"] = float(p90)
        info["p90_samples_beyond"] = sum(1 for x in lat_ms if x > p90)
        n = wl.deck_len
        info["deck_p50_ms"] = [
            round(float(np.percentile(lat_ms[j : j + n], 50)), 2) for j in range(0, len(lat_ms) - n + 1, n)
        ]
        by_kind: dict[str, list[float]] = {}
        for r, x in zip(results, lat_ms):
            by_kind.setdefault(r.op.kind, []).append(round(x, 1))
        info["lat_ms_by_kind"] = by_kind
        info["storage"] = {"persistent_rdds": n_rdds, "cached_mb": cached_mb}
        rows = sum(r.rows_out for r in results)
        if args.trace:
            metrics = layer_metrics(tracer, wl, setup, info, results, wall, n_rdds, cached_mb)
            tracer.write(os.path.join(OUT_DIR, "traces", f"{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup["total_s"], "s"),
                "ops_per_s": (attempted / wall, "1/s"),
                "p50_ms": (float(p50), "ms"),
                "rows_per_s": (rows / wall, "1/s"),
                "retained_mb": (mem_mb, "MB"),
            }
        result = {
            "correct": not failed and checks.checked > 0,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return result, info
    finally:
        try:
            if spark is not None:
                stop_engine(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def stop_engine(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin closes)
    and wait for it, so no process outlives the run."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(tracer, wl, setup, info, results, wall, n_rdds, cached_mb) -> dict:
    """Per-layer metrics from the spans and job counters of the traced run."""
    from workloads import Ingest

    by_name: dict[str, list] = {}
    for s in tracer.spans:
        if s.op >= 0:
            by_name.setdefault(s.name, []).append(s)

    def med_ms(name: str) -> float:
        spans = by_name.get(name, [])
        return statistics.median((s.end - s.start) * 1000.0 for s in spans) if spans else 0.0

    n_ops = max(1, len(results))
    totals: dict[str, float] = {}
    build_jobs = 0
    for tags in tracer.op_jobs.values():
        for tag, j in tags.items():
            for k, v in j.__dict__.items():
                totals[k] = totals.get(k, 0.0) + v
            if tag == "build":
                build_jobs += j.jobs
    plan_calls = getattr(getattr(wl, "plans", None), "calls", 0)
    plan_hits = getattr(getattr(wl, "plans", None), "hits", 0)
    decode = by_name.get("sources.decode", [])
    decode_cells = sum(s.attrs.get("cells", 0) for s in decode)
    decode_s = sum(s.end - s.start for s in decode)
    loads = [r.rows for r in results if isinstance(wl, Ingest) and r.rows and r.rows["kind"] != "compact"]
    final_bytes = results[-1].rows["bytes"] if isinstance(wl, Ingest) and results and results[-1].rows else 0
    final_rows = results[-1].rows["expected_rows"] if isinstance(wl, Ingest) and results and results[-1].rows else 0
    compacts = by_name.get("etl.compact", [])
    m = {
        "session.start_s": (setup["session_s"], "s"),
        "setup.warmup_s": (setup["warm_s"], "s"),
        "catalog.view_build_ms": (setup["view_ms"], "ms"),
        "plans.build_ms": (med_ms("plans.build"), "ms"),
        "plans.exec_ms": (med_ms("plans.exec"), "ms"),
        "plans.cache_hit_ratio": (plan_hits / plan_calls if plan_calls else 0.0, "ratio"),
        "plans.build_jobs_per_op": (build_jobs / plan_calls if plan_calls else 0.0, "count"),
        "spark.jobs_per_op": (totals.get("jobs", 0.0) / n_ops, "count"),
        "spark.stages_per_op": (totals.get("stages", 0.0) / n_ops, "count"),
        "spark.tasks_per_op": (totals.get("tasks", 0.0) / n_ops, "count"),
        "spark.executor_run_ms_per_op": (totals.get("run_ms", 0.0) / n_ops, "ms"),
        "spark.executor_cpu_ms_per_op": (totals.get("cpu_ms", 0.0) / n_ops, "ms"),
        "spark.shuffle_read_mb_per_op": (totals.get("shuffle_read_mb", 0.0) / n_ops, "MB"),
        "spark.shuffle_write_mb_per_op": (totals.get("shuffle_write_mb", 0.0) / n_ops, "MB"),
        "spark.spill_mb": (totals.get("spill_mb", 0.0), "MB"),
        "spark.floor_start_ms": (info["floor_start_ms"], "ms"),
        "spark.floor_end_ms": (info["floor_end_ms"], "ms"),
        "host.loadavg_1m_start": (info["loadavg_start"], "load"),
        "host.loadavg_1m_end": (info["loadavg_end"], "load"),
        "storage.persistent_rdds": (n_rdds, "count"),
        "storage.cached_mb": (cached_mb, "MB"),
        "rag.answer_intent_ms": (med_ms("rag.answer.intent"), "ms"),
        "rag.answer_semantic_ms": (med_ms("rag.answer.semantic"), "ms"),
        "ml.forecast_ms": (med_ms("ml.forecast"), "ms"),
        "viz.chart_ms": (med_ms("viz.chart"), "ms"),
        "sources.decode_ms": (med_ms("sources.decode"), "ms"),
        "sources.cells_per_s": (decode_cells / decode_s if decode_s else 0.0, "1/s"),
        "etl.write_append_ms": (med_ms("etl.write.append"), "ms"),
        "etl.write_merge_ms": (med_ms("etl.write.merge"), "ms"),
        "etl.bytes_per_row": (final_bytes / final_rows if final_rows else 0.0, "B"),
        "etl.files_written": (sum(x["files_written"] for x in loads), "count"),
        "etl.read_ms": (med_ms("etl.read"), "ms"),
        "etl.compact_ms": (med_ms("etl.compact"), "ms"),
        "etl.compact_mb_rewritten": (
            sum(s.attrs.get("mb_rewritten", 0.0) for s in compacts),
            "MB",
        ),
        "trace.overhead_pct": (100.0 * tracer.overhead_s / wall, "%"),
    }
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, ENGINE))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(
            f"perfbench: the engine package {ENGINE!r} is not under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    nproc = len(os.sched_getaffinity(0))
    result, info = run(args, nproc)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
