"""Regenerate __spark_entry__._DRIVER_CHECK_PRIORITY from the union of
CORRECTNESS_r*.json (VERDICT r5 item 4): the driver samples the FIRST 50
registry entries each round, so iteration order must put never-checked
entries first, then least-recently-checked, name as the tiebreak.

Usage: python scripts/regen_rotation.py   (rewrites __spark_entry__.py
between the ROTATION-BEGIN/ROTATION-END markers, grouped by round with
comments).
"""

from __future__ import annotations

import glob
import json
import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    last: dict[str, int] = {}
    for f in sorted(glob.glob(f"{ROOT}/CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        for k in json.load(open(f)):
            last[k] = max(last.get(k, 0), rnd)

    from eurostat_energy_etl_pipeline_spark import plans
    from eurostat_energy_etl_pipeline_spark.plans import QUERIES

    plans.load_all()
    names = set(QUERIES) | {"q35_forecast", "q36_tfidf_search", "q75_bm25_search"}
    # VERDICT r11 item 1: q80/q88's r10 oracle conversions were never
    # driver-hash-certified (last visited r09) — force them to the head,
    # right after never-checked entries, until a CORRECTNESS_r*.json shows
    # them checked in a round >= 12 (then this pin becomes a no-op).
    force_head = [
        n
        for n in ("q80_ivf_sq8_ann", "q88_knn_join_lsh")
        if n in names and last.get(n, 0) < 12
    ]
    order = sorted(
        names,
        key=lambda n: (
            last.get(n, 0) != 0,          # never-checked first
            n not in force_head,          # then the certification pins
            last.get(n, 0),               # then least-recently-checked
            n,
        ),
    )

    lines = []
    cur = None
    for n in order:
        r = last.get(n, 0)
        if n in force_head:
            lines.append("    # pinned: oracle conversion never driver-certified"
                         f" (last visit r{r:02d})")
        elif r != cur:
            cur = r
            lines.append(
                "    # never driver-checked (new this round)"
                if r == 0
                else f"    # last driver-checked in round {r}"
            )
        lines.append(f'    "{n}",')
    block = "\n".join(lines)

    path = f"{ROOT}/__spark_entry__.py"
    src = open(path).read()
    new = re.sub(
        r"(_DRIVER_CHECK_PRIORITY = \[\n).*?(\n\])",
        lambda m: m.group(1) + block + m.group(2),
        src,
        flags=re.S,
    )
    open(path, "w").write(new)
    print(f"rotation regenerated: {len(order)} entries, "
          f"head = {order[:3]} ... tail round {last.get(order[-1], 0)}")


if __name__ == "__main__":
    main()
