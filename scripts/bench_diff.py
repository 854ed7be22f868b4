"""Per-query bench diff vs a prior bench_full.json (the BENCHNOTES
discipline: any >1.5x move between committed rounds must be named and
justified). Usage:

    python scripts/bench_diff.py <old_bench_full.json> [new_bench_full.json]

Old file can be piped from git: `git show f2ce6bb:bench_full.json > /tmp/old.json`.
Prints moves sorted by factor, then set-level composition (shared vs new
queries), using the per-query best-of-N sequential timings.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    old = json.load(open(sys.argv[1]))
    new_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "bench_full.json")
    new = json.load(open(new_path))
    oq, nq = old["queries"], new["queries"]
    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    moves = []
    for name in shared:
        a, b = oq[name], nq[name]
        if a > 0:
            moves.append((b / a, a, b, name))
    moves.sort(reverse=True)
    print(f"old: sf={old['sf']} n={old['n_queries']} ratio_x_gt={old.get('ratio_x_gt')}")
    print(f"new: sf={new['sf']} n={new['n_queries']} ratio_x_gt={new.get('ratio_x_gt')}")
    print(f"shared={len(shared)} added={len(added)}")
    print("\n>1.5x slower (shared):")
    for f, a, b, name in moves:
        if f > 1.5:
            print(f"  {name}: {a:.3f} -> {b:.3f}  ({f:.2f}x)")
    print("\n>1.5x faster (shared):")
    for f, a, b, name in sorted(moves):
        if f < 1 / 1.5:
            print(f"  {name}: {a:.3f} -> {b:.3f}  ({f:.2f}x)")
    print("\nnew queries by cost:")
    for name in sorted(added, key=lambda n: -nq[n]):
        print(f"  {name}: {nq[name]:.3f}")
    print(f"\nshared wall: {sum(oq[n] for n in shared):.2f} -> "
          f"{sum(nq[n] for n in shared):.2f}; "
          f"added wall: {sum(nq[n] for n in added):.2f}")


if __name__ == "__main__":
    main()
