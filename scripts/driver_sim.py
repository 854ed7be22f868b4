"""Simulate the driver's correctness harness with a PLAIN SparkSession.

Round 1 failed 0/50 because the driver's own session lacks the repo's conf
defaults; this script reproduces that harness faithfully: a bare
`SparkSession.builder.getOrCreate()` (no repo confs), every `queries()`
entry executed at sf0.01, oracles run through DuckDB on the same parquet,
values compared after sorting columns by name (the driver's hash scheme).

Usage: python scripts/driver_sim.py [sf_dir] [--exact] [--hash] [--lint] [--first N]

--exact compares values exactly (the driver hashes values, so an rtol-level
match can still be a driver hash-fail — the round-3 q74 lesson); numeric
columns are normalised to float64 on both sides first, mirroring a
representation-insensitive value hash. --hash goes one step further and is
the driver-faithful mode (the round-4 q81 lesson): cells are RENDERED to
strings first and the strings are hashed, so a DuckDB HUGEINT window sum
printing `188.0` against Spark's BIGINT `188` fails here exactly as it
fails in the driver, even though the parsed values are equal. --lint
DESCRIBEs every oracle in DuckDB and flags HUGEINT/DECIMAL result columns
(the types whose pandas rendering diverges from Spark's BIGINT/DOUBLE) so
the class of bug is caught before a query is ever registered. --first N
checks only the first N registry entries (the driver samples the first 50).
"""

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import pandas as pd
from pyspark.sql import SparkSession


def norm(df: pd.DataFrame, exact: bool = False) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if exact:
        # Representation-insensitive numeric normalisation (Decimal vs
        # float64 vs int64 all hash by value): cast anything numeric-like
        # to float64 before the exact compare.
        for c in df.columns:
            converted = pd.to_numeric(df[c], errors="coerce")
            if df[c].notna().equals(converted.notna()):
                df[c] = converted.astype("float64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def render(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-faithful canonicalisation: sort columns by name, stringify
    every cell AS RENDERED (no numeric parsing), sort rows on the rendered
    strings. Two frames are driver-hash-equal iff these frames are equal."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        out[c] = df[c].map(lambda v: "NULL" if v is None or v != v else str(v))
    return out.sort_values(by=list(out.columns), ignore_index=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update("\x1f".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


def lint_oracles(con, oracles: dict) -> int:
    """Flag oracle result columns whose DuckDB type renders differently from
    the Spark type a correct query would produce: HUGEINT (DuckDB sum()/
    windowed sum() over BIGINT) prints `188.0` via pandas float64 where
    Spark's BIGINT prints `188`; DECIMAL renders with fixed scale. Any hit
    needs an explicit CAST in the oracle SQL."""
    n_bad = 0
    for name, sql in oracles.items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            print("LINT-ERR", name, repr(e)[:200])
            n_bad += 1
            continue
        bad = [
            (col, typ)
            for col, typ, *_ in desc
            if "HUGEINT" in typ.upper() or "DECIMAL" in typ.upper()
        ]
        if bad:
            n_bad += 1
            print("LINT", name, bad)
    return n_bad


def main() -> int:
    # Positional args = everything that isn't a flag OR a flag's value
    # (--first/--only take one), so `--only q103` never becomes sf_dir.
    value_idx = set()
    for flag in ("--first", "--only"):
        if flag in sys.argv:
            value_idx.add(sys.argv.index(flag) + 1)
    args = [
        a
        for i, a in enumerate(sys.argv)
        if i > 0 and i not in value_idx and not a.startswith("--")
    ]
    exact = "--exact" in sys.argv
    hash_mode = "--hash" in sys.argv
    lint = "--lint" in sys.argv
    first_n = None
    if "--first" in sys.argv:
        first_n = int(sys.argv[sys.argv.index("--first") + 1])
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    # Plain session: deliberately none of the repo's conf defaults.
    # --weird swaps in a deliberately hostile configuration (local[3],
    # shuffle.partitions=7, default.parallelism=5, 1k-row Arrow batches)
    # for the parallelism/config-invariance sweep: results must be
    # identical under any layout, batch shape, and bucket count.
    b = SparkSession.builder.master("local[8]").appName("driver-sim")
    if "--weird" in sys.argv:
        b = (
            SparkSession.builder.master("local[3]")
            .appName("driver-sim-weird")
            .config("spark.sql.shuffle.partitions", "7")
            .config("spark.default.parallelism", "5")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        )
    spark = b.getOrCreate()
    if "--autotune" in sys.argv:
        # The bench-time conf (input-sized shuffle partitions, AQE off at
        # interactive scale): the sweep must be green under it too.
        from eurostat_energy_etl_pipeline_spark.session import autotune_for_input

        print("autotune:", autotune_for_input(spark, sf_dir))
    import __spark_entry__ as m

    con = duckdb.connect()
    from eurostat_energy_etl_pipeline_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries, oracles = m.queries(), m.oracle_sql()
    if lint:
        n_bad = lint_oracles(con, oracles)
        print(json.dumps({"lint_flagged": n_bad, "oracles": len(oracles)}))
        spark.stop()
        return 0 if n_bad == 0 else 1
    if first_n is not None:
        queries = dict(list(queries.items())[:first_n])
    if "--only" in sys.argv:
        wanted = sys.argv[sys.argv.index("--only") + 1].split(",")
        queries = {k: v for k, v in queries.items() if k in wanted}
    from eurostat_energy_etl_pipeline_spark import plans as plans_mod

    results, n_match, n_rows_only, n_fail = {}, 0, 0, 0
    for name, fn in queries.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
            # one-shot harness: evict the memoized plan, which releases
            # its pins and lets its executed broadcasts / checkpoint RDDs
            # be GC'd — retaining all 200+ plans overflowed the 1g
            # plain-session heap at sf0.1 (r12).
            plans_mod.drop_plan(name)
            sql = oracles.get(name)
            if sql is None:
                results[name] = {"rows": len(sdf), "oracle": None, "ok": True}
                n_rows_only += 1
                continue
            odf = con.execute(sql).df()
            if hash_mode:
                s, o = render(sdf), render(odf)
            else:
                s, o = norm(sdf, exact), norm(odf, exact)
            rows_ok = len(s) == len(o)
            cols_ok = list(s.columns) == list(o.columns)
            vals_ok = False
            if rows_ok and cols_ok:
                try:
                    if hash_mode:
                        hs, ho = value_hash(s), value_hash(o)
                        if hs != ho:
                            diff = s.compare(o) if s.shape == o.shape else None
                            raise AssertionError(
                                f"hash {hs[:12]} != {ho[:12]}"
                                + (
                                    f"; first diffs: {diff.head(3).to_dict()}"
                                    if diff is not None and len(diff)
                                    else ""
                                )
                            )
                    elif exact:
                        pd.testing.assert_frame_equal(
                            s, o, check_dtype=False, check_exact=True
                        )
                    else:
                        pd.testing.assert_frame_equal(
                            s, o, check_dtype=False, check_exact=False, rtol=1e-8, atol=1e-10
                        )
                    vals_ok = True
                except AssertionError as e:
                    results[name] = {"diff": str(e).splitlines()[-1]}
            ok = rows_ok and cols_ok and vals_ok
            results[name] = {
                **results.get(name, {}),
                "rows": len(s),
                "oracle_rows": len(o),
                "rows_match": rows_ok,
                "cols_match": cols_ok,
                "vals_match": vals_ok,
                "ok": ok,
            }
            n_match += ok
            n_fail += not ok
        except Exception as e:
            results[name] = {"err": repr(e)[:300], "ok": False}
            n_fail += 1
    print(json.dumps({"match": n_match, "rows_only": n_rows_only, "fail": n_fail}))
    for name, r in results.items():
        if not r.get("ok"):
            print("FAIL", name, json.dumps(r)[:500])
    spark.stop()
    return 0 if n_fail == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
