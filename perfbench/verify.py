"""Output checks for the benchmark, run outside every timed region.

Query results are compared the way the project's correctness protocol
compares them: both sides are rendered cell by cell to strings, columns are
sorted by name and rows by their rendered form, and the result is hashed.
The reference side is the query's DuckDB oracle over the same parquet
inputs.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _cell(v) -> str:
    if v is None:
        return "NULL"
    try:
        if v != v:  # NaN
            return "NULL"
    except (TypeError, ValueError):  # arrays and other non-scalars
        pass
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-independent hash of a result frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update((r + "\x1e").encode())
    return h.hexdigest()


class Oracle:
    """DuckDB over the run's parquet inputs."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


class Checks:
    """Counts checks and keeps the first few mismatch messages."""

    def __init__(self) -> None:
        self.checked = 0
        self.failed = 0
        self.messages: list[str] = []

    def expect(self, ok: bool, what: str) -> bool:
        self.checked += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(what)
        return ok


def check_query(checks: Checks, oracle: Oracle | None, name: str, spark_pdf: pd.DataFrame,
                sql: str | None) -> bool:
    """Hash-compare one query result against its oracle; without an oracle
    the result is checked by row count only (it must not be empty)."""
    if sql is None or oracle is None:
        return checks.expect(len(spark_pdf) > 0, f"{name}: empty result (rows-only check)")
    want = oracle.frame(sql)
    ok = len(want) == len(spark_pdf) and frame_hash(want) == frame_hash(spark_pdf)
    return checks.expect(
        ok, f"{name}: hash mismatch (spark {len(spark_pdf)} rows, oracle {len(want)} rows)"
    )


def is_png(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            head = f.read(8)
    except OSError:
        return False
    return head == b"\x89PNG\r\n\x1a\n"
