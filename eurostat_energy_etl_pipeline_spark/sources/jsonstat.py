"""Eurostat JSON-stat dense-cube source adapter (S1-S5).

The reference decodes the cube with a per-cell Python loop on the driver
(its etl/main.py:84-125). Here the *header* (dimension labels,
sizes — a few KB) is parsed driver-side, while the O(cells) work — flat-index
unraveling, label resolution, allow-list filtering — is a Spark plan over the
(flat_index, value) pairs:

- cell source: the pairs leave Python once, as one Arrow table, and reach
  the plan as an RDD of JVM rows, one slice per core (`_cell_source`): no
  Python worker reads them, and the unravel runs in executor tasks, not
  on the driver;
- unravel: integer div/mod per dimension (pure arithmetic, codegen);
- label resolution (S4): the header's position -> code and position ->
  label tables (label fallback included) are resolved on the driver into
  one array literal each, looked up by position with `get` — O(1), no
  join, no per-entry literal;
- indicator allow-list (P8/J2): `isin` semi-join semantics.

The whole decode is one `where` + `select`, so building the plan costs a
few py4j calls per dimension, not one per category.

The HTTP fetch itself (S1) stays driver-side by design: the payload is tiny
and the decode is where the data-parallel work is. `fetch_jsonstat` is the
(requests-based) integration point; `decode_jsonstat` is pure and testable
against the frozen fixture (FIXTURES.md §3.1).
"""

from __future__ import annotations

import json
import math
from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

REQUIRED_KEYS = ("dimension", "value", "size")

# Reference indicator allow-list (/root/reference/etl/main.py:53-64,111-113)
DEFAULT_INDICATORS = ("GEP", "FC_E", "FC_IND_E", "FC_TRA_E", "FC_OTH_CP_E", "FC_OTH_HH_E")

OBSERVATION_COLUMNS = (
    "dataset_code",
    "country_code",
    "country_name",
    "indicator_code",
    "indicator_label",
    "unit_code",
    "unit_label",
    "time",
    "value",
)


def validate(payload: dict[str, Any]) -> bool:
    """S2: response-shape guard (/root/reference/etl/main.py:79-81)."""
    return all(k in payload for k in REQUIRED_KEYS)


def find_indicator_dim(
    payload: dict[str, Any], indicators=DEFAULT_INDICATORS
) -> str | None:
    """S5: detect which dimension carries the indicator codes
    (/root/reference/etl/main.py:67-72)."""
    for dim in payload["id"]:
        index = payload["dimension"][dim]["category"]["index"]
        if any(code in index for code in indicators):
            return dim
    return None


def fetch_jsonstat(url: str) -> dict[str, Any]:
    """S1: driver-side HTTP GET (payload is KB-scale; the decode is the
    distributed part)."""
    import requests  # local import: optional dependency

    return requests.get(url, timeout=60).json()


def _codes_by_position(payload: dict[str, Any], dim: str) -> dict[int, str]:
    index = payload["dimension"][dim]["category"]["index"]
    if isinstance(index, list):  # JSON-stat also allows list form
        return dict(enumerate(index))
    return {pos: code for code, pos in index.items()}


def _position_arrays(payload: dict[str, Any], dim: str, size: int):
    """Position -> code and position -> label for one dimension, as two
    array literals. Labels fall back to the code (etl/main.py:118); a
    position absent from the index resolves to null. Each array is one
    JSON string through `from_json`, which Catalyst folds to a literal:
    one py4j call per array instead of one `lit` per entry, with quotes,
    backslashes, control characters and nulls escaped by `json`."""
    by_pos = _codes_by_position(payload, dim)
    labels = payload["dimension"][dim]["category"].get("label") or {}
    codes = [by_pos.get(pos) for pos in range(size)]
    names = [code if labels.get(code) is None else labels[code] for code in codes]
    as_array = ArrayType(StringType())
    return (
        F.from_json(F.lit(json.dumps(codes)), as_array),
        F.from_json(F.lit(json.dumps(names)), as_array),
    )


def _cell_source(spark: SparkSession, values: dict[str, Any]) -> DataFrame:
    """The cube's (flat_idx, value) cells as a DataFrame over an RDD of JVM
    rows, one slice per core. The pairs cross to the JVM once, as an
    Arrow table of one row per slice holding that slice's cells as two
    arrays; the plan explodes the arrays back into cells (`inline`).

    A plain `createDataFrame` of that table is a `LocalRelation`, which
    the optimizer's ConvertToLocalRelation would fold a decode of flat
    cells into, running the unravel on the driver. Re-wrapping the
    relation's `javaRDD` keeps it a scan that executor tasks run, with
    the explode, filter and projection codegen'd above it. Packing the
    cells into one row per slice keeps the relation a few rows long and
    cheap to plan: with one row per cell, building this source took
    130-180 ms per 44k-cell cube on 4 cores, packed 63-84 ms."""
    slices = spark.sparkContext.defaultParallelism
    offsets = pa.array(
        [i * len(values) // slices for i in range(slices + 1)], pa.int32()
    )
    flat_idx = pa.array([int(k) for k in values], pa.int64())
    value = pa.array([float(v) for v in values.values()], pa.float64())
    local = spark.createDataFrame(
        pa.table(
            {
                "flat_idx": pa.ListArray.from_arrays(offsets, flat_idx),
                "value": pa.ListArray.from_arrays(offsets, value),
            }
        )
    )
    jdf = spark._jsparkSession.createDataFrame(
        local._jdf.javaRDD(), local._jdf.schema()
    )
    return DataFrame(jdf, spark).select(F.inline(F.arrays_zip("flat_idx", "value")))


def decode_jsonstat(
    spark: SparkSession,
    payload: dict[str, Any],
    dataset_code: str,
    indicators=DEFAULT_INDICATORS,
) -> DataFrame:
    """Decode a JSON-stat dense cube into observation rows.

    One `where` + `select` over the (flat_idx, value) cells of
    `_cell_source`: each used dimension's position is unravelled with
    integer arithmetic and looked up in its code and label arrays with
    `get` (O(1), null out of range), and the indicator allow-list filters
    the looked-up code. The cells are JVM rows, so the scan, filter and
    projection run as codegen'd executor tasks with no Python worker, and
    nothing is persisted or written: the returned DataFrame owns no
    resource. Returns an empty DataFrame with the declared schema when the
    payload fails validation or lacks an indicator, geo or time dimension
    (S2's empty-result contract)."""
    if not validate(payload):
        return spark.createDataFrame([], _out_schema())
    dims: list[str] = payload["id"]
    sizes: list[int] = payload["size"]
    ind_dim = find_indicator_dim(payload, indicators)
    if ind_dim is None or "geo" not in dims or "time" not in dims:
        return spark.createDataFrame([], _out_schema())

    cells = _cell_source(spark, payload["value"])

    def position(dim: str) -> Column:
        # Row-major unravel, last dim fastest (reference etl/main.py:97-102):
        # coord_d = (flat_idx // prod(sizes[d+1:])) % sizes[d]. Integer `div`,
        # matching the pure-Python kernel's `//` exactly — double division
        # loses exactness for flat_idx above 2^53.
        d = dims.index(dim)
        return F.expr(f"flat_idx div {math.prod(sizes[d + 1 :])}") % sizes[d]

    def resolve(dim: str) -> tuple[Column, Column]:
        pos = position(dim)
        codes, names = _position_arrays(payload, dim, sizes[dims.index(dim)])
        return F.get(codes, pos), F.get(names, pos)

    geo_code, geo_label = resolve("geo")
    ind_code, ind_label = resolve(ind_dim)
    time_code, _ = resolve("time")
    null_s = F.lit(None).cast("string")
    unit_code, unit_label = resolve("unit") if "unit" in dims else (null_s, null_s)
    return cells.where(ind_code.isin(list(indicators))).select(  # P8 allow-list
        F.lit(dataset_code).alias("dataset_code"),
        geo_code.alias("country_code"),
        geo_label.alias("country_name"),
        ind_code.alias("indicator_code"),
        ind_label.alias("indicator_label"),
        unit_code.alias("unit_code"),
        unit_label.alias("unit_label"),
        F.to_date(time_code, "yyyy").alias("time"),  # P3
        F.col("value").cast("double").alias("value"),  # P2
    )


def _out_schema() -> StructType:
    fields = [
        StructField(c, DateType() if c == "time" else (DoubleType() if c == "value" else StringType()))
        for c in OBSERVATION_COLUMNS
    ]
    return StructType(fields)


# Frozen §3.1 golden payload (FIXTURES.md) — a 2x3x2 dense cube with a sparse
# value map, an out-of-allowlist indicator ('XXX'), and a geo ('ZZ') whose
# label is absent (exercising the label->code fallback). This is the payload
# the declared query q71 decodes under the driver's oracle gate; tests pin
# the same rows independently (tests/test_jsonstat.py).
GOLDEN_FIXTURE: dict = {
    "id": ["nrg_bal", "geo", "time"],
    "size": [2, 3, 2],
    "dimension": {
        "nrg_bal": {
            "category": {
                "index": {"GEP": 0, "XXX": 1},
                "label": {"GEP": "Gross electricity production", "XXX": "Other"},
            }
        },
        "geo": {
            "category": {
                "index": {"DE": 0, "FR": 1, "ZZ": 2},
                "label": {"DE": "Germany", "FR": "France"},
            }
        },
        "time": {
            "category": {
                "index": {"2022": 0, "2023": 1},
                "label": {"2022": "2022", "2023": "2023"},
            }
        },
    },
    "value": {
        "0": 100.5,
        "1": 101.0,
        "2": 200.0,
        "3": 201.5,
        "4": 300.0,
        "6": 999.0,
        "7": 998.0,
        "10": 42.0,
    },
}
