"""Seeded input generators for the benchmark.

Everything the engine sees is made here from the run's ``--seed``:

- ``write_tables``: the ten warehouse tables the query library reads
  (``catalog.TABLES``), one parquet file each, with the schemas and value
  domains of the project's synthetic star schema (FIXTURES.md §1). Row
  counts scale with ``sf`` exactly as the fixture sets do.
- ``make_cube``: one Eurostat JSON-stat cube over indicator x unit x geo x
  time, as ``sources.jsonstat.decode_jsonstat`` accepts it.

The same (sf, seed) always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10

_EPOCH_1995 = np.datetime64("1995-01-01", "ms")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the fixture sets' sizes)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    word_idx = rng.integers(0, len(VOCAB), int(lengths.sum()))
    is_dup = rng.random(n) < 0.05
    pos = 0
    for i in range(n):
        words = [VOCAB[j] for j in word_idx[pos : pos + lengths[i]]]
        pos += lengths[i]
        if is_dup[i] and i > 0:
            # near-duplicate of an earlier document, as the fixture carries
            src = texts[int(rng.integers(0, i))].split(" ")
            words = [w for w in src if w != "dup"][: max(10, len(src) - 2)] + ["dup"]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0, 1, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centroids[labels] + rng.normal(0, 1.5, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten warehouse tables at ``sf`` as Arrow tables."""
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": _pick(rng, part_names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    days = rng.integers(0, 2404, no).astype("timedelta64[D]")
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": pa.array(_EPOCH_1995 + days, pa.timestamp("ms")),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    ship = (rng.integers(1, 2500, nl)).astype("timedelta64[D]")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
            "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
            "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": pa.array(_EPOCH_1995 + ship, pa.timestamp("ms")),
        }
    )
    ne = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne)).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024 + offs, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), ne, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the tables as ``{out_dir}/{table}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = tbl.num_rows
    return sizes


# ---------------------------------------------------------------------------
# JSON-stat cubes for the ingest workload
# ---------------------------------------------------------------------------

CUBE_INDICATORS = ("GEP", "FC_E", "FC_IND_E", "FC_TRA_E", "FC_OTH_CP_E", "FC_OTH_HH_E")
CUBE_UNITS = ("GWH", "KTOE", "TJ", "THS_T")


def cube_geos(n: int) -> list[str]:
    return [f"G{i:04d}" for i in range(n)]


def make_cube(
    indicators: list[str],
    units: list[str],
    geos: list[str],
    years: list[int],
    filled: np.ndarray,
    values: np.ndarray,
) -> dict:
    """A dense JSON-stat 2.0 cube (dims in ``id`` order nrg_bal, unit, geo,
    time; last dim fastest). ``filled`` is a boolean mask over the flat
    index and ``values`` the cell values; absent cells are left out of the
    sparse ``value`` map, as Eurostat does."""

    def dim(codes, labelled=True):
        cat = {"index": {c: i for i, c in enumerate(codes)}}
        if labelled:
            cat["label"] = {c: f"{c} label" for c in codes}
        return {"category": cat}

    flat = np.flatnonzero(filled)
    return {
        "version": "2.0",
        "class": "dataset",
        "id": ["nrg_bal", "unit", "geo", "time"],
        "size": [len(indicators), len(units), len(geos), len(years)],
        "dimension": {
            "nrg_bal": dim(indicators),
            "unit": dim(units),
            "geo": dim(geos),
            "time": dim([str(y) for y in years], labelled=False),
        },
        "value": {str(int(i)): float(values[i]) for i in flat},
    }
