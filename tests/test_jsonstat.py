"""Golden-fixture tests for the JSON-stat source adapter (FIXTURES.md §3.1,
SURVEY.md §5.2.2) — every decode path: sparse value map, label fallback,
allow-list filter, invalid payload."""

import pytest

from eurostat_energy_etl_pipeline_spark.sources.jsonstat import (
    decode_jsonstat,
    find_indicator_dim,
    validate,
)

FIXTURE = {
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

EXPECTED = [
    ("GEP", "DE", "Germany", "2022-01-01", 100.5),
    ("GEP", "DE", "Germany", "2023-01-01", 101.0),
    ("GEP", "FR", "France", "2022-01-01", 200.0),
    ("GEP", "FR", "France", "2023-01-01", 201.5),
    ("GEP", "ZZ", "ZZ", "2022-01-01", 300.0),  # label fallback to code
]


@pytest.fixture(scope="module")
def decoded(spark):
    return decode_jsonstat(spark, FIXTURE, "nrg_cb_e", indicators=["GEP"])


def test_validate():
    assert validate(FIXTURE)
    assert not validate({"dimension": {}, "size": []})  # missing 'value'


def test_indicator_dim_detection():
    assert find_indicator_dim(FIXTURE, ["GEP"]) == "nrg_bal"
    assert find_indicator_dim(FIXTURE, ["NOPE"]) is None


def test_decode_rows(decoded):
    rows = sorted(
        (r["indicator_code"], r["country_code"], r["country_name"], str(r["time"]), r["value"])
        for r in decoded.collect()
    )
    assert rows == EXPECTED


def test_decode_filters_outside_allowlist(decoded):
    # flat indexes 6,7,10 decode to nrg_bal='XXX' and must be filtered (P8)
    assert decoded.count() == 5


def test_unit_columns_null_when_absent(decoded):
    row = decoded.first()
    assert row["unit_code"] is None and row["unit_label"] is None


def test_invalid_payload_yields_empty_with_schema(spark):
    df = decode_jsonstat(spark, {"id": [], "size": []}, "x")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields][:3] == [
        "dataset_code",
        "country_code",
        "country_name",
    ]


def test_dataset_code_stamped(decoded):
    assert {r["dataset_code"] for r in decoded.collect()} == {"nrg_cb_e"}


def test_datasource_format_matches_decode(spark, tmp_path):
    """spark.read.format('jsonstat') over a directory of documents produces
    the same rows as the Catalyst decode path, one partition per file."""
    from eurostat_energy_etl_pipeline_spark.sources.jsonstat import decode_jsonstat
    from eurostat_energy_etl_pipeline_spark.sources.jsonstat_datasource import (
        register_jsonstat_source,
    )
    import json

    d = tmp_path / "responses"
    d.mkdir()
    (d / "nrg_cb_e.json").write_text(json.dumps(FIXTURE))
    (d / "ten00124.json").write_text(json.dumps(FIXTURE))
    register_jsonstat_source(spark)

    got = spark.read.format("jsonstat").load(str(d))
    assert got.rdd.getNumPartitions() == 2  # one per document
    got_rows = sorted(
        got.collect(), key=lambda r: (r.dataset_code, r.country_code, r.time)
    )
    exp_one = decode_jsonstat(spark, FIXTURE, dataset_code="nrg_cb_e").collect()
    assert len(got_rows) == 2 * len(exp_one)
    exp_sorted = sorted(exp_one, key=lambda r: (r.country_code, r.time))
    nrg = [r for r in got_rows if r.dataset_code == "nrg_cb_e"]
    for g, e in zip(nrg, exp_sorted):
        assert g.country_code == e.country_code
        assert g.indicator_code == e.indicator_code
        assert g.time == e.time
        assert g.value == e.value
        assert g.country_name == e.country_name


# 4-dimension cube for the differential test: a `unit` dimension with a
# list-form index, labels carrying quotes, backslashes, commas, a control
# character, braces and non-ASCII text, a geo without a label, an indicator
# outside the default allow-list and a sparse value map.
EDGE_CUBE = {
    "id": ["nrg_bal", "unit", "geo", "time"],
    "size": [3, 2, 4, 3],
    "dimension": {
        "nrg_bal": {
            "category": {
                "index": {"GEP": 0, "FC_E": 1, "XXX": 2},
                "label": {
                    "GEP": "Gross 'electricity' production",
                    "FC_E": 'Final "consumption", energy',
                    "XXX": "Other",
                },
            }
        },
        "unit": {
            "category": {
                "index": ["GWH", "KTOE"],
                "label": {
                    "GWH": "Gigawatt\\hour",
                    "KTOE": "Thousand {tonnes}\x1fof oil equivalent",
                },
            }
        },
        "geo": {
            "category": {
                "index": {"DE": 0, "FR": 1, "ZZ": 2, "ÅL": 3},
                "label": {
                    "DE": "Deutschland — Größe",
                    "FR": 'Île-de-France, "FR"',
                    "ÅL": "Åland 😀 {}",
                },
            }
        },
        "time": {
            "category": {
                "index": {"2021": 0, "2022": 1, "2023": 2},
                "label": {"2021": "2021", "2022": "2022", "2023": "2023"},
            }
        },
    },
    "value": {str(i): i * 1.5 for i in range(72) if i % 5 != 3},
}


def test_decode_matches_python_kernel_on_edge_labels(spark):
    """The Catalyst decode and the pure-Python kernel agree row for row on
    EDGE_CUBE, and the decode plans without deprecated Column lookups."""
    import warnings

    from eurostat_energy_etl_pipeline_spark.sources.jsonstat_datasource import (
        decode_document,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        df = decode_jsonstat(spark, EDGE_CUBE, "nrg_cb_e")
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(decode_document(EDGE_CUBE, "nrg_cb_e"))
    assert got == want
    # 2 allowed indicators x 2 units x 4 geos x 3 years, minus the holes
    assert len(got) == sum(1 for i in range(48) if i % 5 != 3)
    names = {r[2] for r in got} | {r[4] for r in got} | {r[6] for r in got}
    assert {"ZZ", "Thousand {tonnes}\x1fof oil equivalent", "Åland 😀 {}"} <= names


def _seeded_cube(seed: int, cells: int) -> dict:
    """A sparse 4-dimension cube of `cells` values at seeded positions:
    4 indicators (one outside the default allow-list) x 2 units (list-form
    index) x 500 geos (every third one unlabelled) x 20 years."""
    import random

    rng = random.Random(seed)
    inds, units = ["GEP", "FC_E", "FC_IND_E", "XXX"], ["GWH", "KTOE"]
    geos = [f"G{i:03d}" for i in range(500)]
    years = [str(1990 + i) for i in range(20)]
    flat = sorted(rng.sample(range(len(inds) * len(units) * len(geos) * len(years)), cells))

    def dim(codes, labelled):
        return {
            "category": {
                "index": {c: i for i, c in enumerate(codes)},
                "label": {c: f"{c} label" for i, c in enumerate(codes) if labelled(i)},
            }
        }

    dims = {
        "nrg_bal": dim(inds, lambda i: True),
        "unit": {"category": {"index": units, "label": {u: u.lower() for u in units}}},
        "geo": dim(geos, lambda i: i % 3),
        "time": dim(years, lambda i: True),
    }
    return {
        "id": list(dims),
        "size": [len(inds), len(units), len(geos), len(years)],
        "dimension": dims,
        "value": {str(i): round(rng.uniform(0.0, 10_000.0), 3) for i in flat},
    }


def test_cells_decode_in_executor_tasks_without_python(spark):
    """The cells reach the plan as JVM rows: no LocalRelation for the
    optimizer to fold the unravel into, no Python worker in the lineage,
    one scan task per core. A 64k-cell cube (above the old source's 50k
    one-slice bound) decodes to exactly the pure-Python kernel's rows."""
    from eurostat_energy_etl_pipeline_spark.sources.jsonstat_datasource import (
        decode_document,
    )

    cube = _seeded_cube(seed=64, cells=64_000)
    df = decode_jsonstat(spark, cube, "nrg_cb_e")
    qe = df._jdf.queryExecution()
    assert "LocalRelation" not in qe.optimizedPlan().toString()
    physical = qe.executedPlan().toString()
    assert "LocalTableScan" not in physical and "Python" not in physical, physical
    rdd = qe.toRdd()
    assert "PythonRDD" not in rdd.toDebugString()
    assert rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(decode_document(cube, "nrg_cb_e"))
    assert len(want) == sum(
        1 for k in cube["value"] if int(k) < 3 * 2 * 500 * 20
    )
    assert got == want


def test_datasource_invalid_payload_yields_empty(spark, tmp_path):
    from eurostat_energy_etl_pipeline_spark.sources.jsonstat_datasource import (
        register_jsonstat_source,
    )
    import json

    d = tmp_path / "bad"
    d.mkdir()
    (d / "broken.json").write_text(json.dumps({"not": "jsonstat"}))
    register_jsonstat_source(spark)
    df = spark.read.format("jsonstat").load(str(d))
    assert df.count() == 0
    assert len(df.schema.fields) == 9
