"""Lifetime mechanisms, one per scope: plan records (the plan cache entry
owns its `plans.pin` handles and `plans.at_rest` checkpoint ids),
session-lifetime memos (`catalog.session_memo`) and operation-lifetime
staging (`plans.staged`)."""

import os
import re
import subprocess
import sys
import threading
import time
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "eurostat_energy_etl_pipeline_spark"


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_at_rest_registers_exactly_its_own_checkpoint(spark, monkeypatch):
    """A checkpoint made by another thread while `at_rest` runs must not
    be attributed to the query being built."""
    from eurostat_energy_etl_pipeline_spark import plans as P

    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.localCheckpoint
    foreign = []

    def racing(self, *args, **kwargs):
        # a concurrent build on another thread checkpoints first
        foreign.append(real(spark.range(3), eager=True))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", racing)
    name = "__at_rest_race_probe__"
    rec = P._Plan()
    with P._LOCK:
        P._PLAN_CACHE[(spark.sparkContext.applicationId, "/probe", name)] = rec
    P._BUILDING.stack.append(rec)
    try:
        out = P.at_rest(spark.range(10))
    finally:
        P._BUILDING.stack.pop()
    try:
        own = out._jdf.queryExecution().logical().rdd().id()
        assert len(foreign) == 1
        assert P.checkpoint_ids(name) == frozenset({own})
        assert name in P.checkpoint_users()
    finally:
        P.drop_plan(name)
        for df in (out, *foreign):
            df._jdf.queryExecution().logical().rdd().unpersist(True)


def test_plan_cache_lru_bounded_and_droppable(spark, sf_dir, monkeypatch):
    """The plan memo is a bounded LRU by default (one-shot sweeps get no
    reuse, so retention is pure heap cost): exceeding the cap evicts the
    oldest entry, hits refresh recency, and drop_plan removes a query's
    entries explicitly (the driver_sim one-shot contract)."""
    from eurostat_energy_etl_pipeline_spark import plans as P

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE_SIZE", "2")
    P.clear_plan_cache()
    import __spark_entry__ as m

    qs = m.queries()
    sf = sf_dir
    qs["q01_filter_project"](spark, sf)
    qs["q02_in_list"](spark, sf)
    assert len(P._PLAN_CACHE) == 2
    # hit q01 (refresh recency), then add a third: q02 must evict
    qs["q01_filter_project"](spark, sf)
    qs["q03_distinct_notnull"](spark, sf)
    names = {k[2] for k in P._PLAN_CACHE}
    assert names == {"q01_filter_project", "q03_distinct_notnull"}
    assert P.drop_plan("q01_filter_project") == 1
    assert {k[2] for k in P._PLAN_CACHE} == {"q03_distinct_notnull"}
    P.clear_plan_cache()


# pins shared subtrees and takes no at-rest checkpoint
PIN_QUERY = "q154_column_profile"


def _evict_with_two_newer_plans(qs, spark, sf_dir):
    """Under a plan-cache cap of 2, two newer plans push out every other."""
    qs["q01_filter_project"](spark, sf_dir)
    qs["q02_in_list"](spark, sf_dir)


def test_evicted_and_dropped_plans_release_their_pins(spark, sf_dir, monkeypatch):
    """A plan leaving the cache, by the LRU cap or by drop_plan, frees the
    blocks its build pinned."""
    import __spark_entry__ as m

    from eurostat_energy_etl_pipeline_spark import plans as P

    qs = m.queries()

    def blocks_of_one_run():
        before = _persistent_rdd_ids(spark)
        qs[PIN_QUERY](spark, sf_dir).write.format("noop").mode("overwrite").save()
        added = _persistent_rdd_ids(spark) - before
        assert added
        return added

    # warm run: session views the query reads exist before any snapshot
    P.clear_plan_cache()
    blocks_of_one_run()
    P.clear_plan_cache()
    P.release_pins(blocking=True)
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE_SIZE", "2")

    added = blocks_of_one_run()
    _evict_with_two_newer_plans(qs, spark, sf_dir)
    assert PIN_QUERY not in {k[2] for k in P._PLAN_CACHE}
    assert _persistent_rdd_ids(spark) & added == set()

    added = blocks_of_one_run()
    assert P.drop_plan(PIN_QUERY) == 1
    assert _persistent_rdd_ids(spark) & added == set()
    P.clear_plan_cache()


def test_rebuilds_after_eviction_hold_one_pin_set(spark, sf_dir, monkeypatch):
    """Evicting and rebuilding a plan three times leaves the pins of one
    build registered, not of every build."""
    import __spark_entry__ as m

    from eurostat_energy_etl_pipeline_spark import plans as P

    qs = m.queries()
    P.clear_plan_cache()
    qs[PIN_QUERY](spark, sf_dir)
    one_build = P.release_pins(PIN_QUERY)
    assert one_build >= 1

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE_SIZE", "2")
    P.clear_plan_cache()
    qs[PIN_QUERY](spark, sf_dir)
    for _ in range(3):
        _evict_with_two_newer_plans(qs, spark, sf_dir)
        qs[PIN_QUERY](spark, sf_dir)
    assert P.release_pins(PIN_QUERY) == one_build
    P.clear_plan_cache()


def test_concurrent_builds_of_one_plan_keep_one_record(spark, sf_dir):
    """More clients than cores miss one plan together: each builds, one
    record is cached, every client gets its plan, and the losing builds'
    pins are released without unpinning the cached plan's."""
    import __spark_entry__ as m

    from eurostat_energy_etl_pipeline_spark import plans as P

    qs = m.queries()
    P.clear_plan_cache()
    qs[PIN_QUERY](spark, sf_dir)
    one_build = P.release_pins(PIN_QUERY)
    P.clear_plan_cache()

    n_clients = 8
    start = threading.Barrier(n_clients)
    got = []

    def client():
        start.wait(timeout=60)
        got.append(qs[PIN_QUERY](spark, sf_dir))

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == n_clients and all(df is got[0] for df in got)
    assert [k[2] for k in P._PLAN_CACHE] == [PIN_QUERY]
    # the losers' release left the cached plan's own pins in place
    before = _persistent_rdd_ids(spark)
    got[0].write.format("noop").mode("overwrite").save()
    assert _persistent_rdd_ids(spark) - before
    assert P.release_pins(PIN_QUERY) == one_build
    P.clear_plan_cache()


def test_checkpoint_users_forget_cleared_plans(spark, sf_dir):
    import __spark_entry__ as m

    from eurostat_energy_etl_pipeline_spark import plans as P

    name = "q189_khop_reach"  # its BFS levels are at-rest checkpoints
    P.clear_plan_cache()
    m.queries()[name](spark, sf_dir)
    assert name in P.checkpoint_users()
    P.clear_plan_cache()
    assert name not in P.checkpoint_users()
    assert P.checkpoint_ids(name) is None


def test_index_merges_release_their_pins_when_the_write_fails(
    spark, tmp_path, monkeypatch
):
    """Both at-rest index merges pin the batch's ids and signatures; a
    failing write must not leave them persisted."""
    from eurostat_energy_etl_pipeline_spark.operators import dedup as D
    from eurostat_energy_etl_pipeline_spark.operators import similarity as S

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token_{i}") for i in range(12)],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, float(i % 3)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    mh, ivf = str(tmp_path / "minhash"), str(tmp_path / "ivf")
    D.write_minhash_index(docs, mh, num_buckets=4)
    S.write_ivf_index(vecs, ivf, nlist=2)

    def failing_write(self, *args, **kwargs):
        raise RuntimeError("write failed")

    monkeypatch.setattr(type(docs.write), "parquet", failing_write)
    merges = (
        lambda: D.merge_into_minhash_index(
            spark, mh, upserts=docs.where("doc_id < 3"), tombstone_ids=[5]
        ),
        lambda: S.merge_into_ivf_index(
            spark, ivf, upserts=vecs.where("vec_id < 3"), tombstone_ids=[5]
        ),
    )
    for merge in merges:
        before = _persistent_rdd_ids(spark)
        with pytest.raises(RuntimeError, match="write failed"):
            merge()
        assert _persistent_rdd_ids(spark) - before == set()


def test_direct_minhash_calls_persist_nothing(spark, tmp_path):
    """Pins made outside any scope persist nothing: direct
    `minhash_lsh_pairs` and `match_against_index` calls leave no
    persistent RDD behind and return the rows of a scoped (pinned) call."""
    from eurostat_energy_etl_pipeline_spark import plans as P
    from eurostat_energy_etl_pipeline_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon token_{i % 4}") for i in range(12)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon token_1"), (101, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    mh = str(tmp_path / "minhash")
    D.write_minhash_index(docs, mh, num_buckets=4)
    with P.scope():
        want_pairs = D.minhash_lsh_pairs(docs).collect()
        want_matches = D.match_against_index(spark, new, mh).collect()
    assert want_pairs and want_matches

    before = _persistent_rdd_ids(spark)
    for _ in range(2):
        assert D.minhash_lsh_pairs(docs).collect() == want_pairs
    assert D.match_against_index(spark, new, mh).collect() == want_matches
    assert _persistent_rdd_ids(spark) - before == set()


def test_one_shot_semantic_search_caches_nothing(spark):
    from eurostat_energy_etl_pipeline_spark.rag.tfidf import semantic_search

    corpus = spark.createDataFrame(
        [(i, f"energy consumption trend {w}") for i, w in enumerate("abcdef")],
        "doc_id long, text string",
    )
    before = _persistent_rdd_ids(spark)
    hits = [semantic_search(spark, corpus, "energy trend").collect() for _ in range(3)]
    assert hits[0] and hits[1] == hits[0] and hits[2] == hits[0]
    assert _persistent_rdd_ids(spark) - before == set()


def test_q99_caches_only_the_session_graph_views(spark, sf_dir, tmp_path):
    """Building and running q99 caches the shared graph's two catalog
    views and nothing else. The fixture is read through a fresh path, so
    the views are new for this test."""
    import __spark_entry__ as m

    from eurostat_energy_etl_pipeline_spark import catalog
    from eurostat_energy_etl_pipeline_spark import plans as P
    from eurostat_energy_etl_pipeline_spark.plans import graph

    sf = str(tmp_path / "sf")
    os.symlink(sf_dir, sf)
    name = "q99_pagerank"
    before = _persistent_rdd_ids(spark)
    m.queries()[name](spark, sf).write.format("noop").mode("overwrite").save()
    added = _persistent_rdd_ids(spark) - before
    assert len(added) == 2

    key = (spark.sparkContext.applicationId, sf)
    views = [
        catalog._VIEW_CACHE[v].pop(key)
        for v in ("purchase_graph_nodes", "purchase_graph_base")
    ]
    graph._PREPARED_GRAPHS.pop(key)
    P.drop_plan(name)
    for v in views:
        v.unpersist(True)
    assert _persistent_rdd_ids(spark) & added == set()


def test_staged_releases_its_blocks_on_exit(spark):
    from eurostat_energy_etl_pipeline_spark.plans import staged

    before = _persistent_rdd_ids(spark)
    with staged(spark.range(20)) as rows:
        assert _persistent_rdd_ids(spark) - before
        assert rows.count() == 20
    assert _persistent_rdd_ids(spark) - before == set()


def test_ingest_load_persists_and_leaves_nothing_outside_the_warehouse(
    spark, tmp_path, monkeypatch
):
    """A decoded cube loaded by append and then merge leaves no persistent
    RDD and no file anywhere but the warehouse: the cell source owns no
    resource and the loads' staging is released."""
    import tempfile

    from eurostat_energy_etl_pipeline_spark.etl.job import read_warehouse, run_etl
    from eurostat_energy_etl_pipeline_spark.sources.jsonstat import (
        GOLDEN_FIXTURE,
        decode_jsonstat,
    )

    work = tmp_path / "cwd"
    work.mkdir()
    monkeypatch.chdir(work)
    wh = str(tmp_path / "warehouse")

    def outside_the_warehouse():
        def tree(root):
            return {os.path.join(d, n) for d, ds, fs in os.walk(root) for n in ds + fs}

        return (
            tree(tmp_path) - tree(wh) - {wh},
            tree(spark.sparkContext._temp_dir),
            set(os.listdir(tempfile.gettempdir())),
        )

    before = _persistent_rdd_ids(spark), outside_the_warehouse()
    for mode in ("append", "merge"):
        df = decode_jsonstat(spark, GOLDEN_FIXTURE, "nrg_cb_e")
        assert run_etl(spark, [df], wh, mode) == 5
    assert read_warehouse(spark, wh).count() == 5
    assert (_persistent_rdd_ids(spark), outside_the_warehouse()) == before


def test_session_memo_builds_once_under_concurrency(spark):
    """More clients than cores miss a slow build together: it runs once
    and every client gets the same value."""
    from eurostat_energy_etl_pipeline_spark.catalog import session_memo

    memo, calls, got = {}, [], []
    n_clients = 8
    start = threading.Barrier(n_clients)

    def build():
        calls.append(1)
        time.sleep(0.3)  # slow enough that every client misses
        return object()

    def client():
        start.wait(timeout=30)
        got.append(session_memo(memo, spark, "/concurrent", build))

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(got) == n_clients and all(v is got[0] for v in got)
    assert memo == {(spark.sparkContext.applicationId, "/concurrent"): got[0]}


def test_session_artifact_dirs_are_removed_at_exit(tmp_path):
    """A process that exits removes the temp-dir artifacts it built,
    sidecar dirs included."""
    script = (
        "import os, sys, types\n"
        f"sys.path.insert(0, {str(PKG.parent)!r})\n"
        "from eurostat_energy_etl_pipeline_spark.catalog import session_memo\n"
        "spark = types.SimpleNamespace(\n"
        "    sparkContext=types.SimpleNamespace(applicationId='app-exit-probe'))\n"
        "def build(path):\n"
        "    os.makedirs(path)\n"
        "    os.makedirs(path + '_ids')\n"
        "print(session_memo({}, spark, '/sf', build, artifact='exit_probe'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(path).startswith("spark_graft_exit_probe_")
    assert not os.path.exists(path)
    assert not os.path.exists(path + "_ids")


def test_stale_session_artifact_is_evicted_and_removed(spark, tmp_path):
    """An at-rest artifact of a stopped SparkContext is dropped from its
    memo and its temp dir removed on the next build."""
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.plans import relational

    stale_dir = tmp_path / "stale_mv_base"
    stale_dir.mkdir()
    (stale_dir / "marker").write_text("x")
    stale_key = ("app-from-a-dead-context", "/nowhere")
    relational._MV_BASE[stale_key] = str(stale_dir)

    sf_dir = tmp_path / "sf"
    spark.createDataFrame(
        [(1, 7, 10.0, "1995-01-01")],
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate")).write.parquet(
        f"{sf_dir}/orders.parquet"
    )
    path = relational._mv_base_path(spark, str(sf_dir))
    assert os.path.basename(path).startswith("spark_graft_mv_base_")
    assert os.path.isdir(path)
    assert stale_key not in relational._MV_BASE
    assert not stale_dir.exists()
    assert relational._mv_base_path(spark, str(sf_dir)) == path


def test_checkpoints_and_overwrite_mode_have_one_home():
    """Regrowth guard: every localCheckpoint goes through `plans.at_rest`
    or `plans.staged`, and no module flips the session-wide partition
    overwrite mode (a concurrent client's write would inherit it)."""
    conf_set = re.compile(
        r"conf\.set\(\s*[\"']spark\.sql\.sources\.partitionOverwriteMode"
    )
    home = PKG / "plans" / "__init__.py"
    files = sorted(PKG.rglob("*.py"))
    assert home in files
    for f in files:
        src = f.read_text()
        if f != home:
            assert ".localCheckpoint(" not in src, f
        assert not conf_set.search(src), f


# Modules that may still persist, cache, unpersist or localCheckpoint
# outside `plans` and `catalog`, with the reason each owns its own lifetime.
PERSIST_OWNERS = {
    "operators/bpe.py": "rolling re-persist of the merge table, try/finally",
}


def test_persist_has_one_home():
    """Regrowth guard: plan- and operation-lifetime persists go through
    `plans.pin` (inside `plans.scope` for an operation), session ones
    through `catalog`; the allowlist holds only the remaining owners."""
    persist = re.compile(
        r"\.persist\(|\.cache\(\)|\.unpersist\(|\.localCheckpoint\("
    )
    homes = {PKG / "plans" / "__init__.py", PKG / "catalog.py"}
    found = {
        f.relative_to(PKG).as_posix()
        for f in PKG.rglob("*.py")
        if f not in homes and persist.search(f.read_text())
    }
    assert found == set(PERSIST_OWNERS)
