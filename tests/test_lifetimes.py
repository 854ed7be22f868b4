"""Lifetime mechanisms, one per scope: plan-lifetime checkpoints
(`plans.at_rest`), session-lifetime memos (`catalog.session_memo`) and
operation-lifetime staging (`plans.staged`)."""

import os
import re
import subprocess
import sys
import threading
import time
from pathlib import Path

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
    P._BUILDING.stack.append(name)
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
        P._CHECKPOINT_USERS.pop(name, None)
        for df in (out, *foreign):
            df._jdf.queryExecution().logical().rdd().unpersist(True)


def test_staged_releases_its_blocks_on_exit(spark):
    from eurostat_energy_etl_pipeline_spark.plans import staged

    before = _persistent_rdd_ids(spark)
    with staged(spark.range(20)) as rows:
        assert _persistent_rdd_ids(spark) - before
        assert rows.count() == 20
    assert _persistent_rdd_ids(spark) - before == set()


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
