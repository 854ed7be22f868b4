"""Structured Streaming smoke: the streaming plans produce the same
aggregates as their batch twins when driven to completion over the sf
parquet (file source -> memory sink, processAllAvailable)."""

import pytest

from eurostat_energy_etl_pipeline_spark.catalog import load_tables
from eurostat_energy_etl_pipeline_spark.plans.events import events_tumbling
from eurostat_energy_etl_pipeline_spark.streaming.events import (
    read_events_stream,
    run_to_memory,
    sessionize_stream,
    tumbling_counts,
    user_running_totals,
)


@pytest.fixture(scope="module")
def stream(spark, sf_dir):
    return read_events_stream(spark, sf_dir)


def test_tumbling_matches_batch(spark, sf_dir, stream):
    """Full batch-vs-stream differential (VERDICT r3 item 8): drain the
    static events table through the streaming plan with the production
    Trigger.AvailableNow shape and require EVERY column — including the
    exact-decimal value total — to match the oracle-checked batch plan
    bit-for-bit."""
    q = run_to_memory(
        tumbling_counts(stream), "t_tumbling", "complete", available_now=True
    )
    try:
        got = spark.sql(
            "SELECT bucket_s, event_type, n, total FROM t_tumbling "
            "ORDER BY bucket_s, event_type"
        ).toPandas()
    finally:
        q.stop()
    batch = (
        events_tumbling(spark, sf_dir)
        .select("bucket_s", "event_type", "n", "total")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(batch.reset_index(drop=True))


def test_session_windows_run(spark, stream):
    q = run_to_memory(sessionize_stream(stream), "t_sessions", "complete")
    try:
        pdf = spark.sql("SELECT * FROM t_sessions").toPandas()
    finally:
        q.stop()
    assert len(pdf) > 0
    assert (pdf["end_s"] >= pdf["start_s"]).all()


def test_stateful_running_totals(spark, stream):
    q = run_to_memory(user_running_totals(stream), "t_totals", "update")
    try:
        pdf = spark.sql(
            "SELECT user_id, max(n) AS n FROM t_totals GROUP BY user_id"
        ).toPandas()
    finally:
        q.stop()
    assert len(pdf) > 0
    assert (pdf["n"] > 0).all()


def test_dedup_stream_drops_duplicates(spark, stream, sf_dir):
    from eurostat_energy_etl_pipeline_spark.streaming.events import dedup_stream

    q = run_to_memory(dedup_stream(stream), "t_dedup", "append")
    try:
        got = spark.table("t_dedup").count()
        batch = spark.read.parquet(f"{sf_dir}/events.parquet")
        from pyspark.sql import functions as F

        exp = (
            batch.withColumn("ts", F.col("ts").cast("timestamp"))
            .withColumn("content_key", F.xxhash64("event_type", "value", "props"))
            .dropDuplicates(["content_key", "ts"])
            .count()
        )
        assert got == exp
        assert got <= batch.count()
    finally:
        q.stop()


def test_enrich_stream_static_join(spark, stream, sf_dir):
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.streaming.events import enrich_stream

    dim = spark.range(0, 50).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("segment_"), (F.col("id") % 3)).alias("segment"),
    )
    q = run_to_memory(enrich_stream(stream, dim), "t_enriched", "append")
    try:
        got = spark.table("t_enriched")
        n_stream = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert got.count() == n_stream  # left join preserves every event
        matched = got.where(F.col("segment").isNotNull()).count()
        assert matched == got.where(F.col("user_id") < 50).count()
    finally:
        q.stop()


def test_enrich_stream_inner_keeps_null_attribute_matches(spark, stream, sf_dir):
    """how='inner' (the r10 q_stream_enrich semantics) keys the drop on
    JOIN-KEY presence, not on a looked-up attribute: a matched dim row
    whose attribute is NULL must be KEPT (in its own NULL group) — the
    r9 ADVICE divergence class the old left-join + isNotNull filter had."""
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.streaming.events import enrich_stream

    dim = spark.range(0, 50).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(
            F.concat(F.lit("segment_"), (F.col("id") % 3))
        ).alias("segment"),
    )
    q = run_to_memory(
        enrich_stream(stream, dim, how="inner"), "t_enriched_inner", "append"
    )
    try:
        got = spark.table("t_enriched_inner")
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        assert got.count() == events.where(F.col("user_id") < 50).count()
        null_seg = got.where(F.col("segment").isNull()).count()
        want_null = events.where(
            (F.col("user_id") < 50) & (F.col("user_id") % 5 == 0)
        ).count()
        assert null_seg == want_null and want_null > 0
    finally:
        q.stop()


def test_attribution_join_matches_batch(spark, sf_dir, stream):
    from eurostat_energy_etl_pipeline_spark.streaming.events import attribution_join

    q = run_to_memory(attribution_join(stream), "t_attrib", "append")
    try:
        got = spark.sql(
            "SELECT trigger_id, outcome_id FROM t_attrib ORDER BY trigger_id, outcome_id"
        ).toPandas()
    finally:
        q.stop()
    ev = load_tables(spark, sf_dir)["events"]
    import pyspark.sql.functions as F

    trig = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts"),
        F.col("event_id").alias("trigger_id"),
    )
    out = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("o_user"), F.col("ts").alias("o_ts"),
        F.col("event_id").alias("outcome_id"),
    )
    batch = (
        trig.join(
            out,
            (F.col("t_user") == F.col("o_user"))
            & (F.col("o_ts") >= F.col("t_ts"))
            & (F.col("o_ts") <= F.col("t_ts") + F.expr("INTERVAL 30 minutes")),
        )
        .select("trigger_id", "outcome_id")
        .orderBy("trigger_id", "outcome_id")
        .toPandas()
    )
    # The single-file source delivers everything in one micro-batch, so no
    # row is ever late: streaming output must equal the batch join exactly.
    assert len(got) > 0
    assert got.reset_index(drop=True).equals(batch.reset_index(drop=True))


def test_screen_stream_against_index(spark, sf_dir, tmp_path):
    """Streaming near-dup screen: docs streamed over the same corpus the
    index was built from must each hit their own banded signatures (a doc
    always collides with itself), and candidate counts must be >= 1."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from eurostat_energy_etl_pipeline_spark.catalog import load_tables
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        write_minhash_index,
    )
    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        run_to_memory,
        screen_stream_against_index,
    )

    idx = str(tmp_path / "stream_idx")
    docs = load_tables(spark, sf_dir)["documents"]
    write_minhash_index(docs, idx)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    q = run_to_memory(
        screen_stream_against_index(stream, spark, idx), "t_screen", "complete"
    )
    try:
        pdf = spark.table("t_screen").toPandas()
    finally:
        q.stop()
    n_docs = docs.count()
    self_pairs = pdf[pdf["doc_id"] == pdf["corpus_id"]]
    assert len(self_pairs) == n_docs  # every streamed doc collides with itself
    assert (self_pairs["n_shared_bands"] == 16).all()  # all bands agree
    assert (pdf["n_shared_bands"] >= 1).all()


def test_screen_stream_per_batch_matches_batch_matcher(spark, sf_dir, tmp_path):
    """foreachBatch screening (the production-firehose variant): verified
    matches collected per micro-batch must equal the batch matcher's
    output, and every streamed doc must match itself at Jaccard 1.0."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from eurostat_energy_etl_pipeline_spark.catalog import load_tables
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        match_against_index,
        write_minhash_index,
    )
    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        screen_stream_per_batch,
    )

    idx = str(tmp_path / "fb_idx")
    docs = load_tables(spark, sf_dir)["documents"]
    write_minhash_index(docs, idx)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    collected = []

    def sink(matches, batch_id):
        collected.append(matches.toPandas())

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keySet().toArray())
    q = screen_stream_per_batch(stream, spark, idx, sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert set(persistent().keySet().toArray()) - before == set()
    import pandas as pd

    got = (
        pd.concat(collected, ignore_index=True)
        .sort_values(["new_id", "corpus_id"])
        .reset_index(drop=True)
    )
    expect = (
        match_against_index(
            spark, docs.select("doc_id", "text"), idx
        )
        .toPandas()
        .sort_values(["new_id", "corpus_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect)
    self_rows = got[got["new_id"] == got["corpus_id"]]
    assert len(self_rows) == docs.count()
    assert (self_rows["jacc"] == 1.0).all()


def test_rolling_dau_stream_tracks_exact(spark, sf_dir, stream):
    """Streaming approx DAU per day must cover every day the batch rollup
    sees and land within HLL++ tolerance (<=5% default rsd) of the exact
    distinct; event counts are exact and must match bit-for-bit."""
    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        rolling_dau_stream,
    )

    q = run_to_memory(rolling_dau_stream(stream), "t_dau", "complete")
    try:
        got = spark.sql("SELECT * FROM t_dau ORDER BY day_s").toPandas()
    finally:
        q.stop()
    import pyspark.sql.functions as F

    batch = (
        load_tables(spark, sf_dir)["events"]
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count_distinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").cast("long").alias("day_s"), "dau", "n_events")
        .orderBy("day_s")
        .toPandas()
    )
    assert list(got["day_s"]) == list(batch["day_s"])
    assert list(got["n_events"]) == list(batch["n_events"])
    for approx, exact in zip(got["dau_approx"], batch["dau"]):
        assert abs(approx - exact) <= max(2, 0.1 * exact)


def test_value_quantile_stream_brackets_exact(spark, sf_dir, stream):
    """Streaming sketch percentiles must bracket the exact batch quantiles
    at q +/- 2 rank-percent per (bucket, type) — the same rank-error
    certificate the batch q85 pins — and min/max/count are exact."""
    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        value_quantile_stream,
    )

    q = run_to_memory(value_quantile_stream(stream), "t_vq", "complete")
    try:
        got = spark.sql(
            "SELECT * FROM t_vq ORDER BY bucket_s, event_type"
        ).toPandas()
    finally:
        q.stop()
    import pyspark.sql.functions as F

    # The sketch returns an ELEMENT whose rank is within (2 rank-percent
    # + sketch discreteness) of the target; for an n-row window that means
    # its value must lie between the elements at floor/ceil of rank
    # n*(q -/+ 0.02) -/+ one element. Compute the brackets in pandas from
    # the raw per-window values (tiny groups at test SF). q85's SQL-side
    # bracket works only because its groups are hundreds of rows.
    raw = (
        load_tables(spark, sf_dir)["events"]
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.sort_array(F.collect_list("value")).alias("vals"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_s"),
            "event_type", "vals", "vmin", "vmax", "n",
        )
        .orderBy("bucket_s", "event_type")
        .toPandas()
    )

    def bracket(vals, q):
        import math

        n = len(vals)
        lo = vals[max(0, math.floor(n * (q - 0.02)) - 1)]
        hi = vals[min(n - 1, math.ceil(n * (q + 0.02)))]
        return lo, hi

    assert len(got) == len(raw)
    for g, b in zip(got.itertuples(), raw.itertuples()):
        assert (g.bucket_s, g.event_type, g.n) == (b.bucket_s, b.event_type, b.n)
        assert g.vmin == b.vmin and g.vmax == b.vmax
        lo, hi = bracket(b.vals, 0.5)
        assert lo <= g.p50 <= hi, (g, b.vals)
        lo, hi = bracket(b.vals, 0.95)
        assert lo <= g.p95 <= hi, (g, b.vals)


def test_transition_stream_counts_boundary_pair_once(spark, tmp_path):
    """The cross-batch state contract of transition_stream: with the
    user's events split across TWO micro-batches, the pair spanning the
    boundary is emitted exactly once (from state), and summed deltas
    equal the batch lead() window's transition counts."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        transition_stream,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    batch1 = [(1, "2024-01-01 10:00:00", 1, "view", 1.0, ""),
              (2, "2024-01-01 10:01:00", 1, "click", 1.0, "")]
    batch2 = [(3, "2024-01-01 10:02:00", 1, "purchase", 1.0, ""),
              (4, "2024-01-01 10:03:00", 1, "view", 1.0, "")]
    src_dir = f"{tmp_path}/stream_src"
    os.makedirs(src_dir)
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, "event_id long, ts string, user_id long,"
                              " event_type string, value double, props string"
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src_dir}/b{i}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*")
    )
    q = (
        transition_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_markov_boundary")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = {
        (r["src"], r["dst"]): r["n"]
        for r in spark.sql(
            "SELECT src, dst, sum(n) AS n FROM t_markov_boundary"
            " GROUP BY src, dst"
        ).collect()
    }
    # view->click (batch 1), click->purchase (BOUNDARY), purchase->view
    # (batch 2): each exactly once
    assert got == {
        ("view", "click"): 1,
        ("click", "purchase"): 1,
        ("purchase", "view"): 1,
    }


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState: .exists/.get/.update."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def _run_transitions(batch_rows, state):
    import pandas as pd

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        _update_user_transitions,
    )

    pdf = pd.DataFrame(
        batch_rows, columns=["event_id", "ts", "event_type"]
    ).assign(ts=lambda d: pd.to_datetime(d["ts"]))
    out = list(_update_user_transitions((1,), [pdf], state))
    counts = {}
    for o in out:
        for r in o.itertuples():
            counts[(r.src, r.dst)] = counts.get((r.src, r.dst), 0) + r.n
    return counts


def test_transition_stream_merges_out_of_order_state():
    """ADVICE r10: if a micro-batch delivers events EARLIER than the
    stored last event (out-of-order file discovery), the stored event is
    merge-sorted into the batch by (ts, event_id) — the late pair is
    counted in timestamp order (late -> stored), never the reversed
    stored -> late direction — and the state keeps the MAX event, not
    the batch tail."""
    st = _FakeGroupState()
    # batch 1 (in order): view@10:00 eid1, purchase@10:03 eid4
    c1 = _run_transitions(
        [(1, "2024-01-01 10:00:00", "view"),
         (4, "2024-01-01 10:03:00", "purchase")], st)
    assert c1 == {("view", "purchase"): 1}
    assert st.get[2] == "purchase"
    # batch 2 (LATE): click@10:01 eid2 — earlier than stored purchase
    c2 = _run_transitions([(2, "2024-01-01 10:01:00", "click")], st)
    assert c2 == {("click", "purchase"): 1}, c2
    # state still holds the max event (purchase@10:03), not the late one
    assert st.get[2] == "purchase" and st.get[1] == 4
    # batch 3 (in order again): view@10:05 eid5 pairs off the kept max
    c3 = _run_transitions([(5, "2024-01-01 10:05:00", "view")], st)
    assert c3 == {("purchase", "view"): 1}
    assert st.get[1] == 5


def test_hll_register_stream_monotone_across_batches(spark, tmp_path):
    """Cross-batch contract of hll_register_stream: the same users split
    across TWO micro-batches produce register maxes identical to the
    one-batch sketch (max is idempotent — replays/splits cannot move a
    register), and re-seeing a user emits no spurious update."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        hll_register_stream,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    users = list(range(1, 41))
    batch1 = [(i, "2024-01-01 10:00:00", u, "view", 1.0, "")
              for i, u in enumerate(users[:20])]
    # batch 2 repeats half of batch 1's users plus 20 new ones
    batch2 = [(100 + i, "2024-01-01 11:00:00", u, "view", 1.0, "")
              for i, u in enumerate(users[10:])]
    src_dir = f"{tmp_path}/hll_src"
    os.makedirs(src_dir)
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, "event_id long, ts string, user_id long,"
                              " event_type string, value double, props string"
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src_dir}/b{i}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*")
    )
    q = (
        hll_register_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_hll_regs")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    got = {
        int(r["reg"]): int(r["mr"])
        for r in spark.sql(
            "SELECT reg, max(mr) AS mr FROM t_hll_regs GROUP BY reg"
        ).collect()
    }
    # batch reference: the same derivation over all 40 distinct users
    ref_df = spark.createDataFrame(
        [(u,) for u in users], "user_id long"
    ).select(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
               16, 10).cast("long").alias("hv")
    )
    rem = F.col("hv") % F.lit(18014398509481984)
    ref = {
        int(r["reg"]): int(r["mr"])
        for r in ref_df.select(
            F.expr("hv div 18014398509481984").cast("long").alias("reg"),
            F.when(rem == 0, F.lit(55))
            .otherwise(F.instr(F.lpad(F.bin(rem), 54, "0"), "1")
                       .cast("long")).alias("rho"),
        ).groupBy("reg").agg(F.max("rho").alias("mr")).collect()
    }
    assert got == ref


def test_scd2_stream_rollup_is_batch_split_invariant(spark, tmp_path):
    """The versioned-emission contract of scd2_status_stream: a day
    whose dominant status FLIPS between micro-batches (view-only in
    batch 1, out-voted by clicks in batch 2) must survive only as its
    final-counts status after the max-version rollup, and the derived
    SCD2 runs must equal the batch gaps-and-islands over the union of
    all events — the q178 recompute."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from eurostat_energy_etl_pipeline_spark.plans.events import (
        _daily_status, _scd2_rows,
    )
    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        scd2_status_stream,
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    # user 1: day1 view-only in batch 1 (interim dominant 'view'),
    # then 2 clicks on day1 in batch 2 flip it to 'click'; day2+day3
    # 'view' extends into a 2-day run across the batch boundary
    batch1 = [(1, "2024-01-01 10:00:00", 1, "view", 1.0, ""),
              (2, "2024-01-02 09:00:00", 1, "view", 1.0, "")]
    batch2 = [(3, "2024-01-01 11:00:00", 1, "click", 1.0, ""),
              (4, "2024-01-01 12:00:00", 1, "click", 1.0, ""),
              (5, "2024-01-03 09:00:00", 1, "view", 1.0, "")]
    src_dir = f"{tmp_path}/scd2_src"
    os.makedirs(src_dir)
    rows_schema = ("event_id long, ts string, user_id long,"
                   " event_type string, value double, props string")
    for i, rows in enumerate((batch1, batch2)):
        spark.createDataFrame(rows, rows_schema).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/b{i}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/b*")
    )
    q = (
        scd2_status_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_scd2_split")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    from pyspark.sql import Window

    sink = spark.table("t_scd2_split")
    # the flipped day emitted BOTH interim statuses across batches ...
    emitted = {
        (r["day"], r["status"], r["version"]) for r in sink.collect()
    }
    assert ("2024-01-01", "view", 1) in emitted
    assert ("2024-01-01", "click", 3) in emitted
    # ... and the max-version rollup keeps only the final-counts one
    wv = Window.partitionBy("user_id", "day").orderBy(F.desc("version"))
    latest = (
        sink.withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") == 1)
        .select("user_id", F.to_date("day").alias("d"), "status")
    )
    got = sorted(
        (r["user_id"], r["status"], str(r["valid_from"]),
         str(r["valid_to"]))
        for r in _scd2_rows(latest).collect()
    )
    # batch recompute over the union of both files
    allrows = spark.createDataFrame(batch1 + batch2, rows_schema
                                    ).withColumn("ts", F.to_timestamp("ts"))
    want = sorted(
        (r["user_id"], r["status"], str(r["valid_from"]),
         str(r["valid_to"]))
        for r in _scd2_rows(_daily_status(allrows)).collect()
    )
    assert got == want
    assert got == [
        (1, "click", "2024-01-01", "2024-01-01"),
        (1, "view", "2024-01-02", "None"),
    ]
