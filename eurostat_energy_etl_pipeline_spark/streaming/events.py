"""Structured Streaming over the events table.

The reference has no streaming surface (its closest analog is the Streamlit
rerun loop, SURVEY.md §2.6); these jobs are the scale-path equivalents of the
batch plans in plans/events.py — the SAME aggregation logic, run
incrementally with watermarked state:

- `tumbling_counts`: 5-minute event-time windows + 10-minute watermark, so
  late events within the watermark update their window and state is GC'd
  beyond it;
- `sessionize_stream`: session windows via the built-in `session_window`
  (gap-based state merge — the streaming twin of the batch lag+cumsum);
- `user_running_totals`: custom stateful operator via
  `applyInPandasWithState` (running per-user aggregates with timeout-based
  eviction) — the template for operators Spark lacks natively.

Tests drive these with a file source over the sf parquet + a memory sink and
`processAllAvailable()` (deterministic, synchronous)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# Declared schema for the current fixture generation (TIMESTAMP(MICROS,
# ntz)); read_events_stream probes the actual footer and falls back to the
# long-nanos variant when the fixture reverts (round 1 shipped
# TIMESTAMP(NANOS), read as bigint under nanosAsLong).
EVENTS_SCHEMA = _events_schema(TimestampNTZType())


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the driver's events parquet (one file = one
    micro-batch; production swaps in kafka with the same downstream plan).
    File streams require a directory path, so the sf dir is used with a
    glob filter selecting only the events table.

    The stream schema must be declared up front, so the parquet footer is
    probed first (a batch metadata read, no data scan) and the declared ts
    type + conversion mirror catalog._normalize_table's dual handling:
    long nanos -> integer `div 1000` -> timestamp_micros; ntz -> cast to
    session-TZ timestamp (UTC per ensure_session_confs). A hardcoded ntz
    schema would break with nulls/schema-mismatch if the fixture reverts
    to TIMESTAMP(NANOS)-as-long."""
    ts_dtype = dict(
        spark.read.parquet(f"{sf_dir}/events.parquet").dtypes
    ).get("ts")
    if ts_dtype == "bigint":
        schema = _events_schema(LongType())
        convert = F.timestamp_micros(F.expr("ts div 1000"))
    elif ts_dtype == "timestamp_ntz":
        schema = _events_schema(TimestampNTZType())
        convert = F.col("ts").cast(TimestampType())
    else:  # already session-TZ timestamp
        schema = _events_schema(TimestampType())
        convert = F.col("ts")
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", convert)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked 5-minute tumbling aggregate (same semantics as the batch
    q_events_tumbling, down to the value hash: the total is the same exact
    decimal sum the batch plan uses, so micro-batch accumulation order
    cannot perturb it and the batch-vs-stream differential compares every
    column bit-for-bit)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("total"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_s"), "event_type", "n", "total"
        )
    )


def rolling_dau_stream(events: DataFrame) -> DataFrame:
    """Watermarked daily active users — the streaming twin of the batch
    q81_rolling_dau's inner rollup. Exact distinct is unbounded state on a
    stream, so this uses `approx_count_distinct` (HLL++, mergeable sketch
    state bounded per window) next to the exact event count; the 1-day
    event-time window + 1-day watermark means state for a day is dropped
    one day after it closes. The 7-day smoothing stays a batch concern
    (over the emitted O(days) rollup), exactly as the batch query
    documents — windows over output tables, not stream state."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.approx_count_distinct("user_id").alias("dau_approx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").cast("long").alias("day_s"),
            "dau_approx",
            "n_events",
        )
    )


def value_quantile_stream(events: DataFrame) -> DataFrame:
    """Watermarked per-type value-distribution monitor — the streaming twin
    of the batch percentile bridge (q85): 5-minute event-time windows with
    the mergeable percentile sketch (`approx_percentile` keeps bounded
    per-window state and merges across partial aggregates, which is what
    makes it legal in streaming where the exact sort-based `percentile` is
    not) plus exact min/max/count. The 10-minute watermark GCs window
    state like `tumbling_counts`."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.expr("approx_percentile(value, 0.5D, 10000)").alias("p50"),
            F.expr("approx_percentile(value, 0.95D, 10000)").alias("p95"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("w.start").cast("long").alias("bucket_s"),
            "event_type",
            "p50",
            "p95",
            "vmin",
            "vmax",
            "n",
        )
    )


def sessionize_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows with a 30-minute gap — built-in state merge."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("start_s"),
            F.col("w.end").cast("long").alias("end_s"),
            "n_events",
        )
    )


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)
_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("cents", LongType()),
    ]
)


def _update_user_totals(key, pdfs, state: GroupState):
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # Integer-cent state, NOT a float accumulator: row order inside a
        # stateful group is not guaranteed, and a float running sum would
        # make the emitted total order-dependent at the last ulp — the
        # q108/q99 exactness lesson applied to Python-side state. The
        # values carry 2 decimal places by contract, so cents are exact.
        cents += int(
            (pdf["value"].fillna(0.0) * 100).round().astype("int64").sum()
        )
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "cents": [cents]})


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user count/sum via
    applyInPandasWithState (the template for bespoke streaming state).
    Emits (user_id, n, cents) with the running sum in exact integer
    cents; divide by 100 at presentation time."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(events: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Streaming exact dedup — the incremental twin of operators/dedup
    exact_dedup, and the shape an LLM-ingest pipeline runs on a document
    firehose: watermarked dropDuplicates on a compact content key, so state
    holds only keys inside the lateness horizon (10 min here) and is GC'd
    beyond it. The key is an 8-byte xxhash64 of the payload columns — state
    never stores wide rows."""
    keys = key_cols or ["event_type", "value", "props"]
    return (
        events.withWatermark("ts", "10 minutes")
        .withColumn("content_key", F.xxhash64(*keys))
        .dropDuplicates(["content_key", "ts"])
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    available_now: bool = False,
):
    """Drive a streaming plan to completion against a memory sink
    (deterministic for tests). ``available_now=True`` uses the
    Trigger.AvailableNow batch-drain — the production shape for "process
    the backlog then stop" jobs (multiple bounded micro-batches, then
    self-termination); the default keeps the always-on micro-batch
    trigger drained via processAllAvailable."""
    w = stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if available_now:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = w.start()
        q.processAllAvailable()
    return q


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the standard streaming dimension
    lookup: each micro-batch joins against the (batch) dimension table,
    which Spark re-plans per batch, so a broadcast-sized dim never shuffles
    the stream. No watermark needed (static side is unbounded-lifetime).
    `how` picks keep-unmatched ('left', enrich-with-nulls) vs
    drop-unmatched ('inner') — filtering a LEFT join on a looked-up
    attribute is NOT a substitute for 'inner': a matched dim row whose
    attribute is NULL would be dropped even though the key matched
    (r9 ADVICE)."""
    return events.join(F.broadcast(dim), on, how)


def attribution_join(
    events: DataFrame,
    trigger_type: str = "click",
    outcome_type: str = "purchase",
    horizon: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: attribute each
    outcome event to trigger events by the same user within `horizon`
    BEFORE it (the streaming twin of the batch as-of/range join in
    plans/events.py). Both sides carry watermarks plus a time-range join
    condition, so Spark can bound the buffered state on each side and GC
    rows older than watermark + horizon — without the range condition the
    state would grow forever. Join keys: equi on user_id (state is
    hash-partitioned by user) + the range predicate evaluated in-partition.
    """
    trig = (
        events.where(F.col("event_type") == trigger_type)
        .select(
            F.col("user_id").alias("t_user"),
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("trigger_id"),
        )
        .withWatermark("t_ts", "10 minutes")
    )
    out = (
        events.where(F.col("event_type") == outcome_type)
        .select(
            F.col("user_id").alias("o_user"),
            F.col("ts").alias("o_ts"),
            F.col("event_id").alias("outcome_id"),
            F.col("value").alias("outcome_value"),
        )
        .withWatermark("o_ts", "10 minutes")
    )
    return trig.join(
        out,
        (F.col("t_user") == F.col("o_user"))
        & (F.col("o_ts") >= F.col("t_ts"))
        & (F.col("o_ts") <= F.col("t_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("t_user").alias("user_id"),
        "trigger_id",
        "outcome_id",
        F.col("t_ts").alias("trigger_ts"),
        F.col("o_ts").alias("outcome_ts"),
        "outcome_value",
    )


def screen_stream_against_index(
    docs_stream: DataFrame,
    spark: SparkSession,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Streaming near-dup screening: every micro-batch of incoming
    documents is MinHash-banded scan-side and joined against the at-rest
    corpus index written by `operators.dedup.write_minhash_index` — the
    firehose twin of `match_against_index`, giving each arriving document
    its LSH candidate count against the historical corpus.

    Stream-static join semantics do the heavy lifting: the bands table is
    a static parquet source re-planned per micro-batch, the join is equi
    on the 8-byte (band_idx, band_hash) key, and only (id, band hash)
    tuples from the CURRENT batch ever enter the join — corpus text is
    never re-read and the join itself holds no state (the static side has
    unbounded lifetime). The final shared-band count, however, IS a
    stateful aggregate with no watermark: it runs only in update/complete
    output mode (append is rejected), and its state grows with the number
    of distinct (doc_id, corpus_id) candidate pairs seen over the life of
    the query. That is the right contract for a bounded screening run
    (tests, backfills); a production firehose should instead wrap the
    JOIN-only plan in `foreachBatch` and aggregate within each batch —
    documents arrive exactly once, so per-batch counts are already
    complete, and no cross-batch state accumulates. The output is one row
    per (incoming doc, corpus candidate) with the shared-band count — the
    collision strength LSH theory maps to similarity. Exact-Jaccard
    verification stays a batch concern (`match_against_index`); streaming
    aggregation rules also make the pair-grain the right output (a per-doc
    DISTINCT candidate count is not a supported streaming aggregate)."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        _band_table,
        minhash_signature_col,
    )

    rows = num_hashes // bands
    # Per-row signature fold (no aggregate): keeps the plan's ONLY stateful
    # operator the final pair-count, which streaming requires.
    sig = docs_stream.select(
        F.col(id_col).alias("id"),
        minhash_signature_col(F.col(text_col), num_hashes, shingle_k).alias("sig"),
    )
    banded = _band_table(sig, bands, rows)
    idx = spark.read.parquet(f"{index_path}/bands").select(
        F.col("id").alias("corpus_id"), "band_idx", "band_hash"
    )
    return (
        banded.join(idx, ["band_idx", "band_hash"])
        .groupBy(F.col("id").alias(id_col), F.col("corpus_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def screen_stream_per_batch(
    docs_stream: DataFrame,
    spark: SparkSession,
    index_path: str,
    sink,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
):
    """Production variant of `screen_stream_against_index` for an unbounded
    firehose: each micro-batch runs the full BATCH matcher
    (`match_against_index` — candidate join + exact-Jaccard verification)
    via `foreachBatch` and hands verified matches to `sink(df, batch_id)`.

    Documents arrive exactly once per micro-batch, so per-batch results
    are already complete and NO cross-batch streaming state exists — the
    aggregate/join run as ordinary batch plans inside the batch function,
    sidestepping both the unwatermarked-state growth of the always-on
    shared-band count and streaming's single-stateful-operator rule (the
    exact-Jaccard verify join would otherwise be unreachable). Each batch
    runs in its own plan scope, so the batch's pinned signature table is
    released once `sink` returns. Returns the started StreamingQuery
    (caller owns the lifecycle)."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        match_against_index,
    )
    from eurostat_energy_etl_pipeline_spark.plans import scope

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        with scope():
            matches = match_against_index(
                spark,
                batch_df.select(
                    F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
                ),
                index_path,
                num_hashes=num_hashes,
                bands=bands,
                shingle_k=shingle_k,
                threshold=threshold,
            )
            sink(matches, batch_id)

    return docs_stream.writeStream.foreachBatch(run_batch).start()


_TRANS_STATE_SCHEMA = StructType(
    [
        StructField("last_us", LongType()),
        StructField("last_eid", LongType()),
        StructField("last_type", StringType()),
    ]
)
_TRANS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("src", StringType()),
        StructField("dst", StringType()),
        StructField("n", LongType()),
    ]
)


def _update_user_transitions(key, pdfs, state: GroupState):
    """Per-user first-order transition extraction with cross-batch state:
    the state carries the user's LAST event (ts-micros, event_id, type),
    so the pair spanning a micro-batch boundary is emitted exactly once.
    Emits per-batch transition-count DELTAS — downstream sums of deltas
    are correct under any batch split, and the memory-sink rollup never
    needs to disambiguate cumulative snapshots."""
    rows = [p for p in pdfs if len(p)]
    if not rows:
        return
    pdf = pd.concat(rows, ignore_index=True)
    us = pdf["ts"].astype("int64") // 1000  # ns -> us, exact ints
    pdf = pdf.assign(_us=us).sort_values(["_us", "event_id"])
    ev = list(zip(pdf["_us"], pdf["event_id"], pdf["event_type"]))
    if state.exists:
        # Merge the stored last event into the batch by the SAME
        # (ts-micros, event_id) order the batch window uses, instead of
        # unconditionally prepending it: if out-of-order file discovery
        # ever delivers events EARLIER than the stored state, they are
        # counted in timestamp order (late -> stored, never the reversed
        # stored -> late pair). With O(1) state the late event's true
        # predecessor from an earlier batch is unrecoverable — that one
        # boundary pair is the documented loss — but no transition is
        # ever emitted in the wrong direction, and in-order streams
        # (the q143 oracle contract) are bit-identical to prepending.
        last_us0, last_eid0, last_type0 = state.get
        stored = (int(last_us0), int(last_eid0), last_type0)
        merged = sorted(ev + [stored], key=lambda t: (t[0], t[1]))
        seq = [t[2] for t in merged]
        new_last = max(ev[-1], stored, key=lambda t: (t[0], t[1]))
    else:
        seq = [t[2] for t in ev]
        new_last = ev[-1]
    counts: dict[tuple[str, str], int] = {}
    for a, b in zip(seq, seq[1:]):
        counts[(a, b)] = counts.get((a, b), 0) + 1
    state.update((int(new_last[0]), int(new_last[1]), new_last[2]))
    if counts:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(counts),
                "src": [k[0] for k in counts],
                "dst": [k[1] for k in counts],
                "n": list(counts.values()),
            }
        )


def transition_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: incremental per-user event-transition
    extraction (the streaming twin of the q143 batch lead() window) via
    applyInPandasWithState. Ordering inside a batch is (ts, event_id) —
    the same deterministic contract as the batch window — and the
    boundary pair between batches comes from the stored last event."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_transitions,
        outputStructType=_TRANS_SCHEMA,
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_HLL_STATE_SCHEMA = StructType([StructField("mr", LongType())])
_HLL_OUT_SCHEMA = StructType(
    [StructField("reg", LongType()), StructField("mr", LongType())]
)


def _update_hll_register(key, pdfs, state: GroupState):
    """Per-register HLL maintenance: state is the running max leading-one
    rank for this register; a batch emits the register's new max ONLY
    when it grows (monotone updates — the sink rollup takes max per
    register, so replays/batch splits can never double-count: max is
    idempotent, the sketch property that makes HLL streamable at all)."""
    mx = 0
    for p in pdfs:
        if len(p):
            mx = max(mx, int(p["rho"].max()))
    if mx == 0:
        return
    cur = int(state.get[0]) if state.exists else 0
    if mx > cur:
        state.update((mx,))
        yield pd.DataFrame({"reg": [int(key[0])], "mr": [mx]})


def hll_register_stream(events: DataFrame) -> DataFrame:
    """Streaming HyperLogLog: the q136 64-register sketch maintained
    incrementally over the event firehose via applyInPandasWithState —
    register/rank derivation (portable 60-bit md5 prefix, top-6 bits
    register, leading-one rank of the low 54) is scan-side on the
    stream; state is ONE long per register (64 longs total for any
    event volume). The streaming twin of the q136 batch audit."""
    hv = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("hv")
    )
    h = events.select(hv)
    rem = F.col("hv") % F.lit(18014398509481984)  # 2^54
    r = h.select(
        F.expr("hv div 18014398509481984").cast("long").alias("reg"),
        F.when(rem == 0, F.lit(55))
        .otherwise(F.instr(F.lpad(F.bin(rem), 54, "0"), "1").cast("long"))
        .alias("rho"),
    )
    return r.groupBy("reg").applyInPandasWithState(
        _update_hll_register,
        outputStructType=_HLL_OUT_SCHEMA,
        stateStructType=_HLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SCD2_STATE_SCHEMA = StructType([StructField("counts_json", StringType())])
_SCD2_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", StringType()),
        StructField("status", StringType()),
        StructField("version", LongType()),
    ]
)


def _update_user_status_days(key, pdfs, state: GroupState):
    """Per-user DAILY-STATUS maintenance for streaming SCD2 (the
    stateful half of the q178 dimension): state is the user's per-day
    event-type counts (JSON — O(#days-in-window x #types) per user, a
    retention-bounded domain, never per-event). Each batch merges its
    (day, type) increments in, recomputes the dominant status (count
    desc, type asc — the batch `_daily_status` contract) for every day
    the batch TOUCHED, and emits (user, day, status, version) where
    version = the day's cumulative event count. Versions strictly
    increase per (user, day) update, so the sink rollup's max-version
    pick is batch-split- and replay-invariant: the surviving row is
    always the one computed from the day's FINAL counts, no matter how
    micro-batches sliced the arrivals or which intermediate dominants
    were emitted along the way."""
    import json

    rows = [p for p in pdfs if len(p)]
    if not rows:
        return
    pdf = pd.concat(rows, ignore_index=True)
    counts: dict[str, dict[str, int]] = (
        json.loads(state.get[0]) if state.exists else {}
    )
    touched = set()
    for day, et in zip(pdf["day"], pdf["event_type"]):
        d = counts.setdefault(day, {})
        d[et] = d.get(et, 0) + 1
        touched.add(day)
    state.update((json.dumps(counts, sort_keys=True),))
    out = []
    for day in sorted(touched):
        d = counts[day]
        status = min(d.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append((int(key[0]), day, status, int(sum(d.values()))))
    yield pd.DataFrame(
        out, columns=["user_id", "day", "status", "version"]
    )


def scd2_status_stream(events: DataFrame) -> DataFrame:
    """Streaming dimension maintenance, stage 1 of the q178 SCD2 twin:
    incremental per-(user, day) dominant-status upkeep via
    applyInPandasWithState. The day key is computed scan-side on the
    stream (session-TZ date, the batch CAST(ts AS DATE) contract); the
    SCD2 run derivation itself is a deterministic view over this
    maintained grain (plans/events._scd2_rows in the sink rollup) —
    splitting it this way keeps the stateful operator's emissions
    versioned-monotone per key, the property that makes the rollup
    exactly-once under any batch split."""
    d = events.select(
        "user_id",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    return d.groupBy("user_id").applyInPandasWithState(
        _update_user_status_days,
        outputStructType=_SCD2_OUT_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
