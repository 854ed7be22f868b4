"""Physical-plan quality gates — the 100 TB design assertions, encoded.

Correctness tests prove the operators compute the right rows; these prove
they compute them with the plan we would want on a 1000-executor cluster:
filters reach the parquet scan, unused columns are pruned, dimension joins
broadcast, aggregates combine map-side, top-k never global-sorts, and the
grouped-map ML stage keeps exactly the one explicit repartition (AQE must
not serialize it). A regression here is a scale bug even when row-level
results stay correct.
"""

import contextlib
import io

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    # Plan assertions must see the static (pre-AQE-finalized) plan; a
    # DataFrame memoized and already executed by an earlier test would
    # explain() its runtime-adapted plan instead.
    from eurostat_energy_etl_pipeline_spark.plans import clear_plan_cache

    clear_plan_cache()
    return entry_mod.queries()


def test_q01_filter_and_projection_pushed(spark, queries):
    plan = plan_of(queries["q01_filter_project"](spark, SF_DIR))
    assert "EqualTo(o_orderstatus,F)" in plan  # predicate reaches the scan
    # column pruning: the scan must not read unprojected columns
    assert "o_orderdate" not in plan
    assert "o_comment" not in plan


def test_q06_topk_is_take_ordered_with_partial_agg(spark, queries):
    plan = plan_of(queries["q06_topk_avg"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT k
    assert "partial_" in plan  # map-side combine before the exchange
    assert plan.count(") Exchange") == 1  # exactly the agg shuffle


def test_q14_dimension_join_broadcasts(spark, queries):
    plan = plan_of(queries["q14_join_agg"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # nation must never shuffle the fact


def test_q15_left_join_broadcasts(spark, queries):
    plan = plan_of(queries["q15_left_join_coalesce"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q16_semi_join_broadcasts(spark, queries):
    plan = plan_of(queries["q16_left_semi"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_q19_dedup_counts_never_shuffle_text(spark, queries):
    plan = plan_of(queries["q19_dedup_exact"](spark, SF_DIR))
    # count(distinct text) partial-aggregates before every exchange
    assert "partial_" in plan


def test_forecast_single_explicit_repartition(spark, queries):
    plan = plan_of(queries["q35_forecast"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in plan
    # one REPARTITION_BY_NUM exchange (ours, AQE-exempt); groupBy must reuse
    # it rather than adding an ENSURE_REQUIREMENTS shuffle of its own.
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert "FlatMapGroupsInPandas" in plan.split("REPARTITION_BY_NUM")[0]


def test_q22_embedding_topk_single_pass(spark, queries):
    plan = plan_of(queries["q22_embedding_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # 1-row query side must broadcast


def test_scan_reuses_cached_observations(spark, queries):
    # dashboard queries must hit the cached fact view, not re-join parquet
    df = queries["q_dash_top10_latest"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()  # materialize the cache
    plan = plan_of(queries["q_dash_year_range"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan or "Scan In-memory" in plan


def test_q11_reads_cached_rollup_with_two_execution_exchanges(spark, queries):
    # The (custkey, yr) rollup is served from the shared cached view
    # (q11/q12 are two lenses over one materialization): the aggregate's
    # exchange lives INSIDE the InMemoryRelation build — paid once at cache
    # materialization. Before the cache materializes its output
    # partitioning is unknown, so the plan shows the window's hash
    # exchange + the final sort's range exchange (2); once materialized
    # the cached batches advertise hashpartitioning(custkey) and the
    # window reads them exchange-free, leaving only the sort (1). Three+
    # means the cache stopped being read or the window double-shuffles.
    # formatted explain prints each node twice (tree + details); count
    # tree entries only, split at the cache node.
    plan = plan_of(queries["q11_lag"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan, plan
    per_execution = plan.split("InMemoryRelation", 1)[0]
    assert per_execution.count("+- Exchange") in (1, 2), plan


def test_q50_chunking_is_shuffle_free(spark, queries):
    # Chunking is scan-side Generate (explode) + projections; the only
    # exchange allowed is the presentation sort's range partitioning.
    plan = plan_of(queries["q50_doc_chunks"](spark, SF_DIR))
    assert "Generate" in plan
    assert plan.count("+- Exchange") <= 1, plan


def test_q52_decontamination_broadcasts_benchmark(spark, queries):
    # The benchmark gram side must broadcast; the corpus grams must never
    # sort-merge (that would shuffle |corpus grams| rows by gram key).
    plan = plan_of(queries["q52_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_q55_cohesion_broadcasts_centroids(spark, queries):
    # Centroids are |labels| x dim rows — broadcast back to the exploded
    # vectors rather than shuffling the vector side a second time.
    plan = plan_of(queries["q55_label_cohesion"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q56_tombstone_anti_join_broadcasts(spark, queries):
    plan = plan_of(queries["q56_tombstone_delete"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_q53_global_ntile_never_single_partition(spark, queries):
    # NTILE over a total order must come from the deterministic-bucket +
    # per-bucket-offset kernel (operators/ranking.py), never from a
    # single-partition window: every row through one task is the canonical
    # 100 TB scale-killer. The bucket column must come from the codegen'd
    # boundary when-chain (run-stable layout), not repartitionByRange,
    # whose per-action sampler reseed scrambled ranks at sf0.1 (round 4).
    plan = plan_of(queries["q53_quality_deciles"](spark, SF_DIR))
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan.lower()  # layout-luck-free
    assert "hashpartitioning(__b" in plan  # deterministic bucket exchange
    assert "windowspecdefinition(__b" in plan  # window is partitioned


def test_q62_json_extraction_stays_scan_side(spark, queries):
    plan = plan_of(queries["q62_json_props"](spark, SF_DIR))
    # Only the two needed columns are read; the JSON strings never survive
    # past the partial aggregate (no props column above the scan project).
    assert "ReadSchema: struct<event_type:string,props:string>" in plan
    assert "partial_" in plan  # map-side combine before the exchange


def test_q66_no_skewed_instance_window_and_shared_grain(spark, queries):
    # Round-3 shape attached corpus frequencies with a count window over
    # raw token instances partitioned by token — the hottest token in one
    # task at corpus scale. The de-skewed shape (same as q82) must show
    # no Window at all, and the (doc,lang,tk) multiplicity grain's
    # exchange must be computed once and shared by the frequency rollup
    # and the score join (AQE proves subtree identity at runtime, so the
    # ReusedExchange only appears in the final executed plan).
    df = queries["q66_rare_word_filter"](spark, SF_DIR)
    static_plan = plan_of(df)
    assert ") Window" not in static_plan
    df.collect()
    final_plan = plan_of(df)
    assert "ReusedExchange" in final_plan, final_plan


def test_q64_funnel_single_user_keyed_lineage(spark, queries):
    plan = plan_of(queries["q64_funnel"](spark, SF_DIR))
    # Stage joins must not broadcast the event scan side as a whole and the
    # final stage counts are 1-row cross joins (no exchange for them).
    assert "CartesianProduct" not in plan  # 1-row joins plan as BNLJ
    assert "BroadcastNestedLoopJoin" in plan


def test_q68_grouped_topk_single_window_pass(spark, queries):
    plan = plan_of(queries["q68_topk_per_group"](spark, SF_DIR))
    # One lang-keyed exchange for the window; the rank filter must not
    # introduce a second shuffle (presentation sort is a coalesce), and
    # Spark's WindowGroupLimit must push the rk<=3 bound below the sort so
    # each partition keeps only k rows per group before ranking.
    assert plan.count(") Exchange") == 1
    assert "WindowGroupLimit" in plan


def test_q61_canonical_rank_and_count_share_window_exchange(spark, queries):
    plan = plan_of(queries["q61_canonical_docs"](spark, SF_DIR))
    # row_number and the member count partition identically — exactly two
    # exchanges total: the narrow-scan widening round-robin plus ONE
    # (lang, bucket) hash exchange shared by both window functions.
    assert plan.count(") Exchange") == 2


def test_q63_incremental_probe_broadcasts_the_batch(spark, queries):
    plan = plan_of(queries["q63_incremental_dedup"](spark, SF_DIR))
    # The corpus index side must stream through broadcast joins; the big
    # side is never exchanged for the candidate join.
    assert "BroadcastHashJoin" in plan


def test_q75_bm25_probe_is_inlist_over_index(spark, queries):
    # The search must filter the posting index by the query's literal
    # terms (an IN-list reaching the cached index, cost ~ matched
    # postings) and take top-k without a global sort.
    plan = plan_of(queries["q75_bm25_search"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "term" in plan and " IN (" in plan.replace("IN(", " IN (")


def test_q76_histogram_prunes_to_two_columns(spark, queries):
    # The bucketed aggregate must read only lang + n_chars — never text.
    plan = plan_of(queries["q76_length_histogram"](spark, SF_DIR))
    scan = plan.split("Scan parquet", 1)[1]
    schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "lang" in schema and "n_chars" in schema
    assert "text" not in schema


def test_q77_mean_and_std_share_one_window_exchange(spark, queries):
    # avg/stddev/count attach over the same (geo, indicator) key: ONE
    # Window node carries all three functions (one exchange), not one
    # window pass per aggregate. (Counting exchanges directly is
    # order-dependent: the shared yearly-series view may already be
    # cached by an earlier test, which changes the upstream plan.)
    plan = plan_of(queries["q77_anomaly_zscore"](spark, SF_DIR))
    assert plan.count(") Window") == 1, plan
    # The (single) Window node's detail block lists all three aggregates.
    win_detail = plan.split(") Window", 1)[1][:1500]
    for fn in ("avg(", "stddev_samp(", "count("):
        assert fn in win_detail, win_detail


def test_q78_vocab_topk_no_full_vocab_single_partition_window(spark, queries):
    # The rank must attach AFTER the ordered limit (20 rows), never as a
    # SinglePartition window over the whole vocabulary.
    plan = plan_of(queries["q78_vocab_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    win = plan.split(") Window", 1)
    assert len(win) == 2  # the 20-row rank window exists...
    # ...and the big aggregate combines map-side before any exchange.
    assert "partial_count" in plan or "HashAggregate" in plan


def test_q79_quantize_audit_never_shuffles_vectors(spark, queries):
    # The only exchange is the label-keyed rollup of (label, doubles);
    # embedding arrays stay scan-side.
    plan = plan_of(queries["q79_quantize_audit"](spark, SF_DIR))
    assert plan.count("+- Exchange") <= 2, plan  # agg + presentation sort
    post = plan.split("Exchange", 1)[1]
    assert "embedding" not in post.split("Scan parquet")[0]


def test_q82_bigram_lm_no_skewed_instance_window(spark, queries):
    # Round-3 shape used count windows over the raw bigram-instance
    # stream partitioned by prefix — the hottest token ("the") serialized
    # into ONE task at corpus scale. The de-skewed shape pre-aggregates
    # to (doc, bigram, m) and joins aggregated count tables back, so:
    # no Window over any skewed key, and the (doc,bigram) grain's shuffle
    # is computed once and shared — AQE proves the subtrees canonically
    # equal at runtime (ReusedExchange in the FINAL plan; the static plan
    # still shows the duplicated lineage, which is why this asserts after
    # execution).
    # r11 exception: ONE window is allowed — the prefix-total sum over
    # the aggregated (bigram, c_bg) TYPE-grain table (bounded by |V| per
    # prefix). The forbidden shape remains a window over the raw
    # instance stream, so the single Window block must consume c_bg.
    df = queries["q82_bigram_lm_score"](spark, SF_DIR)
    static_plan = plan_of(df)
    win_blocks = [
        b
        for b in static_plan.split("\n\n")
        if b.lstrip().startswith("(") and ") Window" in b.splitlines()[0]
    ]
    assert len(win_blocks) == 1, static_plan
    assert "c_bg#" in win_blocks[0], win_blocks[0]
    df.collect()
    final_plan = plan_of(df)
    assert "ReusedExchange" in final_plan  # (doc,lang,bigram) grain shared


def test_q87_knn_join_is_blas_kernel_no_join_no_shuffle(spark, queries):
    # Exact kNN join executes as the Arrow-batched BLAS kernel (queries
    # matmul the broadcast neighbor matrix inside MapInPandas) — there
    # must be NO join node and no pair-stream materialization; the only
    # exchange is the presentation sort. (The BNLJ + per-pair HOF cosine
    # shape measured 130x slower than DuckDB at sf0.1.)
    plan = plan_of(queries["q87_knn_join_exact"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("+- Exchange") <= 2, plan  # widen + presentation sort


def test_q88_lsh_knn_candidates_are_cogrouped_cells(spark, queries):
    # The scale path must NEVER plan an unconditioned pair stream for
    # candidate generation — and (round 5) must not MATERIALIZE the
    # bucketed pair stream either: both sides co-group on the (table,
    # bucket) key and each cell is scored by one vectorized fold kernel
    # that emits only per-query cell top-k, so Arrow carries each vector
    # once per PROBE, never once per candidate pair, and the dedup
    # exchange carries (qid, nid, cos) 24-byte rows. (Since r10 the
    # correctness side is the full DuckDB oracle — no in-plan
    # certification stage exists anymore.)
    plan = plan_of(queries["q88_knn_join_lsh"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan  # the (tbl, bucket) cell kernel
    assert "WindowGroupLimit" in plan  # rerank bound pushed down
    # candidate dedup is an aggregate (map-side combinable), not a sort
    assert "HashAggregate" in plan
    # vectors shuffle ONLY into the co-group exchanges (once per probe);
    # every exchange above the cell kernel carries small rows only.
    import re as _re
    above_kernel = plan.split("FlatMapCoGroupsInPandas", 1)[0]
    for mt in _re.finditer(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", above_kernel
    ):
        assert "_qv" not in mt.group(1) and "_nv" not in mt.group(1), mt.group(1)


def test_q89_bpe_pairs_aggregate_on_type_grain_no_window(spark, queries):
    # Tokenizer-training counts must reduce the instance stream to the
    # word-TYPE table first (Zipf compression), explode pairs once per
    # distinct word, and re-aggregate — two map-side-combined shuffles,
    # a TakeOrderedAndProject top-20, and no Window anywhere.
    plan = plan_of(queries["q89_bpe_pair_stats"](spark, SF_DIR))
    assert ") Window" not in plan
    assert "TakeOrderedAndProject" in plan
    # word-type agg + pair agg, plus widen_if_narrow's input repartition
    # (narrow-fixture parallelism; a no-op at real file counts)
    assert plan.count("+- Exchange") <= 3, plan
    # Generate (the pair explode) must sit ABOVE the word-type aggregate,
    # i.e. between the two exchanges — never directly over the scan.
    scan_side = plan.split("Exchange", 1)[0]
    assert "Generate" not in scan_side


def test_q90_trailing_burst_single_user_exchange(spark, queries):
    # The time-RANGE window and the per-user aggregate must share ONE
    # hashpartitioning(user_id) exchange (the groupBy reuses the window's
    # clustering); the only other exchange is the presentation sort's
    # range partitioning. The scan must prune to (ts, user_id).
    plan = plan_of(queries["q90_trailing_burst"](spark, SF_DIR))
    assert plan.count("+- Exchange") <= 2, plan
    assert plan.lower().count("hashpartitioning") == 1, plan
    scan = plan.split("ReadSchema:", 1)[1].split("\n", 1)[0]
    assert "event_type" not in scan and "payload" not in scan


def test_q91_lloyd_assignment_scan_side_single_agg_exchange(spark, queries):
    # Full-corpus Lloyd: assignment must be a pure projection (centroids
    # inlined as constant-folded literals — NO centroid join, no window),
    # and the update one map-side-combined aggregate; exchanges are the
    # narrow-input widen, the (cid,pos) agg, and the presentation sort.
    plan = plan_of(queries["q91_kmeans_update"](spark, SF_DIR))
    assert ") Window" not in plan
    assert "Join" not in plan
    assert plan.count("+- Exchange") <= 3, plan
    assert "partial" in plan  # the explode collapses before the shuffle


def test_q92_span_coverage_hashes_grams_and_doc_keyed_window(spark, queries):
    # Duplicate detection must aggregate on the sha2 gram key (the gram
    # STRING must never be a shuffle key), the interval-union window must
    # partition on the high-cardinality doc key (never SinglePartition),
    # and the gram explode must be scan-side (Generate below any exchange).
    plan = plan_of(queries["q92_dup_span_coverage"](spark, SF_DIR))
    assert "sha2" in plan
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(id" in plan
    assert "partial_count" in plan  # map-side combine on the gram-hash agg


def test_bpe_training_iteration_plan(spark):
    # q93's per-merge iteration, asserted on the operator pieces (the
    # query itself executes eagerly, driver-coordinated like Lloyd's):
    # the pair-count argmax must be a map-side-combined aggregate feeding
    # TakeOrderedAndProject (one row to the driver), and applying a merge
    # must be a narrow string map — zero additional exchanges.
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.operators.bpe import (
        _pair_counts,
        apply_merge,
        encode_symbols,
        word_type_table,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = word_type_table(docs).select(
        encode_symbols(F.col("w")).alias("enc"), "m"
    )
    argmax = _pair_counts(base).orderBy(F.desc("n"), "a", "b").limit(1)
    plan = plan_of(argmax)
    assert "TakeOrderedAndProject" in plan
    assert "partial_" in plan  # pair counts combine map-side
    assert ") Window" not in plan
    # word-type agg + pair agg: exactly two exchanges
    assert plan.count("+- Exchange") == 2, plan
    merged_plan = plan_of(apply_merge(base, "e", "r"))
    assert merged_plan.count("Exchange") == plan_of(base).count("Exchange")


def test_q98_tokenizer_application_is_scan_side_kernel(spark, queries):
    # Tokenizer application is the q94 kernel class: one scan-side
    # mapInPandas pass emitting a row per document — no join, no
    # instance-grain shuffle; the only exchange allowed is the final
    # presentation sort's range partitioning.
    plan = plan_of(queries["q98_bpe_encode"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert plan.count("+- Exchange") <= 2, plan  # widen + final sort


def test_q97_semdedup_cell_equi_join_no_all_pairs(spark, queries):
    # SemDeDup candidates come from the cell-id equi-join; there must be
    # no cartesian/BNLJ pair stage in the registered plan.
    plan = plan_of(queries["q97_semantic_dedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q99_pagerank_iterations_read_pinned_edges(spark, queries):
    # Each power iteration must join against the PINNED, pre-partitioned
    # edge table (InMemoryTableScan), never re-derive the fact-fact join
    # per iteration (the 5.3s -> 1.2s round-5 fix); no cartesian/BNLJ.
    df = queries["q99_pagerank"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()  # materialize pins
    plan = plan_of(df)
    assert "InMemoryTableScan" in plan or "Scan In-memory" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q100_weighted_sample_is_take_ordered(spark, queries):
    # The weighted draw is a scan-side expression + TakeOrderedAndProject:
    # per-partition heaps, never a global sort, no shuffle beyond the
    # k-row driver merge.
    plan = plan_of(queries["q100_weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert ") Window" not in plan
    assert plan.count("+- Exchange") <= 1, plan  # widen only


def test_q101_state_history_single_user_shuffle(spark, queries):
    # SCD2 compaction is two window passes over ONE user-keyed exchange —
    # no self-join, no second instance-grain shuffle.
    plan = plan_of(queries["q101_state_history"](spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("hashpartitioning(user_id") >= 1
    # exchanges: widen + the user_id window shuffle + presentation sort
    assert plan.count("+- Exchange") <= 3, plan


def test_runtime_bloom_filter_injects_on_fact_fact_join(spark, queries):
    """At 100 TB the selective side of a fact-fact join prunes the big
    side via Spark's runtime bloom filter (row-level semi-join pushdown
    into the scan). The size thresholds that gate injection are
    production-scale, so this pins the CAPABILITY at fixture scale by
    lowering them for one plan build: the filtered orders side must
    inject `might_contain(...)` into the lineitem scan filter."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            F.col("o_orderstatus") == "F"
        )
        plan = plan_of(
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q107_prefix_join_shuffles_longs_not_text(spark, queries):
    """The prefix-Jaccard join must (a) never plan a cartesian/NL join —
    candidates are equi-joins on shingle hashes, (b) hash shingles to
    longs before any exchange (xxhash64 present; the only string the plan
    needs past the scan is nothing — no `text` column survives the first
    projection)."""
    plan = plan_of(queries["q107_prefix_jaccard_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "xxhash64" in plan
    # coalesce(1) would serialize the verify stage (the 49s regression)
    assert "Coalesce 1" not in plan


def test_q112_keyword_extract_single_doc_window(spark, queries):
    """One doc-keyed window over the cached posting index: exactly one
    row_number window, no global sort."""
    plan = plan_of(queries["q112_keyword_extract"](spark, SF_DIR))
    assert plan.count("Window") >= 1
    assert "row_number" in plan
    # result is unsorted: no range-partitioned global sort stage
    assert "rangepartitioning" not in plan.lower()


def test_q113_cms_grid_probes_broadcast(spark, queries):
    """The CMS estimate side must probe the 1024-cell grid with a
    broadcast join — the sketch never shuffles the token stream twice
    into a SortMergeJoin."""
    plan = plan_of(queries["q113_cms_audit"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q114_edit_join_equi_candidates_no_all_pairs(spark, queries):
    """Segment filtering means candidates come from equi-joins; an
    all-pairs levenshtein would plan a cartesian."""
    plan = plan_of(queries["q114_edit_distance_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_q115_pipeline_single_scan_and_fingerprint_window(spark, queries):
    """The composed pipeline computes score+fingerprint+sample flags in
    one pass: exactly one fingerprint-keyed window, the per-lang totals
    join broadcasts, and nothing global-sorts."""
    plan = plan_of(queries["q115_pipeline"](spark, SF_DIR))
    assert plan.count(") Window") == 1  # tree nodes, not the details echo
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_q117_snapshot_diff_prunes_text_before_join(spark, queries):
    """Content is compared as md5, so the wide text column must not
    survive into the full-outer join's doc_id-keyed exchanges (the
    widen repartition upstream of the md5 Project legitimately carries
    text; the ENSURE_REQUIREMENTS shuffles feeding the join must not)."""
    plan = plan_of(queries["q117_snapshot_diff"](spark, SF_DIR))
    assert "md5" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    join_exchanges = [
        block
        for block in plan.split("\n\n")
        if block.lstrip().startswith("(")
        and ") Exchange" in block.splitlines()[0]
        and "hashpartitioning(doc_id" in block
    ]
    assert join_exchanges, "expected doc_id-keyed exchanges feeding the join"
    for block in join_exchanges:
        assert "text#" not in block, f"text column not pruned:\n{block}"


def test_q119_quantile_normalize_no_single_partition_window(spark, queries):
    """The global rank comes from the distributed kernel — the only
    SinglePartition exchange allowed is the 1-row corpus-count scalar
    aggregate, never a window input."""
    plan = plan_of(queries["q119_quantile_normalize"](spark, SF_DIR))
    assert plan.count("Exchange SinglePartition") <= 1


def test_q120_negative_sampling_equi_join_no_cartesian(spark, queries):
    """Probe resolution is one id-keyed equi-join; an all-pairs plan
    would show a cartesian/NL join."""
    plan = plan_of(queries["q120_negative_sampling"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q122_pmi_topk_no_global_sort(spark, queries):
    """The top-20 must plan as TakeOrderedAndProject over the
    vocabulary-grain scored table — no range exchange; the only
    nested-loop join allowed is the broadcast 1-row totals."""
    plan = plan_of(queries["q122_pmi_collocations"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_q123_benford_single_aggregate_no_shuffle_join(spark, queries):
    """One 9-group aggregate + a broadcast 1-row total: no sort-merge
    join, no range exchange anywhere."""
    plan = plan_of(queries["q123_benford_audit"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_q124_interarrival_window_is_user_partitioned(spark, queries):
    """The lag window must partition by user_id — a single-partition
    window over the event stream would serialize the corpus."""
    plan = plan_of(queries["q124_interarrival_stats"](spark, SF_DIR))
    assert "hashpartitioning(user_id" in plan
    # the only allowed SinglePartition is none: window input is keyed
    assert "Exchange SinglePartition" not in plan


def test_q125_novelty_grams_shuffle_as_longs(spark, queries):
    """First-seen keys on the xxhash64 gram hash; the raw gram strings
    must not survive into the exchanges."""
    plan = plan_of(queries["q125_novelty_rate"](spark, SF_DIR))
    assert "xxhash64" in plan
    exchanges = [
        b
        for b in plan.split("\n\n")
        if b.lstrip().startswith("(") and ") Exchange" in b.splitlines()[0]
    ]
    assert exchanges
    for b in exchanges:
        assert "g#" not in b, f"raw gram string in an exchange:\n{b}"


def test_q126_centroid_pairwise_is_equi_join(spark, queries):
    """The pairwise stage joins the |labels| x dim centroid table on pos
    — no cartesian / nested-loop over the corpus."""
    plan = plan_of(queries["q126_centroid_similarity"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q127_pca_result_is_arrow_local_scan(spark, queries):
    """The registered plan is the driver-computed loading table shipped
    as an Arrow LocalTableScan (the q93 contract) — never a python-RDD
    scan, and the gramian work happens at build time, not per
    execution."""
    plan = plan_of(queries["q127_pca_power"](spark, SF_DIR))
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


def test_q128_kmv_sketch_sides_take_ordered(spark, queries):
    """Both per-half sketches and the merged union sketch must plan as
    TakeOrderedAndProject (O(K) state), never a global sort of the
    hashed token stream."""
    plan = plan_of(queries["q128_kmv_set_ops"](spark, SF_DIR))
    assert plan.count("TakeOrderedAndProject") >= 3
    assert "rangepartitioning" not in plan.lower()


def test_q132_sorted_neighborhood_block_equi_join(spark, queries):
    """Neighborhood candidates come from an equi-join on rank blocks —
    no cartesian/nested-loop, and the rank itself from the distributed
    kernel (no single-partition window)."""
    plan = plan_of(queries["q132_sorted_neighborhood"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "levenshtein" in plan


def test_q129_mad_type_tables_broadcast(spark, queries):
    """The type-grain median/MAD tables must broadcast back to the event
    stream — never a sort-merge join of the stream against them."""
    plan = plan_of(queries["q129_mad_outliers"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q130_ks_window_is_value_grain(spark, queries):
    """The cumulative window may be unpartitioned ONLY because its input
    is the value-grain aggregate; the aggregate must sit below the
    window (one n_chars-keyed exchange feeding it)."""
    plan = plan_of(queries["q130_ks_drift"](spark, SF_DIR))
    assert "hashpartitioning(n_chars" in plan


def test_q131_gini_uses_ranking_kernel(spark, queries):
    """The global rank must come from the deterministic-bucket kernel —
    no single-partition window, no range partitioning."""
    plan = plan_of(queries["q131_gini_concentration"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan.split("HashAggregate", 1)[0]
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(__b" in plan


def test_q133_basket_pairs_topk_no_global_sort(spark, queries):
    """Pair counts aggregate before the support joins; top-20 is
    TakeOrderedAndProject — no range exchange, no cartesian beyond the
    broadcast 1-row basket count."""
    plan = plan_of(queries["q133_basket_pairs"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_q134_twap_window_is_user_partitioned(spark, queries):
    """The lead window must partition by user_id (the q124 contract)."""
    plan = plan_of(queries["q134_twap"](spark, SF_DIR))
    assert "hashpartitioning(user_id" in plan
    assert "Exchange SinglePartition" not in plan


def test_q135_weighted_quantiles_use_prefix_kernel(spark, queries):
    """The running weight comes from the deterministic-bucket kernel —
    no single-partition window over the fact stream."""
    plan = plan_of(queries["q135_weighted_quantiles"](spark, SF_DIR))
    assert "hashpartitioning(__b" in plan
    assert "rangepartitioning" not in plan.lower()


def test_q136_hll_register_state_is_tiny(spark, queries):
    """The sketch side reduces to 64 register maxima — the register
    aggregate must map-side combine, and the spine join must broadcast;
    no global sort anywhere."""
    plan = plan_of(queries["q136_hll_audit"](spark, SF_DIR))
    assert "partial_max" in plan
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_q137_truncation_is_scan_side(spark, queries):
    """Per-vector energy ratios are row arithmetic (slice + fold)
    exploded over the 4-row budget spine; the only exchanges allowed
    are the widen repartition and the 4-group rollup's — in particular
    no join exchange and no range sort."""
    plan = plan_of(queries["q137_truncation_audit"](spark, SF_DIR))
    assert "Generate" in plan
    assert plan.count("+- Exchange") <= 2, plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_q138_bloom_bitmap_broadcasts(spark, queries):
    """The 32-word bitmap rides broadcasts into the fact stream — the
    filter exists to DELETE the shuffle, so no sort-merge join and no
    range exchange may appear."""
    plan = plan_of(queries["q138_bloom_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_q139_checksum_is_one_aggregate(spark, queries):
    """The fingerprint is one map-side-combinable aggregate over the
    scan — no joins, no windows, no range exchange; row content never
    shuffles (only source + partial sums)."""
    plan = plan_of(queries["q139_table_checksum"](spark, SF_DIR))
    assert "partial_" in plan
    assert "Join" not in plan
    assert "rangepartitioning" not in plan.lower()
    exchanges = [
        b for b in plan.split("\n\n")
        if b.lstrip().startswith("(") and ") Exchange" in b.splitlines()[0]
        and "hashpartitioning(source" in b
    ]
    for b in exchanges:
        assert "text#" not in b, f"row content in an exchange:\n{b}"


def test_q140_chi_square_reduces_to_cell_grain(spark, queries):
    """The fact stream must collapse to (type, segment) cells right
    after the broadcast lookup; marginals broadcast back — no
    sort-merge join anywhere."""
    plan = plan_of(queries["q140_chi_square"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pinned_intermediates_release_to_baseline(spark, queries):
    """The r10 pin/release lifetime contract (VERDICT r9 item 4): every
    plan that persists a shared subtree registers the handle via
    plans.pin(), and after a query executes the harness can return the
    session's persistent-RDD count to its pre-build baseline with
    release_pins(name) — no cached blocks accumulate across a
    163-query session. Exercises every pin-using query."""
    from eurostat_energy_etl_pipeline_spark import plans as P

    # EVERY pin-using query — no exclusions. Queries whose kernels
    # localCheckpoint plan-lifetime intermediates (connected_components,
    # BFS levels, incremental artifacts) self-declare via
    # plans.at_rest() during build; the loop below reads
    # that registry instead of a hand-maintained exclusion list
    # (VERDICT r12 item 4): pins must still fully release for them, but
    # their declared checkpoint blocks may legitimately outlive the
    # release (freed only when the plan itself is dropped and GC'd).
    pin_users = [
        "q86_join_skew_profile",
        "q102_heldout_lm",
        "q144_winnowing",
        "q154_column_profile",
        "q122_pmi_collocations",
        "q128_kmv_set_ops",
        "q133_basket_pairs",
        "q136_hll_audit",
        "q138_bloom_join",
        "q140_chi_square",
        "q173_fs_linkage",
        "q175_hll_rolling",
        "q182_item_item_cf",
        "q183_budget_selection",
        "q185_curation_funnel",
        "q186_media_clusters",
        "q187_leakage_safe_split",
        "q191_cf_backtest",
        "q192_incremental_funnel",
        "q196_multitick_funnel",
        "q197_deletion_fold",
        "q200_lifecycle_fold",
        "q193_media_funnel",
        "q194_source_containment",
        "q195_incremental_media",
        "q198_incremental_containment",
        "q199_multitick_media",
        "q25_minhash_lsh_pairs",
        "q26_simhash_pairs",
        "q105_triangle_count",
        "q108_linear_gd",
    ]
    sc = spark.sparkContext

    def pinned_ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    for name in pin_users:
        # Warm pass: build + execute once so any lazily-built cached views
        # (catalog._VIEW_CACHE) the query needs exist BEFORE the baseline
        # snapshot, then drain ALL pins synchronously. The comparison is
        # by RDD-ID SET, not count: unrelated persistent entries can
        # disappear at any moment (ContextCleaner GC-unpersists cached
        # RDDs whose dropped plan-cache references get collected — the
        # source of two count-based flakes: "assert 30 > 32",
        # "assert 28 > 30"), so only the IDs this build ADDS and whether
        # the release removes exactly those are deterministic.
        P.clear_plan_cache()
        queries[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        P.release_pins(blocking=True)
        base = pinned_ids()
        P.clear_plan_cache()
        df = queries[name](spark, SF_DIR)  # build registers the pins
        df.write.format("noop").mode("overwrite").save()
        added = pinned_ids() - base
        assert added, f"{name}: expected pin() to register persisted blocks"
        released = P.release_pins(name, blocking=True)
        assert released >= 1, name
        leftover = pinned_ids() & added
        if name in P.checkpoint_users():
            # self-declared plan-lifetime checkpoint blocks: leftovers
            # are checkpointed intermediates the LIVE plan still
            # references — but ONLY those. at_rest registered the
            # declared block ids, so a genuine pin() leak in a
            # checkpoint-using query still fails here (ADVICE r13).
            declared = P.checkpoint_ids(name)
            if declared is not None:
                stray = leftover - declared
                assert not stray, (
                    f"{name}: release_pins left cached blocks {stray} that "
                    "are NOT declared plan-lifetime checkpoint blocks "
                    f"(declared: {sorted(declared)})"
                )
            # Drop every reference (local + plan cache) so
            # ContextCleaner can GC-release the checkpoint blocks —
            # full release while the plan lives is impossible by
            # construction.
            del df
            P.clear_plan_cache()
        else:
            assert not leftover, (
                f"{name}: release_pins left cached blocks {leftover} "
                "(and the query did not declare checkpoint blocks)"
            )
    # don't leak the LAST name's memoized plan (its pins are now
    # RELEASED): a later plan gate hitting that stale entry would see
    # raw FileScans where it asserts the pinned InMemoryRelation
    P.clear_plan_cache()


def test_q165_cusum_single_scan_day_grain(spark, queries):
    """The CUSUM windows may be unpartitioned ONLY because they run on
    the day-grain aggregate; the global mean is an unbounded window over
    that same table, so events is scanned exactly ONCE and only
    (ts, value) is read."""
    plan = plan_of(queries["q165_cusum_changepoint"](spark, SF_DIR))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert "ReadSchema: struct<ts:timestamp" in plan


def test_q167_km_single_scan_user_then_duration_grain(spark, queries):
    """Kaplan-Meier's windows run on the duration-grain table: the
    user-keyed aggregate sits below everything, the corpus ref day is a
    window over it (no second max(ts) scan branch), and only
    (ts, user_id) is read."""
    plan = plan_of(queries["q167_survival_km"](spark, SF_DIR))
    assert plan.count("events.parquet") == 1
    assert "SortMergeJoin" not in plan
    assert "ReadSchema: struct<ts:timestamp" in plan
    assert "user_id:bigint" in plan


def test_q168_skyline_frontier_broadcasts_no_cartesian(spark, queries):
    """The skyline's final point->customer join must broadcast the
    pruned frontier; dominance is window-based — no quadratic join
    anywhere."""
    plan = plan_of(queries["q168_skyline"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q169_zorder_single_aggregate_scan_side_interleave(spark, queries):
    """The Morton interleave is scan-side expression work: exactly ONE
    exchange (the bucket-grain aggregate) and a two-column read."""
    plan = plan_of(queries["q169_zorder_layout"](spark, SF_DIR))
    assert plan.count("+- Exchange") == 1
    assert "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>" in plan


def test_q170_phrase_join_filters_before_broadcast(spark, queries):
    """Positional phrase intersection: each posting side keeps only its
    query term BEFORE the join (Filter above Generate), the slimmer side
    broadcasts, and top-k is TakeOrderedAndProject."""
    plan = plan_of(queries["q170_phrase_search"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q171_normalize_is_pure_scan_side(spark, queries):
    """The normalization apply stage is shuffle-free: rewritten text,
    lengths, and md5 all happen in the scan's projection."""
    plan = plan_of(queries["q171_text_normalize"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_q173_fs_pairs_are_block_equi_join(spark, queries):
    """Fellegi-Sunter candidates come from the nation equi-join (never
    an unblocked pair enumeration); the 1-row weight table reaches the
    pattern census by broadcast."""
    plan = plan_of(queries["q173_fs_linkage"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the bounded 1-row weights


def test_q174_redact_single_type_keyed_exchange(spark, queries):
    """The redaction certificate is ONE type-keyed aggregate over
    scan-side regex rewrites — partial collect below the exchange (the
    only other exchange allowed is widen_if_narrow's fixture repartition
    at tiny SF)."""
    plan = plan_of(queries["q174_pii_redact"](spark, SF_DIR))
    assert "partial_collect_list" in plan
    assert plan.count("+- Exchange") <= 2


def test_q177_bitmaps_combine_map_side(spark, queries):
    """Activity bitmaps must partial-aggregate: bit_or is associative
    and the plan has to use that (partial_bit_or below the exchange)."""
    plan = plan_of(queries["q177_activity_bitmaps"](spark, SF_DIR))
    assert "partial_bit_or" in plan
    assert "CartesianProduct" not in plan


def test_q178_scd2_merge_reads_base_not_history(spark, queries):
    """The SCD2 merge must read the at-rest base parquet plus ONLY the
    post-split delta: the events scan carries the split-day filter (so
    history is never rescanned) and the base parquet appears in the
    plan."""
    plan = plan_of(queries["q178_scd2_merge"](spark, SF_DIR))
    assert "spark_graft_scd2_base_" in plan
    assert "GreaterThan(ts" in plan or "isnotnull(ts" in plan
    assert plan.count("events.parquet") == 1


def test_q179_funnel_stages_shrink_by_join(spark, queries):
    """Each funnel stage joins the previous stage's user-grain output
    back to the stream — no cartesian, no sort-merge of the raw stream
    against itself."""
    plan = plan_of(queries["q179_window_funnel"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_q180_ohlc_single_aggregate_after_rank_tags(spark, queries):
    """OHLC folds open/close rank tags and high/low/count/total into ONE
    hash aggregate; the windows are (type, bucket)-partitioned (never
    SinglePartition)."""
    plan = plan_of(queries["q180_ohlc_resample"](spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "partial_" in plan


def test_q182_cf_pairs_expand_scan_side(spark, queries):
    """Item-item CF pair generation is the q105 array expansion (one
    orderkey aggregate + scan-side C(k,2) explode), NOT a lineitem
    self-join; popularity tables broadcast."""
    plan = plan_of(queries["q182_item_item_cf"](spark, SF_DIR))
    assert plan.count("lineitem.parquet") <= 2  # baskets + popularity
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q185_funnel_one_documents_scan(spark, queries):
    """The curation funnel's whole chain (normalize -> dedup -> span cut
    -> decontaminate -> quality -> budget -> pack, plus all eight
    accounting aggregates AND the benchmark shingle side) feeds off ONE
    parquet scan of documents — everything else reads the pinned
    doc-grain intermediates. No quadratic shapes anywhere and the
    selection uses the distributed prefix-sum kernel (no
    single-partition exchange)."""
    plan = plan_of(queries["q185_curation_funnel"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "InMemoryTableScan" in plan  # the pinned intermediates
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q192_incremental_funnel_one_scan_artifact_leaves(spark, queries):
    """The incremental funnel's O(delta) contract: ONE parquet scan of
    documents feeds BOTH the artifact build and the delta path; the
    at-rest artifacts are MATERIALIZED leaves (localCheckpoint — the
    plan must read `Scan ExistingRDD`, never re-derive an artifact from
    the raw scan), no cartesian anywhere, and both budget selections
    use the distributed prefix-sum kernel (no single-partition
    exchange, no range partitioning). Index-probe joins on the leaf
    tables MAY plan as sort-merge statically (leaf RDDs carry no stats;
    corpus-sized hash indexes are not broadcastable at 100 TB — a
    shuffle join IS the honest scale shape; AQE converts genuinely
    small sides at runtime), so no SMJ assertion here."""
    plan = plan_of(queries["q192_incremental_funnel"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "Scan ExistingRDD" in plan  # the at-rest artifacts
    assert "InMemoryTableScan" in plan  # the pinned shared scan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_q196_multitick_funnel_one_scan_artifact_leaves(spark, queries):
    """q192's O(delta) contract must survive the second fold: still ONE
    parquet scan of documents (every tick slices the same pinned scan),
    all tick-1 AND tick-2 artifacts are materialized leaves, no
    cartesian, and both budget selections run the distributed
    prefix-sum kernel (no single-partition exchange, no range
    partitioning) — a second tick that re-derived tick-1 state from
    the raw scan would show a second file scan here."""
    plan = plan_of(queries["q196_multitick_funnel"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "Scan ExistingRDD" in plan  # the at-rest artifacts
    assert "InMemoryTableScan" in plan  # the pinned shared scan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_q197_deletion_fold_one_scan_touched_grain(spark, queries):
    """The deletion fold's O(touched) contract: ONE documents scan
    (artifact build AND the affected/resurrected re-reads all slice the
    same pinned scan), at-rest artifacts are materialized leaves, no
    cartesian, and the re-selections run the distributed prefix-sum
    kernel (no single-partition exchange, no range partitioning). The
    touched-gram recompute and affected-doc rewrite join leaf tables on
    fixed-width keys — SMJ allowed there (leaf RDDs carry no stats and
    corpus-sized indexes don't broadcast at 100 TB)."""
    plan = plan_of(queries["q197_deletion_fold"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "Scan ExistingRDD" in plan  # the at-rest artifacts
    assert "InMemoryTableScan" in plan  # the pinned shared scan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_q200_lifecycle_fold_one_scan_touched_grain(spark, queries):
    """q197's O(touched) contract must survive the preceding append
    fold: still ONE documents scan (build, append, and delete all
    slice the same pinned scan), every artifact generation is a
    materialized leaf, no cartesian, no single-partition exchange, no
    range partitioning."""
    plan = plan_of(queries["q200_lifecycle_fold"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "Scan ExistingRDD" in plan  # the at-rest artifacts
    assert "InMemoryTableScan" in plan  # the pinned shared scan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_q193_media_funnel_one_kernel_pass(spark, queries):
    """The media funnel's q186 lesson as a gate: ONE documents scan
    feeds ONE pinned media table; the payload-decoding kernels build
    ONE pinned narrow stats relation that every stage references (the
    kernel nodes repeat in the printed plan because each pin reference
    re-prints the cached relation's build subtree, but the
    InMemoryRelation computes its partitions once per action — the q186
    mechanics; the runtime sweeps pin the wall-clock). Cluster map and
    drop list broadcast; the only SMJs allowed are the banded
    self-join's (equal-sized sides — the honest at-scale shape)."""
    plan = plan_of(queries["q193_media_funnel"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "MapInPandas" in plan  # Arrow kernels, never row-wise UDFs
    assert "InMemoryTableScan" in plan  # pinned media + stats
    assert "BroadcastHashJoin" in plan  # cluster map / drop list
    assert plan.count("SortMergeJoin") <= 3
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q194_containment_one_scan_bounded_pairs(spark, queries):
    """The source-containment matrix reduces to ONE content-keyed
    aggregate: shingles hash scan-side from one documents scan, the
    per-shingle source set is |sources|-bounded, the ordered-pair
    expansion is generated scan-side after that aggregate, and the
    per-source totals broadcast — no sort-merge join, no cartesian,
    no raw-text exchange; the deduped (source, shingle) table is pinned
    so both consumers read it instead of re-shingling the corpus."""
    plan = plan_of(queries["q194_source_containment"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "InMemoryTableScan" in plan  # the pinned shingle table
    assert "Generate" in plan  # scan-side shingle + pair expansion
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q198_incremental_containment_one_scan_delta_grain(spark, queries):
    """The containment fold's O(new shingles) contract, sharpest of the
    incremental gates: the RETURNED plan reads NO parquet at all — the
    one pinned documents scan is consumed entirely during the eager
    artifact build/fold, and the report is a broadcast join of two
    at-rest leaves (pair counts x totals). Any documents scan here
    would mean the matrix re-derives from raw text per action."""
    plan = plan_of(queries["q198_incremental_containment"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 0  # everything at rest
    assert "Scan ExistingRDD" in plan  # the at-rest artifacts
    assert "BroadcastHashJoin" in plan  # totals into the ratio
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q195_incremental_media_artifact_leaves(spark, queries):
    """The incremental media funnel's O(delta) contract: ONE documents
    scan feeds one pinned media table; yesterday's stats / band index /
    pair list / keep-list are MATERIALIZED leaves (Scan ExistingRDD —
    the base payloads are decoded during the artifact build, never
    re-read by the returned plan); the cluster maps and drop lists
    broadcast; no cartesian, no single-partition exchange. Leaf-table
    probe joins may plan as SMJ statically (no stats on leaves; AQE
    converts small sides at runtime)."""
    plan = plan_of(queries["q195_incremental_media"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "Scan ExistingRDD" in plan  # the at-rest artifacts
    assert "InMemoryTableScan" in plan  # the pinned media scan
    # the broadcast probe/drop joins run during artifact materialization
    # (build time), so the RETURNED plan is leaf censuses — nothing
    # quadratic may survive into it
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q199_multitick_media_artifact_leaves(spark, queries):
    """q195's O(delta) contract must survive the second media fold:
    still ONE documents scan (both ticks slice the same pinned media
    table), all tick-1 AND tick-2 artifacts are leaves, and nothing
    quadratic or single-partition survives into the returned plan."""
    plan = plan_of(queries["q199_multitick_media"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 1
    assert "Scan ExistingRDD" in plan  # the at-rest artifacts
    assert "InMemoryTableScan" in plan  # the pinned media scan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q187_split_assignment_scan_side_and_bounded_joins(spark, queries):
    """The leakage-safe split's assignments are scan-side md5 interval
    compares (no rangepartitioning anywhere); the certificate joins run
    on the pinned doc-grain assignment table — no quadratic shapes."""
    plan = plan_of(queries["q187_leakage_safe_split"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "InMemoryTableScan" in plan  # pinned edges + assignments


def test_q188_graded_decontamination_broadcasts_benchmark(spark, queries):
    """The graded profile keeps the q52 contract: benchmark gram keys
    broadcast as a LEFT-join tag so ONE doc-keyed aggregate computes
    BOTH the distinct-shingle total and the matched count — exactly two
    documents scans (corpus grams + bench grams), never a sort-merge of
    the gram stream."""
    plan = plan_of(queries["q188_decontamination_profile"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("documents.parquet") == 2


def test_q189_bfs_levels_shuffle_node_keys_only(spark, queries):
    """The BFS levels run EAGERLY at build (localCheckpoint per level —
    the connected_components lifetime pattern), so the returned plan
    must be censuses over the checkpointed level RDDs: no join of any
    kind survives into it (each level's anti-join was already paid once
    inside its checkpoint), no quadratic shapes, no range exchange."""
    plan = plan_of(queries["q189_khop_reach"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "Scan ExistingRDD" in plan  # the checkpointed BFS levels
    assert "Join" not in plan  # levels never replay at result time


def test_q190_file_assignments_are_scan_side(spark, queries):
    """Both simulated file layouts are order-free scan-side integer
    expressions — NO sort, NO window, NO single-partition exchange;
    only the two file-grain aggregates and the 2-row rollup shuffle."""
    plan = plan_of(queries["q190_zonemap_pruning"](spark, SF_DIR))
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint>" in plan


def test_q191_backtest_keeps_q182_shape(spark, queries):
    """The backtest trains on censored baskets with the q182 machinery:
    scan-side pair expansion (no lineitem self-join), broadcast
    popularity, pair-keyed top-3 window - and the evaluation join is
    pair-keyed too. No sort-merge of the raw pair stream, no cartesian."""
    plan = plan_of(queries["q191_cf_backtest"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1  # the pinned (o,p) scan


def test_q186_one_signature_pass_feeds_all_branches(spark, queries):
    """The media-cluster keep-list must compute the signature kernel
    ONCE (pinned sigs serve both edge tiers, the CC input, and the
    member join — the unpinned shape recomputed the payload decode 14x)
    and broadcast the tiny cluster map; the only SMJs allowed are the
    banded self-join's (equal-sized sides, the honest at-scale shape)."""
    plan = plan_of(queries["q186_media_clusters"](spark, SF_DIR))
    assert plan.count("documents.parquet") <= 2
    assert "InMemoryTableScan" in plan  # the pinned signature table
    assert "BroadcastHashJoin" in plan  # cluster map broadcast
    assert plan.count("SortMergeJoin") <= 2
    assert "CartesianProduct" not in plan
