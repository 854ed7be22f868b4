"""Regression fixtures for the round-11 ADVICE findings — planted data
the stock testdata (30-day span, dense cells) can never exercise:
q177's day-63 sign bit, q176's midnight-crossing plateau, q181's
degenerate single-purchase cell, and q165's |CUSUM| tie-break. Each
test runs BOTH the Spark plan and the DuckDB oracle on the planted
parquet and checks them against a hand-computed expectation, so a
future regression in either engine (not just a divergence) fails."""

import duckdb
import pytest
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.plans import ORACLE

EVENTS_SCHEMA = (
    "event_id long, ts string, user_id long, event_type string,"
    " value double, props string"
)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, EVENTS_SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")


def _oracle(tmp_path, name):
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part-file glob
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    return con.execute(ORACLE[name]).fetch_df()


def test_q177_day63_sign_bit(spark, tmp_path):
    """A user active ONLY on days 62 and 63: bit 63 is the int64 sign
    bit, so an arithmetic >> would sign-extend and count a phantom
    (63, 64) pair on top of the real (62, 63) one (ADVICE r11)."""
    from eurostat_energy_etl_pipeline_spark.plans.events import q177

    rows = [
        # user 1 pins day0; user 2 hits days 62 and 63 only
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, ""),
        (2, "2024-03-03 10:00:00", 2, "click", 1.0, ""),  # day 62
        (3, "2024-03-04 10:00:00", 2, "click", 1.0, ""),  # day 63
        # user 3 hits ONLY day 63: any pair it reports is a phantom
        (4, "2024-03-04 11:00:00", 3, "view", 1.0, ""),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["active_days"]: (r["consec_day_pairs"], r["users_with_streak"])
        for r in q177(spark, str(tmp_path)).collect()
    }
    # user1: 1 active day, 0 pairs; user3: 1 active day, 0 pairs (the
    # phantom (63,64) pair would make this 1); user2: 2 days, 1 pair
    assert got == {1: (0, 0), 2: (1, 1)}
    ora = _oracle(tmp_path, "q177_activity_bitmaps")
    assert {
        int(r.active_days): (int(r.consec_day_pairs), int(r.users_with_streak))
        for r in ora.itertuples()
    } == got


def test_q176_midnight_plateau_sampled(spark, tmp_path):
    """One session crossing midnight (23:50 -> 00:20, gap exactly the
    30-min threshold so it stays one session): day 2's only real delta
    is the session END, so without the midnight sentinel its carried-in
    plateau of 1 was never sampled and the day was dropped by the old
    starts>0 HAVING (ADVICE r11)."""
    from eurostat_energy_etl_pipeline_spark.plans.events import q176

    rows = [
        (1, "2024-01-01 23:50:00", 1, "click", 1.0, ""),
        (2, "2024-01-02 00:20:00", 1, "click", 1.0, ""),
        # a second, same-day-only user makes day 1's peak 2
        (3, "2024-01-01 23:55:00", 2, "view", 1.0, ""),
        (4, "2024-01-01 23:59:00", 2, "view", 1.0, ""),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["day_idx"]: (r["peak_concurrency"], r["sessions_started"])
        for r in q176(spark, str(tmp_path)).collect()
    }
    day1 = rows[0][1][:10]
    import datetime

    d1 = datetime.date.fromisoformat(day1).toordinal() - datetime.date(
        1970, 1, 1
    ).toordinal()
    # day 1: both sessions overlap 23:55-23:59 -> peak 2, 2 starts;
    # day 2: zero starts, but the spanning session's sentinel at
    # midnight samples the plateau -> peak 1
    assert got == {d1: (2, 2), d1 + 1: (1, 0)}
    ora = _oracle(tmp_path, "q176_peak_concurrency")
    assert {
        int(r.day_idx): (int(r.peak_concurrency), int(r.sessions_started))
        for r in ora.itertuples()
    } == got


def test_q181_degenerate_cell_is_loud(spark, tmp_path):
    """A T/C×pre/post cell with a single purchase must yield NULL mvar
    (guarded n-1 division, no crash) and cells_ok=0 — never a silent
    NULL se with no explanation (ADVICE r11)."""
    from eurostat_energy_etl_pipeline_spark.plans.events import q181

    # one purchase per user, pre-period only -> at most two cells exist
    # and post cells are missing entirely
    rows = [
        (1, "2024-01-05 10:00:00", 1, "purchase", 10.0, ""),
        (2, "2024-01-06 10:00:00", 2, "purchase", 20.0, ""),
        (3, "2024-01-07 10:00:00", 3, "purchase", 30.0, ""),
    ]
    _write_events(spark, tmp_path, rows)
    r = q181(spark, str(tmp_path)).collect()[0]
    assert r["cells_ok"] == 0
    assert r["se"] is None and r["did"] is None
    ora = _oracle(tmp_path, "q181_diff_in_diff")
    assert int(ora["cells_ok"].iloc[0]) == 0
    assert ora["se"].isna().all()


def test_q165_tie_flags_earliest_day_only(spark, tmp_path):
    """Daily totals 30,10,30,10 give |CUSUM| = 10,0,10,0 around the
    mean of 20: two tied peaks, and exactly ONE changepoint — the
    EARLIEST tied day — must be flagged (ADVICE r11)."""
    from eurostat_energy_etl_pipeline_spark.plans.events import q165

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 30.0, ""),
        (2, "2024-01-02 10:00:00", 1, "click", 10.0, ""),
        (3, "2024-01-03 10:00:00", 1, "click", 30.0, ""),
        (4, "2024-01-04 10:00:00", 1, "click", 10.0, ""),
    ]
    _write_events(spark, tmp_path, rows)
    got = {r["day"]: (r["cusum"], r["is_changepoint"]) for r in
           q165(spark, str(tmp_path)).collect()}
    assert got == {
        "2024-01-01": (10.0, 1),
        "2024-01-02": (0.0, 0),
        "2024-01-03": (10.0, 0),  # tied |cusum|, later day -> not flagged
        "2024-01-04": (0.0, 0),
    }
    ora = _oracle(tmp_path, "q165_cusum_changepoint")
    assert {
        r.day: (float(r.cusum), int(r.is_changepoint))
        for r in ora.itertuples()
    } == got


def test_scd2_base_cache_evicts_stale_appids(spark, tmp_path, monkeypatch):
    """_SCD2_BASE entries keyed by a stopped SparkContext are evicted on
    the next build AND their temp parquet dirs removed (ADVICE r11 —
    the _PREPARED_GRAPHS pattern plus disk cleanup)."""
    import os

    from eurostat_energy_etl_pipeline_spark.plans import events as ev_mod

    stale_dir = tmp_path / "stale_scd2_base"
    stale_dir.mkdir()
    (stale_dir / "marker").write_text("x")
    ev_mod._SCD2_BASE[("app-from-a-dead-context", "/nowhere")] = str(stale_dir)

    rows = [
        (1, "2024-01-05 10:00:00", 1, "click", 1.0, ""),
        (2, "2024-01-25 10:00:00", 1, "view", 1.0, ""),
    ]
    _write_events(spark, tmp_path, rows)
    path = ev_mod._scd2_base_path(spark, str(tmp_path))
    assert os.path.isdir(path)
    assert ("app-from-a-dead-context", "/nowhere") not in ev_mod._SCD2_BASE
    assert not stale_dir.exists()
    # the live entry survives a second call (build-once contract)
    assert ev_mod._scd2_base_path(spark, str(tmp_path)) == path


def _write_documents(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("long"))
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")


def test_q185_funnel_every_stage_acts(spark, tmp_path):
    """Planted corpus where EVERY funnel stage drops or rewrites
    something (the stock fixture has no exact dups and no multi-space
    text, so stages 2-3 are no-ops there): multi-space text shrinks at
    normalize, a whitespace-variant duplicate dies at dedup, a repeated
    8-token span is cut keep-first, a benchmark 4-gram kills one doc at
    decontamination, punctuation soup dies at quality, and the 60%
    budget drops the least-diverse survivor. Spark and the DuckDB
    oracle must agree on the whole cascade."""
    from eurostat_energy_etl_pipeline_spark.plans.funnel import q185

    stop = "the and of is to in that with a for on as are it"
    span = "one two three four five six seven eight"

    # stopwords woven with per-doc-unique fillers: keeps the stopword
    # ratio high (quality passes) WITHOUT any cross-doc 8-token gram
    # repeat that the span-cut stage would otherwise remove
    def weave(tag):
        return " ".join(
            x
            for i, s in enumerate(stop.split())
            for x in (s, f"{tag}{i}")
        )

    good = (
        f"{stop} quick brown fox jumps over lazy dog near river bank "
        f"{stop} mountain valley forest meadow stream pebble cloud sky"
    )
    rows = [
        # doc 0: benchmark split (0 % 97 == 0) — provides the 4-gram
        (0, "alpha beta gamma delta benchmark holdout", "en", "s1"),
        # doc 1: good doc with DOUBLE spaces -> normalize shrinks chars;
        # its stopword block repeats INSIDE the doc, so the cut pass
        # also rewrites the kept copy's second block
        (1, good.replace(" quick", "  quick"), "en", "s1"),
        # doc 2: whitespace-variant of doc 1 -> exact dup AFTER normalize
        (2, good.replace(" brown", "   brown"), "en", "s1"),
        # docs 3+4: share the 8-token span -> doc 4's occurrence is cut
        (3, f"{weave('u')} {span} unique trailing words here", "en", "s1"),
        (4, f"{weave('v')} different head tokens then {span}", "en", "s1"),
        # doc 5: contaminated (contains the benchmark 4-gram once in
        # the training corpus, so the span-cut pass leaves it alone)
        (5, f"{weave('w')} alpha beta gamma delta other useful", "en", "s1"),
        # doc 6: punctuation soup, no stopwords -> quality < 0.35
        (6, "zzz... !!! ??? ;;; qqq", "en", "s1"),
        # doc 7: low lexical diversity -> ranked last, budget drops it
        (7, f"{weave('x')} spam spam spam spam spam spam spam", "en", "s1"),
    ]
    _write_documents(spark, tmp_path, rows)
    got = {
        r["stage"]: (r["label"], r["docs"], r["tokens"], r["chars"])
        for r in q185(spark, str(tmp_path)).collect()
    }
    assert [got[i][0] for i in range(1, 9)] == [
        "input", "normalize", "exact_dedup", "span_cut", "decontaminate",
        "quality_filter", "budget_select", "pack",
    ]
    # stage-by-stage: each stage demonstrably acts on this corpus
    assert got[1][1] == 7                      # bench doc 0 excluded
    assert got[2][2] == got[1][2]              # tokens invariant ...
    assert got[2][3] < got[1][3]               # ... but chars shrink
    assert got[3][1] == got[1][1] - 1          # dup doc 2 dies
    assert got[4][1] == got[3][1]              # cut rewrites, never drops
    assert got[4][2] < got[3][2]               # span tokens removed
    assert got[5][1] == got[4][1] - 1          # contaminated doc 5 dies
    assert got[6][1] == got[5][1] - 1          # soup doc 6 dies
    assert got[7][1] < got[6][1]               # budget drops >= 1 doc
    assert 0 < got[7][2] <= int(0.6 * got[6][2])  # budget respected
    assert got[8][2] == got[7][2]              # pack conserves tokens
    assert got[8][1] >= 1                      # at least one bin
    # cross-engine: the DuckDB oracle replays the identical cascade
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    ora = con.execute(ORACLE["q185_curation_funnel"]).fetch_df()
    assert {
        int(r.stage): (r.label, int(r.docs), int(r.tokens), int(r.chars))
        for r in ora.itertuples()
    } == got


def test_q186_media_chain_clusters_transitively(spark, tmp_path):
    """Transitivity pin for the media keep-list: a STRICT near-dup
    chain A~B (hamming 2), B~C (hamming 2), A!~C (hamming 4 > the <=3
    confirm bar) — no A-C pair exists, so only connected components can
    put all three in one cluster; plus an exact duplicate of A joining
    via the sha tier, and an unrelated doc that must stay out. The
    DuckDB oracle's WITH RECURSIVE closure must agree with the
    star-contraction kernel on the planted graph."""
    from eurostat_energy_etl_pipeline_spark.plans.northstar import q186

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        * 8
    )

    def flip(s, positions):
        bb = bytearray(s.encode())
        for p in positions:
            bb[p] = 33 + ((bb[p] + 40 - 33) % 94)  # printable ASCII
        return bb.decode()

    a_txt = base
    b_txt = flip(base, [0, 9])          # hamming(A,B) == 2
    c_txt = flip(base, [0, 9, 30, 39])  # hamming(B,C) == 2, (A,C) == 4
    rows = [
        # all doc_id % 3 == 0 -> media_type 'image' (near pairs are
        # within-type by contract)
        (0, a_txt, "en", "s1"),
        (3, b_txt, "en", "s1"),
        (6, c_txt, "en", "s1"),
        (9, a_txt, "en", "s1"),   # exact dup of doc 0 (sha tier)
        (12, "completely unrelated text about databases", "en", "s1"),
    ]
    _write_documents(spark, tmp_path, rows)
    got = [
        (r["media_type"], r["cluster_id"], r["kept_id"], r["n_members"],
         r["n_dropped"])
        for r in q186(spark, str(tmp_path)).collect()
    ]
    # one cluster {0, 3, 6, 9}: 0-9 exact, 0-3 and 3-6 near; 6 reaches 0
    # only transitively. Keep = equal lengths -> smallest id. Doc 12 has
    # no edge -> absent from the keep-list.
    assert got == [("image", 0, 0, 4, 3)]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    ora = con.execute(ORACLE["q186_media_clusters"]).fetch_df()
    assert [
        (r.media_type, int(r.cluster_id), int(r.kept_id),
         int(r.n_members), int(r.n_dropped))
        for r in ora.itertuples()
    ] == got


def test_q187_grouped_split_prevents_straddle(spark, tmp_path):
    """Planted near-dup pair with consecutive ids whose texts are almost
    identical (high Jaccard): the cluster-aware split must put both in
    the SAME split (cross_split_edges == 0 structurally), cluster count
    must reflect the merge, and the oracle's gaps-and-islands closed
    form must agree with the star-contraction kernel."""
    from eurostat_energy_etl_pipeline_spark.plans.corpus import q187

    near = (
        "solar generation rose steadily across the northern grid last "
        "winter while hydro output held flat in every reporting region"
    )
    rows = [
        (1, near, "en", "s1"),
        (2, near + " appendix", "en", "s1"),  # near-dup of doc 1
        (3, "completely different text about database join strategies",
         "en", "s1"),
        (4, "yet another unrelated document mentioning shuffle exchanges",
         "en", "s1"),
    ]
    _write_documents(spark, tmp_path, rows)
    r = q187(spark, str(tmp_path)).collect()[0]
    assert r["n_docs"] == 4
    assert r["n_clusters"] == 3          # {1,2} merged, 3 and 4 singleton
    assert r["n_edges"] == 1
    assert r["cross_split_edges"] == 0   # the structural guarantee
    assert (
        r["train_docs"] + r["val_docs"] + r["test_docs"] == r["n_docs"]
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    ora = con.execute(ORACLE["q187_leakage_safe_split"]).fetch_df()
    assert {
        c: int(ora[c].iloc[0]) for c in ora.columns
    } == {c: r[c] for c in ora.columns}


def test_q188_overlap_fraction_exact(spark, tmp_path):
    """Hand-computable graded contamination: doc 1 has 5 distinct
    4-token shingles, exactly 2 of which appear in the benchmark doc
    (doc 0) -> contaminated_frac must be exactly 0.4; a clean doc must
    not appear at all."""
    from eurostat_energy_etl_pipeline_spark.plans.corpus import q188

    # benchmark doc 0 contains the two planted 4-grams back to back
    bench = "alpha beta gamma delta epsilon"  # grams: a b g d / b g d e
    # doc 1: 8 tokens -> 5 shingles; the first two shingles are the
    # benchmark's two, the last three are unique
    doc1 = "alpha beta gamma delta epsilon unique1 unique2 unique3"
    rows = [
        (0, bench, "en", "s1"),
        (1, doc1, "en", "s1"),
        (2, "totally clean document with no benchmark overlap at all",
         "en", "s1"),
    ]
    _write_documents(spark, tmp_path, rows)
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_matched"],
                      r["contaminated_frac"])
        for r in q188(spark, str(tmp_path)).collect()
    }
    assert got == {1: (5, 2, 0.4)}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    ora = con.execute(ORACLE["q188_decontamination_profile"]).fetch_df()
    assert {
        int(r.doc_id): (int(r.n_shingles), int(r.n_matched),
                        float(r.contaminated_frac))
        for r in ora.itertuples()
    } == got


def test_q189_bfs_chain_hops(spark, tmp_path):
    """Planted 4-node chain c1-s1-c2-s2 seeded at c1 (nation 0): the
    BFS census must be exactly one new node per hop, and the oracle's
    unrolled join/EXCEPT ladder must agree with the iterative loop."""
    from eurostat_energy_etl_pipeline_spark.plans import graph as g_mod
    from eurostat_energy_etl_pipeline_spark.plans.graph import q189

    # chain via two orders: c1 buys from s1; c2 buys from s1 and s2
    spark.createDataFrame(
        [(1, 1), (2, 2)], "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [(1, 1), (2, 1), (2, 2)], "l_orderkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    spark.createDataFrame(
        [(1, 0), (2, 5)], "c_custkey long, c_nationkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    # the prepared-graph memo is keyed by (appId, sf_dir) - tmp_path is
    # fresh, so no stale entry can leak in
    got = {r["hop"]: r["nodes_reached"]
           for r in q189(spark, str(tmp_path)).collect()}
    # c1 -> s1 -> c2 -> s2: exactly one new node per hop
    assert got == {0: 1, 1: 1, 2: 1, 3: 1}
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{tmp_path}/{t}.parquet/*.parquet')"
        )
    ora = con.execute(ORACLE["q189_khop_reach"]).fetch_df()
    assert {int(r.hop): int(r.nodes_reached)
            for r in ora.itertuples()} == got


def test_q191_backtest_hits_planted_copurchase(spark, tmp_path):
    """Planted co-purchase signal: parts 1,2,5 co-occur so the censored
    training set still supports (1,2) n=3 and (1,5) n=2; baskets whose
    hidden item is 5 must be CF hits via top-3(1), and part 9 (held in
    every one of its baskets, hence absent from training) can never be
    recommended - the leave-one-out protocol's defining property."""
    from eurostat_energy_etl_pipeline_spark.plans.relational import q191

    rows = [
        # (l_orderkey, l_partkey): o1-o3 = {1,2,5}, o4 = {5,9},
        # o5-o6 = {1,5,9}
        (1, 1), (1, 2), (1, 5),
        (2, 1), (2, 2), (2, 5),
        (3, 1), (3, 2), (3, 5),
        (4, 5), (4, 9),
        (5, 1), (5, 5), (5, 9),
        (6, 1), (6, 5), (6, 9),
    ]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    r = q191(spark, str(tmp_path)).collect()[0]
    # held: o1-o3 -> 5 (rest {1,2}), o4 -> 9 (rest {5}), o5/o6 -> 9
    # (rest {1,5}); train pairs: (1,2) n=3, (1,5) n=2 -> top3(1)=[2,5];
    # o1-o3 hit (5 in top3(1)); 9 never trains -> o4-o6 miss
    assert (r["n_baskets"], r["cf_hits"], r["pop_hits"]) == (6, 3, 3)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM"
        f" read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    ora = con.execute(ORACLE["q191_cf_backtest"]).fetch_df()
    assert (
        int(ora.n_baskets.iloc[0]), int(ora.cf_hits.iloc[0]),
        int(ora.pop_hits.iloc[0]),
    ) == (6, 3, 3)
