"""Iterative graph analytics — the power-iteration class.

The library already covers three driver-coordinated iteration shapes:
alternating star contraction (connected components, q45), Lloyd
(q91), and BPE merge learning (q93). This module adds the canonical
fourth: PageRank power iteration, the linear-algebra-on-a-graph shape
every entity-importance / link-spam / citation pipeline runs.

Scale shape: each iteration is ONE equi-join of the edge table against
the O(|V|)-row rank table (shuffle keyed by node id — AQE
skew-split-able; a celebrity node is a hot KEY, not a hot task-group)
plus one map-side-combined aggregate; the driver loop holds no data,
only the iteration count. Ranks and degrees live in DataFrames keyed
by node — nothing is collected.

Cross-engine determinism (the q91 recipe): float summation order
differs per partitioning, so each neighbor contribution is gridded to
1e-12 FIRST (rank and degree are engine-stable by induction, so the
IEEE division result is bit-equal on both engines), cast to
DECIMAL(30,12), and summed exactly — order-independent — then the
damped update is re-gridded. The DuckDB oracle unrolls the same three
iterations with identical arithmetic; hashes match exactly.

Reference parity: the reference has no graph surface; this is part of
the north-star large-pipeline family (SURVEY §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from eurostat_energy_etl_pipeline_spark.catalog import load_tables, session_memo
from eurostat_energy_etl_pipeline_spark.functions import presentation_sort
from eurostat_energy_etl_pipeline_spark import plans
from eurostat_energy_etl_pipeline_spark.plans import query

DAMPING = 0.85
N_ITER = 3

#: 1e-12 contribution grid (floor(x*1e12 + 0.5)/1e12) — fine enough that
#: three damped iterations keep ~9 significant digits, coarse enough to
#: absorb nothing (the division inputs are already engine-stable).
_G = 1e12


def _grid(col):
    return F.floor(col * _G + 0.5) / _G


#: q99's prepared graph per (applicationId, sf_dir), a T4 session memo.
_PREPARED_GRAPHS: dict[tuple[str, str], tuple[DataFrame, DataFrame, int]] = {}


# --- order-isomorphic int64 node ids (r15, guide §2.3 narrower types) ---
#
# The purchase-graph node ids are 'c'||custkey / 's'||suppkey STRINGS,
# and every per-iteration aggregate keys (and, for q172, AGGREGATES —
# min(label)) on them. Spark's HashAggregate requires fixed-width
# mutable buffers, so min/max over strings falls back to SortAggregate:
# each label-propagation round paid TWO sorts of the |E|-row
# contribution stream. Mapping each id to an int64 that is STRICTLY
# ORDER-ISOMORPHIC to the bytewise string order makes every iteration
# aggregate hash-based + map-side-combinable and every shuffle row
# fixed-width (16 bytes vs two ~7-char strings), while min/least/argsort
# commute with the relabeling — decode at the (tiny) output restores the
# exact strings, so results are bit-identical to the string pipeline and
# the unchanged DuckDB oracles.
#
# Encoding ('c...' < 's...' bytewise, digits have no leading zeros):
#   enc = is_s * 2^62  +  k * 10^(W - len(k)) * 16  +  len(k),  W = 14
# Bytewise order of decimal strings == order by (left-aligned value,
# then length): "c19" < "c2" (1.9e14 < 2e14), "c2" < "c21" (tie -> len).
# W = 14 supports keys to 10^14-1 (TPC-H custkey at SF100k is ~1.5e10);
# max enc = 2^62 + 10^14*16 + 14 < 2^63. All arithmetic stays exact:
# k * 10^(W-len) <= 10^14 < 2^53.
_ENC_W = 14
_ENC_S_FLAG = 1 << 62


def _enc_node(key_col, is_supplier: bool):
    """int64 encoding of 'c'||key (is_supplier=False) or 's'||key that
    preserves the bytewise string order. ``key_col`` must be a positive
    integral column (no leading zeros in its decimal rendering)."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    digits = F.length(k.cast("string"))
    pad = (
        k.cast("double") * F.pow(F.lit(10.0), F.lit(_ENC_W) - digits)
    ).cast("long")
    enc = pad * 16 + digits
    return enc + _ENC_S_FLAG if is_supplier else enc


def _dec_node(enc) -> "F.Column":
    """Exact inverse of :func:`_enc_node` back to the id string."""
    e = F.col(enc) if isinstance(enc, str) else enc
    is_s = e >= _ENC_S_FLAG
    rest = F.when(is_s, e - _ENC_S_FLAG).otherwise(e)
    digits = rest % 16
    pad = (rest / 16).cast("long")
    k = (
        pad.cast("double") / F.pow(F.lit(10.0), F.lit(_ENC_W) - digits)
    ).cast("long")
    return F.concat(F.when(is_s, F.lit("s")).otherwise(F.lit("c")), k)


def _shared_purchase_graph(spark, sf_dir: str):
    """The symmetric customer-supplier purchase graph shared by
    q99/q172/q189, prepared once per (session, sf_dir) with
    :func:`prepare_graph` and cached under the T4 contract. Nodes are
    the order-isomorphic int64 encodings (see :func:`_enc_node`)."""

    def build():
        t = load_tables(spark, sf_dir)
        e0 = (
            t["orders"]
            .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
            .select(
                _enc_node("o_custkey", is_supplier=False).alias("src"),
                _enc_node("l_suppkey", is_supplier=True).alias("dst"),
            )
            .distinct()
        )
        edges = e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        return prepare_graph(edges)

    return session_memo(_PREPARED_GRAPHS, spark, sf_dir, build)


def prepare_graph(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> tuple[DataFrame, DataFrame, int]:
    """Persist the iteration-invariant graph state for :func:`pagerank`.

    Returns ``(nodes, base, n_nodes)``. Degree-annotated edges and the
    node set are PINNED: every iteration joins against both, and without
    the persist each of the N iterations re-derives the edge
    construction (here: a fact-fact join + distinct) from scratch —
    measured 5.3 s -> ~1.5 s at sf0.1 for 3 iterations. Bounded state
    (|E| + |V| rows, no payloads), same lifetime contract as the T4
    cached views. The pinned table is PRE-PARTITIONED on the join key
    (the textbook iterative-join layout): the cached partitioning
    satisfies every iteration's join requirement, so only the O(|V|)
    rank table shuffles per iteration — the edge table never moves
    again. THE CALLER OWNS THE LIFETIME: either unpersist after the
    ranks are materialized (what :func:`pagerank` does when it prepares
    its own state) or hold it session-long (what q99 does via the
    prepared-graph cache).
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg"))
    # r15: pin the edge table at COMPUTE width, not the byte-sized static
    # shuffle width — the cached partitioning dictates the width of every
    # iteration's join+aggregate pipeline (EnsureRequirements exchanges
    # the rank side to match the satisfied pinned side), and the
    # iterations are CPU-bound (gridded-decimal contribution math), so
    # the 4-partition interactive width ran them on 4 of 32 cores.
    # max(cores, static width) leaves warehouse layouts unchanged.
    from eurostat_energy_etl_pipeline_spark.functions.parallelism import (
        keyed_compute_width,
    )

    base = (
        edges.join(deg, src)
        .repartition(keyed_compute_width(edges), F.col(src))
        .persist()
    )
    n_nodes = nodes.count()  # O(1) driver scalar, fixes the teleport mass
    return nodes, base, n_nodes


def pagerank(
    edges: DataFrame,
    damping: float = DAMPING,
    n_iter: int = N_ITER,
    src: str = "src",
    dst: str = "dst",
    prepared: tuple[DataFrame, DataFrame, int] | None = None,
    complete_in_coverage: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Returns (node, rank) for every node appearing in ``edges``. Nodes
    with no in-edges settle at the teleport mass (1-d)/N; dangling-mass
    redistribution is deliberately omitted (the input graph here is
    symmetric, so there are no dangling nodes — document before reusing
    on one-directional graphs). ``n_iter`` fixed small and unrolled by
    the driver: each iteration is one join + one aggregate.

    When ``prepared`` is None the function pins its own graph state,
    then MATERIALIZES the final ranks (localCheckpoint — eager, lineage
    truncated) and unpersists the pins before returning, so repeated
    invocations do not accumulate session-lifetime cache entries (r5
    advice). Callers that run many pagerank passes over the same graph
    should :func:`prepare_graph` once and pass it in; they own that
    lifetime.
    """
    own = prepared is None
    if own:
        nodes, base, n_nodes = prepare_graph(edges, src=src, dst=dst)
    else:
        nodes, base, n_nodes = prepared
    teleport = float((1.0 - damping)) / n_nodes
    init = round(1.0 / n_nodes, 12)
    ranks = nodes.select("node", F.lit(init).alias("rank"))
    # r14 (guide §3.1): the edge table is PINNED pre-partitioned on the
    # join key, but a sort-merge join re-SORTS all |E| cached rows every
    # iteration; a shuffled-hash join builds the hash from the O(|V|)
    # rank table instead and streams the edges unsorted (per-partition
    # build = |V|/shuffle-partitions rows — bounded, since the shuffle
    # width is autotuned to input size). Same rows, same arithmetic;
    # measured with q172's identical shape: 1.59 s -> 1.22 s at sf0.1.
    # r14: when every node has an in-edge (`complete_in_coverage` — true
    # for any symmetrized edge list, where in-set == out-set and every
    # node has degree >= 1), the per-iteration "left-join back to nodes"
    # that re-attaches zero-mass nodes is an identity: the damped update
    # applies directly to the aggregate (coalesce(mass, 0) never fires).
    # That removes one join + its stages per iteration (§2.4 remove
    # shuffles outright). Graphs that may have in-edge-less nodes keep
    # the general path — those nodes must settle at the teleport mass.
    for _ in range(n_iter):
        contrib = (
            base.join(ranks.hint("shuffle_hash"), base[src] == ranks["node"])
            .select(
                F.col(dst).alias("node"),
                _grid(F.col("rank") / F.col("deg"))
                .cast("decimal(30,12)")
                .alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(
            F.sum("c").cast("double").alias("mass")
        )
        if complete_in_coverage:
            ranks = summed.select(
                "node",
                _grid(
                    F.lit(teleport) + F.lit(damping) * F.col("mass")
                ).alias("rank"),
            )
        else:
            ranks = (
                nodes.join(summed.hint("shuffle_hash"), "node", "left")
                .select(
                    "node",
                    _grid(
                        F.lit(teleport)
                        + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
                    ).alias("rank"),
                )
            )
    if own:
        # Materialize before dropping the pins: localCheckpoint executes
        # the plan and truncates lineage, so the returned DataFrame no
        # longer references nodes/base and the unpersist is safe.
        ranks = plans.at_rest(ranks)
        nodes.unpersist()
        base.unpersist()
    return ranks


@query(
    "q99_pagerank",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e AS (SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0),
    v AS (SELECT DISTINCT src AS node FROM e),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, round(1.0 / n.n, 12) AS rank FROM v, n),
    s1 AS (SELECT e.dst AS node,
                  sum(CAST(floor(r0.rank / deg.deg * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS m
           FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
           GROUP BY e.dst),
    r1 AS (SELECT v.node,
                  floor(({(1.0 - DAMPING)!r} / n.n
                         + {DAMPING} * CAST(coalesce(s1.m, 0) AS DOUBLE))
                        * 1e12 + 0.5) / 1e12 AS rank
           FROM v CROSS JOIN n LEFT JOIN s1 ON v.node = s1.node),
    s2 AS (SELECT e.dst AS node,
                  sum(CAST(floor(r1.rank / deg.deg * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS m
           FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
           GROUP BY e.dst),
    r2 AS (SELECT v.node,
                  floor(({(1.0 - DAMPING)!r} / n.n
                         + {DAMPING} * CAST(coalesce(s2.m, 0) AS DOUBLE))
                        * 1e12 + 0.5) / 1e12 AS rank
           FROM v CROSS JOIN n LEFT JOIN s2 ON v.node = s2.node),
    s3 AS (SELECT e.dst AS node,
                  sum(CAST(floor(r2.rank / deg.deg * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS m
           FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src
           GROUP BY e.dst),
    r3 AS (SELECT v.node,
                  floor(({(1.0 - DAMPING)!r} / n.n
                         + {DAMPING} * CAST(coalesce(s3.m, 0) AS DOUBLE))
                        * 1e12 + 0.5) / 1e12 AS rank
           FROM v CROSS JOIN n LEFT JOIN s3 ON v.node = s3.node)
    SELECT node, round(rank * 1e6, 4) AS rank_ppm
    FROM r3 ORDER BY rank_ppm DESC, node LIMIT 20
    """,
)
def q99(spark, sf_dir):
    """Three PageRank power iterations over the symmetric
    customer-supplier purchase graph (edge = customer bought from
    supplier, both directions), top-20 nodes by rank. Each iteration is
    one node-keyed equi-join + one map-side-combined aggregate; the
    driver holds only the loop counter. Contributions grid to 1e-12 and
    sum as exact decimals, so the DuckDB unrolled-CTE oracle
    hash-matches bit-for-bit (the q91 determinism recipe applied to an
    iterated fixpoint). Ranks are reported in parts-per-million so the
    presentation grid is well inside the certified precision.

    The prepared graph (pinned nodes + degree-annotated pre-partitioned
    edges + |V|) is cached per (session, sf_dir) under the T4 contract —
    the edge DERIVATION (orders⋈lineitem distinct + symmetrize) runs
    once per session, not once per invocation, and repeated invocations
    do not stack fresh persist entries (r5 advice). Each call still
    executes the three iterations against the pins. Nodes travel as the
    order-isomorphic int64 encodings (r15, see :func:`_enc_node`) —
    every iteration keys 16-byte fixed rows instead of strings — and the
    top-20 tiebreak orders on the encoding (== the string order by
    construction) before the final decode."""
    prepared = _shared_purchase_graph(spark, sf_dir)
    ranks = pagerank(edges=None, prepared=prepared, complete_in_coverage=True)
    return (
        ranks.select(
            "node", F.round(F.col("rank") * 1e6, 4).alias("rank_ppm")
        )
        .orderBy(F.desc("rank_ppm"), "node")
        .limit(20)
        .select(_dec_node("node").alias("node"), "rank_ppm")
    )


def count_triangles(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Degree-oriented triangle counting over an undirected edge list
    (one row per unordered pair, ``a < b`` canonical form, no self-loops).

    Returns one row: (n_nodes, n_edges, n_wedges, n_triangles).

    Scale shape — the node-iterator bound (Chiba–Nishizeki / the
    Suri–Vassilvitskii MR-style orientation): every edge is ORIENTED from
    its lower-(degree, id) endpoint to its higher one, so wedges are
    enumerated only at each edge's lighter endpoint and the wedge count is
    Σ C(d⁺(v), 2) with d⁺ ≤ O(√|E|) for every v — a celebrity node of
    degree d contributes O(d) oriented edges but only O(√|E|)² wedge
    pairs, instead of the O(d²) a naive enumeration pays. Execution is
    three hash equi-joins (orient, wedge-close, triangle-close); every
    shuffle is keyed by node or node-pair (AQE skew-split-able), nothing
    is collected. Both the raw edge list and the oriented edge table are
    cached: the census reads edges three ways (degree rollup, edge count,
    orientation) and oriented three ways (both wedge sides + the closing
    probe), so without the pins the upstream edge DERIVATION — the
    expensive part at any scale — would re-execute per consumer.
    """
    edges = edges.cache()
    deg = (
        edges.select(F.col(a).alias("n"))
        .unionAll(edges.select(F.col(b).alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db_ = deg.alias("da"), deg.alias("db")
    lower_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col(a) < F.col(b))
    )
    oriented = (
        edges.join(da, F.col(a) == F.col("da.n"))
        .join(db_, F.col(b) == F.col("db.n"))
        .select(
            F.when(lower_first, F.col(a)).otherwise(F.col(b)).alias("s"),
            F.when(lower_first, F.col(b)).otherwise(F.col(a)).alias("t"),
        )
        .cache()
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedges = e1.join(e2, F.col("e1.t") == F.col("e2.s")).select(
        F.col("e1.s").alias("wa"), F.col("e2.t").alias("wc")
    )
    tris = wedges.join(
        e3, (F.col("wa") == F.col("e3.s")) & (F.col("wc") == F.col("e3.t"))
    )
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(wedges.agg(F.count(F.lit(1)).alias("n_wedges"))))
        .crossJoin(F.broadcast(tris.agg(F.count(F.lit(1)).alias("n_triangles"))))
    )


@query(
    "q105_triangle_count",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT x.p AS a, y.p AS b
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
      GROUP BY x.p, y.p HAVING count(*) >= 2
    ),
    deg AS (
      SELECT n, count(*) AS d
      FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
      GROUP BY n
    ),
    o AS (
      SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS s,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS t
      FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b
    ),
    w AS (SELECT e1.s AS wa, e2.t AS wc FROM o e1 JOIN o e2 ON e1.t = e2.s)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*) FROM w) AS n_wedges,
           (SELECT count(*) FROM w JOIN o e3 ON e3.s = w.wa AND e3.t = w.wc)
             AS n_triangles
    """,
)
def q105_triangle_count(spark, sf_dir):
    """Triangle census of the part co-purchase graph — the graph-shape
    profile (clustering structure) every recommender / fraud pipeline
    derives from a co-occurrence graph. Nodes are parts; an edge connects
    two parts that co-occur in >= 2 distinct orders (the market-basket
    support floor, which prunes the quadratic noise tail of single-order
    coincidences BEFORE any graph stage — at 100 TB the support filter is
    a map-side-combinable HAVING on the pair aggregate, not a post-hoc
    filter). Wedge and triangle enumeration is degree-oriented (see
    count_triangles): per-node work is bounded by O(sqrt(|E|)) fan-out,
    so a hub part cannot quadratically explode any task. Everything is
    integer-exact; the DuckDB oracle replays the identical orientation,
    so the wedge/triangle counts certify the join cascade bit-for-bit.

    Pair generation is NOT a self-join: the per-order part sets are
    collected with ONE l_orderkey-keyed aggregate (map-side combinable)
    and the C(items, 2) canonical pairs are expanded scan-side from the
    sorted set array (higher-order transform over slice — pure
    Catalyst, no Python). A self-join li⋈li on the order key computes
    the same pairs but pays the distinct's exchange PLUS two more
    join-side shuffles of the full item stream; the array form ships
    each order's items across the wire exactly once and was measured
    ~2x faster at sf0.1. Per-order fan-out is bounded by the basket
    size, so the expansion cannot skew a task."""
    t = load_tables(spark, sf_dir)
    ps = F.sort_array(F.collect_set("p")).alias("ps")
    baskets = (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("pr"))
        .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("m"))
        .where(F.col("m") >= 2)
        .select("a", "b")
    )
    return count_triangles(pairs)


def label_propagation(
    nodes: DataFrame, edges: DataFrame, n_iter: int = 3
) -> DataFrame:
    """Synchronous MIN-LABEL propagation: every node starts as its own
    label, and each round takes the minimum label over {self} ∪
    neighbors. After k rounds a node's label is exactly the minimum
    node id within its k-hop neighborhood — a deterministic, bounded
    community detector (the label-propagation family's tie-free
    variant; raw LPA's random tie-breaking is not reproducible, so the
    engine pins the MIN rule and the oracle replays it exactly).

    Distinct from q45's connected components: star contraction runs to
    the FIXPOINT (exact components, O(log n) rounds with path
    shortening); this answers the bounded-radius question ("who is
    within k hops of whom") in EXACTLY k join rounds — the shape used
    for neighborhood features and influence-radius audits where the
    fixpoint is not wanted. Each round is one node-keyed equi-join +
    one map-side-combined MIN aggregate; labels are node-id strings
    compared bytewise in both engines (UTF8_BINARY / DuckDB binary
    collation). The driver holds only the loop counter."""
    lab = nodes.select("node", F.col("node").alias("label"))
    # r14: shuffled-hash joins for both per-round joins — the pinned edge
    # table streams unsorted (SMJ re-sorted all |E| cached rows every
    # round) and the node-grain tables build bounded per-partition
    # hashes (the width is autotuned to input size). Two rejected
    # alternatives, measured: per-round broadcast of the label table
    # (1.44 s vs 1.22 s, and unbounded build at scale) and folding the
    # self term via a union into the min aggregate (13 stages/78 tasks
    # vs 11/50 — the extra union branch outweighs the dropped left join).
    # r15: the self term folds into the min aggregate as a union branch —
    # min over ({self} ∪ neighbors) == least(self, min(neighbors)) — so
    # each round is ONE join + ONE aggregate, no left-join-back. The r14
    # A/B rejected this fold when labels were STRINGS (SortAggregate made
    # the union branch pay two sorts); with int64 labels the aggregate is
    # a map-side-combinable HashAggregate and dropping the per-round join
    # wins (measured below). The |V|-row union branch is per-partition
    # pre-combined like every other aggregate input.
    for _ in range(n_iter):
        contrib = edges.join(
            lab.hint("shuffle_hash"), edges["src"] == lab["node"]
        ).select(F.col("dst").alias("n2"), "label")
        lab = (
            contrib.unionByName(
                lab.select(F.col("node").alias("n2"), "label")
            )
            .groupBy(F.col("n2").alias("node"))
            .agg(F.min("label").alias("label"))
        )
    return lab


@query(
    "q172_label_propagation",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e AS (SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0),
    v AS (SELECT DISTINCT src AS node FROM e),
    l0 AS (SELECT node, node AS label FROM v),
    n1 AS (SELECT e.dst AS node, min(l.label) AS nb
           FROM e JOIN l0 l ON l.node = e.src GROUP BY e.dst),
    l1 AS (SELECT l.node, least(l.label, coalesce(n.nb, l.label)) AS label
           FROM l0 l LEFT JOIN n1 n ON n.node = l.node),
    n2 AS (SELECT e.dst AS node, min(l.label) AS nb
           FROM e JOIN l1 l ON l.node = e.src GROUP BY e.dst),
    l2 AS (SELECT l.node, least(l.label, coalesce(n.nb, l.label)) AS label
           FROM l1 l LEFT JOIN n2 n ON n.node = l.node),
    n3 AS (SELECT e.dst AS node, min(l.label) AS nb
           FROM e JOIN l2 l ON l.node = e.src GROUP BY e.dst),
    l3 AS (SELECT l.node, least(l.label, coalesce(n.nb, l.label)) AS label
           FROM l2 l LEFT JOIN n3 n ON n.node = l.node)
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members,
           min(node) AS first_member, max(node) AS last_member
    FROM l3 GROUP BY label ORDER BY n_members DESC, community
    """,
)
def q172(spark, sf_dir):
    """Bounded-radius LABEL PROPAGATION communities over the symmetric
    customer-supplier purchase graph (q99's graph, shared PREPARED
    state — the pinned pre-partitioned edge table serves both queries'
    iterations in one session): 3 synchronous min-label rounds, then a
    community-size census. See :func:`label_propagation` for semantics
    and the exact-replay contract. Labels travel as the
    order-isomorphic int64 encodings (r15, :func:`_enc_node`): min over
    the encodings == min over the bytewise strings by construction, and
    int64 min is a FIXED-WIDTH aggregation buffer, so every round's
    neighbor-min is a map-side-combinable HashAggregate — the string
    pipeline fell back to SortAggregate, paying two |E|-row sorts per
    round. Decode at the community-grain census restores the exact
    strings; the DuckDB unrolled-CTE oracle is unchanged and
    hash-matches exactly."""
    prepared = _shared_purchase_graph(spark, sf_dir)
    nodes, base, _n = prepared
    lab = label_propagation(nodes, base.select("src", "dst"))
    return (
        lab.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").alias("first_member"),
            F.max("node").alias("last_member"),
        )
        .select(
            _dec_node("community").alias("community"),
            "n_members",
            _dec_node("first_member").alias("first_member"),
            _dec_node("last_member").alias("last_member"),
        )
        .transform(presentation_sort, F.desc("n_members"), "community")
    )


@query(
    "q189_khop_reach",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    e AS (SELECT src, dst FROM e0
          UNION ALL SELECT dst AS src, src AS dst FROM e0),
    v0 AS (SELECT DISTINCT 'c' || c_custkey AS node FROM customer
           WHERE c_nationkey = 0),
    f1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN v0 ON v0.node = e.src),
    n1 AS (SELECT node FROM f1 EXCEPT SELECT node FROM v0),
    v1 AS (SELECT node FROM v0 UNION SELECT node FROM n1),
    f2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN n1 ON n1.node = e.src),
    n2 AS (SELECT node FROM f2 EXCEPT SELECT node FROM v1),
    v2 AS (SELECT node FROM v1 UNION SELECT node FROM n2),
    f3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN n2 ON n2.node = e.src),
    n3 AS (SELECT node FROM f3 EXCEPT SELECT node FROM v2)
    SELECT * FROM (
      SELECT 0 AS hop, CAST(count(*) AS BIGINT) AS nodes_reached FROM v0
      UNION ALL SELECT 1, CAST(count(*) AS BIGINT) FROM n1
      UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM n2
      UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM n3
    ) ORDER BY hop
    """,
)
def q189(spark, sf_dir):
    """K-HOP REACHABILITY (bounded BFS) over the symmetric
    customer-supplier purchase graph — the blast-radius traversal the
    library's iterative family lacked (q99 scores, q172 labels, q45
    contracts; none answers "how many entities are WITHIN k hops of
    this seed set", the fraud-ring / recall-campaign / abuse-spread
    primitive). Seeds = nation-0 customers; each BFS level is one
    frontier-keyed equi-join against the shared prepared edge table
    plus an anti-join against the visited set; the output is the exact
    frontier census per hop (bipartite graph, so hops alternate
    supplier / customer grains).

    Determinism: levels are SET operations on node ids — no floats, no
    ordering; the oracle unrolls the identical 3 levels as join/EXCEPT
    CTEs (the q172 unrolled-iteration recipe), so the hash match
    certifies the iterative loop against a closed form. Nodes travel as
    the order-isomorphic int64 encodings (r15, :func:`_enc_node`) — the
    per-level joins/anti-joins only test EQUALITY, which any injection
    preserves, and the output is hop-grain counts, so nothing decodes.

    Scale shape: each hop shuffles only (node) keys — the frontier and
    visited sets are O(|V|) single-column tables, localCheckpoint'd per
    level (the connected_components lifetime pattern) so level N's plan
    never replays levels 1..N-1; a celebrity node is an AQE-splittable
    hot key, never a hot task."""
    prepared = _shared_purchase_graph(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    _nodes, base, _n = prepared
    edges = base.select("src", "dst")
    # per-level frontier/visited checkpoints are plan-lifetime blocks
    seeds = plans.at_rest(
        t["customer"]
        .where(F.col("c_nationkey") == 0)
        .select(_enc_node("c_custkey", is_supplier=False).alias("node"))
        .distinct()
    )
    counts = [seeds.agg(F.count(F.lit(1)).cast("long").alias("n"))]
    visited, frontier = seeds, seeds
    for _hop in range(1, 4):
        nxt = plans.at_rest(
            edges.join(frontier, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        counts.append(nxt.agg(F.count(F.lit(1)).cast("long").alias("n")))
        visited = plans.at_rest(visited.unionByName(nxt))
        frontier = nxt
    out = None
    for hop, c in enumerate(counts):
        row = c.select(
            F.lit(hop).cast("int").alias("hop"),
            F.col("n").alias("nodes_reached"),
        )
        out = row if out is None else out.unionByName(row)
    return out.transform(presentation_sort, "hop")
