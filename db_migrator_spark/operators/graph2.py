"""Triangle counting with degree-ordered orientation (round 7).

The reference has no graph operators (its data path is a 1:1 table copy,
/root/reference/src/migrate/table_migrator.rs:43-114); this extends the
engine's graph family (connected components in ``dedup.dedup_clusters``,
PageRank in ``graph.py``) with two more canonical distributed graph
workloads: per-node triangle participation over the part co-purchase
graph ("parts appearing together in an order"), and K-core peeling over
its sparsified variant (``graph_kcore`` below).

Algorithm: the MapReduce-era orientation trick (Suri & Vassilvitskii,
"Counting Triangles and the Curse of the Last Reducer", WWW 2011). Every
undirected edge is oriented from its lower-(degree, id) endpoint to the
higher one, bounding per-node OUT-degree at O(sqrt(m)) regardless of the
raw degree distribution — the "last reducer" on a power-law graph. The
triangle SET is orientation-invariant, so the DuckDB twin counts the
same triangles with its own formulation and per-node participation
hashes match exactly.

Scale notes (100 TB):
- Edge build: one shuffle keyed by order id collects each order's part
  list; the C(k,2) pair explode runs row-locally (bounded by order
  width). distinct() is the second shuffle, keyed by the edge.
- Wedge generation (round 14): row-local from per-apex out-neighbor
  lists sorted by (degree, id) — one keyed shuffle of the edge list
  into |V| array rows (each O(sqrt(m)) by the orientation), then the
  C(k,2) pair explode runs inside codegen. No wedge ever crosses a
  shuffle; the closing-edge probe is a (packed-key) broadcast under
  the documented cap, a standard shuffle join past it.
- Per-node counts: one explode(3) + map-side-combined groupBy.
Everything is exact integer arithmetic; no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table


def _copair_explode(li: DataFrame) -> DataFrame:
    """Ordered co-purchase part pairs (u < v), one output row PER
    CO-OCCURRENCE, built row-locally (round 9): one shuffle keyed by
    order collects the sorted part list, then the C(k,2) pair explode
    runs inside codegen — replacing the lineitem self-join that
    shuffled the table twice and sort-merged before the same pair
    volume hit downstream aggregates (A/B at sf0.1: 2.38s -> 1.36s,
    -43%, identical multiset: every u-position pairs with every later
    strictly-greater v-position of the sorted list exactly once, which
    is the self-join's a.partkey < b.partkey per-occurrence count).
    Order width is bounded (TPC-H <= 7 lines; real baskets O(10-100)),
    so the per-row explode is constant work at any corpus size. The
    DuckDB oracles keep their self-join formulation — the cross-engine
    contract is on VALUES, and DuckDB's hash self-join is its fast
    plan.

    Round 15 (guide §1.2 per-task work): the C(k,2) generation is two
    chained Generate operators (posexplode + explode over the
    strictly-later slice) instead of the r9-r14 ``flatten(transform(
    ..., filter(...)))`` lambda expression — higher-order-function
    lambdas are evaluated INTERPRETED per element (no codegen), while
    Generate + ``slice`` run codegen'd with native array copies.
    Identical pair multiset (probe checksum + oracle): positions after
    i in the sorted list with ``v > u`` are exactly the lambda form's
    strictly-greater later elements. A/B at sf0.1: explode+distinct
    1.1 -> 0.8s (-27%); the same rewrite measured -3.3x on the
    triangle wedge stage (OPTIMIZATION_r15.md, graph_triangle_counts)."""
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    )
    return (
        ps.select("ps", F.posexplode("ps").alias("i", "u"))
        .select(
            "u", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v")
        )
        .filter(F.col("v") > F.col("u"))
        .select("u", "v")
    )


# Edge-count ceiling for broadcasting the closing-edge set in
# _oriented_triangle_credits (see the probe-strategy note there).
TRIANGLE_BROADCAST_EDGES = 50_000_000


def _oriented_triangle_credits(oriented: DataFrame) -> DataFrame:
    """(node, tri_count) triangle participation from a degree-ordered
    oriented edge list (columns src, dst, deg_dst). Shared by
    graph_triangle_counts and graph4.graph_clustering_coefficient.

    Wedges are generated ROW-LOCALLY (round 14): one groupBy collects
    each apex's out-neighbors sorted by (degree, id) — O(sqrt(m)) per
    apex by the orientation — and the C(k,2) pair explode runs inside
    codegen, emitting each wedge (x, y) already in orientation order.
    This replaces the r7-r13 ``e1.join(e2, "src").filter(x_first)``
    self-join, which built/broadcast a second copy of the edge set and
    generated k^2 ordered pairs per apex (2x the wedge volume) only to
    filter half away. (A per-edge ``array_intersect`` of neighbor lists
    was also tried — same triangle set, but Spark's per-row hash-set
    intersect measured 8s for the 144M element ops at sf0.1, slower
    than materializing the wedges. Negative recorded in
    OPTIMIZATION_r14.md.)

    Closing-edge probe strategy (unchanged from r13, measured at sf1:
    ~190s shuffled vs ~45s broadcast vs ~13.9s packed-key broadcast for
    the probe stage): when the edge set fits an executor, broadcast it
    — with 32-bit-packable ids as ONE packed bigint key, which Spark
    probes through its dense LongHashedRelation — so the wedge stream
    never leaves its map stage. Past the cap (true 100 TB graphs) it
    degrades to the plain shuffle join on (x, y), the standard MR
    formulation.
    """
    stats = oriented.agg(
        F.count(F.lit(1)).alias("m"),
        F.max(F.greatest("src", "dst")).alias("max_id"),
    ).first()
    m32 = F.lit(4294967295)
    if stats.m <= TRIANGLE_BROADCAST_EDGES and (stats.max_id or 0) < 2**31:
        # Packed regime (round 15): neighbor lists collect as ONE packed
        # bigint per neighbor (deg_dst << 32 | dst — numeric order ==
        # the struct's (deg_dst, dst) order since both fields are
        # non-negative and < 2^31: ids by the branch condition, degrees
        # by m <= 50M < 2^31), and the wedge C(k,2) generation is two
        # chained codegen'd Generate operators (posexplode + explode
        # over the strictly-later slice) emitting the packed probe key
        # directly. This replaces the r14 ``flatten(transform(...))``
        # form, whose higher-order-function lambdas are evaluated
        # INTERPRETED per wedge and whose 41M intermediate structs were
        # the stage's real wall (wedge+probe+credits 4.4 -> 1.3s at
        # sf0.1, -3.3x, identical credit checksums, OPTIMIZATION_r15.md;
        # a packed-key LAMBDA variant measured WORSE than
        # the struct baseline — the interpreter, not the struct, is
        # the cost).
        nbrs = oriented.groupBy("src").agg(
            F.sort_array(
                F.collect_list(
                    F.shiftleft(F.col("deg_dst"), 32) + F.col("dst")
                )
            ).alias("ns")
        )
        wedges = (
            nbrs.select("src", "ns", F.posexplode("ns").alias("i", "a"))
            .select(
                "src",
                "a",
                F.explode(F.expr("slice(ns, i + 2, size(ns))")).alias("b"),
            )
            .select(
                "src",
                (
                    F.shiftleft(F.col("a").bitwiseAND(m32), 32)
                    + F.col("b").bitwiseAND(m32)
                ).alias("xy"),
            )
        )
        closing = F.broadcast(
            oriented.select(
                (F.shiftleft(F.col("src"), 32) + F.col("dst")).alias("xy")
            )
        )
        triangles = wedges.join(closing, "xy")
        corners = triangles.select(
            F.explode(
                F.array(
                    F.col("src"),
                    F.shiftright(F.col("xy"), 32),
                    F.col("xy").bitwiseAND(m32),
                )
            ).alias("node")
        )
    else:
        # General regime (ids past 2^31 or edge set past the broadcast
        # cap): struct neighbor lists, same double-Generate wedge
        # generation, plain (x, y) closing join (broadcast under the
        # cap, standard shuffle join past it — the MR formulation).
        nbrs = oriented.groupBy("src").agg(
            F.sort_array(F.collect_list(F.struct("deg_dst", "dst"))).alias(
                "ns"
            )
        )
        wedges = (
            nbrs.select("src", "ns", F.posexplode("ns").alias("i", "a"))
            .select(
                "src",
                F.col("a.dst").alias("x"),
                F.explode(F.expr("slice(ns, i + 2, size(ns))")).alias("b"),
            )
            .select("src", "x", F.col("b.dst").alias("y"))
        )
        closing = oriented.select(
            F.col("src").alias("x"), F.col("dst").alias("y")
        )
        if stats.m <= TRIANGLE_BROADCAST_EDGES:
            closing = F.broadcast(closing)
        triangles = wedges.join(closing, ["x", "y"])
        corners = triangles.select(
            F.explode(F.array("src", "x", "y")).alias("node")
        )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("tri_count")
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected part pairs co-occurring in at least one order,
    stored once with u < v (id order)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return _copair_explode(li).distinct()


def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph.

    Each triangle {a, b, c} credits all three parts. Output: every part
    in at least one triangle, with its graph degree and triangle count,
    most-triangulated first.

    Round-14 rework (guide §2.3/§2.4 — generate fewer rows, remove the
    wedge self-join): wedge generation is now row-local from sorted
    out-neighbor lists (``_oriented_triangle_credits``) instead of the
    ``e1.join(e2, "src")`` self-join that broadcast-built a second copy
    of the edge set and emitted k^2 ordered pairs per apex before
    filtering half away. The closing-edge probe strategy (packed-key
    broadcast under a cap, shuffle join past it) is unchanged — it was
    measured at sf1 in r13. A/B evidence in OPTIMIZATION_r14.md.
    """
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint()
    # Full degree of every node (edges are stored once, so explode both
    # endpoints). localCheckpoint: the edge set feeds three consumers
    # (degrees, orientation, final join) — reuse beats recompute.
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # Orient each edge from lower-(degree, id) to higher: a total order,
    # so every triangle has exactly one apex (the minimum of its three
    # nodes under it) and is generated exactly once.
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    ranked = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("deg_dst"),
    ).localCheckpoint()
    per_node = _oriented_triangle_credits(oriented)
    return (
        per_node.join(deg, "node")
        .select(
            F.col("node").alias("part_key"),
            "degree",
            "tri_count",
        )
        .orderBy(F.desc("tri_count"), "part_key")
    )


# K-core peeling runs on the SPARSIFIED co-purchase graph (pairs that
# co-occur in >= KCORE_MIN_COOC orders): the raw graph's minimum degree
# at fixture scale is ~40, which no interesting K peels; K = 2 on the
# sparsified graph is the cycle core (pendant trees and chains peel
# away) and stays non-empty across every fixture scale — the sparsified
# graph THINS as the corpus grows (parts and orders both scale, so
# repeat co-purchases stay ~constant), which kills any higher K at
# sf0.1+. Measured fixpoints: 3 rounds at sf0.01, 6 at sf0.1/sf1, both
# inside KCORE_ROUNDS. Fixed-round
# semantics: the operator is "KCORE_ROUNDS rounds of peeling", exactly
# reproducible by the unrolled-CTE oracle whether or not the peel has
# converged (the test asserts convergence at sf0.01; parity never
# depends on it). Same precedent as graph_pagerank's fixed iterations.
KCORE_K = 2
KCORE_ROUNDS = 8
KCORE_MIN_COOC = 2



def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes surviving KCORE_ROUNDS rounds of K-core peeling on the
    sparsified co-purchase graph, with their degree inside the peeled
    subgraph.

    Each round: one map-side-combined degree agg + two semi-joins that
    drop edges touching a peeled node — all keyed shuffles, nothing
    collected; ``localCheckpoint`` truncates lineage per round (the
    PageRank idiom, graph.py). At 100 TB the per-round cost is two
    hash joins on the shrinking edge set — the classic distributed
    peel; rounds is a constant, so total work is O(R * m).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    undirected = (
        _copair_explode(li)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= KCORE_MIN_COOC)
        .select("u", "v")
    )
    # Symmetric arc list: degree = out-degree, and peeling filters one
    # endpoint column at a time.
    arcs = undirected.union(
        undirected.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    # Fixpoint short-circuit (round 14): peeling only ever REMOVES arcs,
    # so an unchanged arc count after a round means no node fell below K
    # — every remaining round is the identity and the result of running
    # them equals the current arc set exactly (the declared semantics
    # stay "KCORE_ROUNDS rounds"; skipped rounds are provably no-ops).
    # The count is a near-free job over the just-checkpointed partitions
    # and saves 2 of 8 full peel rounds at sf0.1 (fixpoint measured at
    # round 6; 3 at sf0.01).
    prev_count = arcs.count()
    for _ in range(KCORE_ROUNDS):
        alive = (
            arcs.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("u")
        )
        arcs = (
            arcs.join(alive, "u", "left_semi")
            .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
        cur = arcs.count()
        if cur == prev_count:
            break
        prev_count = cur
    return (
        arcs.groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("u").alias("part_key"), "core_degree")
        .orderBy(F.desc("core_degree"), "part_key")
    )


def _kcore_oracle() -> str:
    rounds = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        # MATERIALIZED: each eN is referenced twice by round N+1 (and sN
        # twice within its round); plain CTE inlining would duplicate the
        # whole prefix per reference — 2^ROUNDS parquet scans.
        rounds.append(
            f"""s{r} AS MATERIALIZED (
                SELECT u FROM {prev} GROUP BY u
                HAVING COUNT(*) >= {KCORE_K}),
            e{r} AS MATERIALIZED (
                SELECT e.u, e.v FROM {prev} e
                JOIN s{r} a ON a.u = e.u
                JOIN s{r} b ON b.u = e.v)"""
        )
        prev = f"e{r}"
    joined = ",\n            ".join(rounds)
    return f"""
        WITH und AS MATERIALIZED (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {KCORE_MIN_COOC}),
        e0 AS MATERIALIZED (
            SELECT u, v FROM und
            UNION ALL
            SELECT v AS u, u AS v FROM und),
            {joined}
        SELECT u AS part_key, COUNT(*) AS core_degree
        FROM {prev}
        GROUP BY u
        ORDER BY core_degree DESC, part_key
    """


# Association rules: support / confidence / lift for co-purchased part
# pairs — the market-basket classic. Items with order-frequency below
# RULE_MIN_SUPPORT are pruned BEFORE pairing (the a-priori property:
# a pair can never out-support its rarest item), which bounds the
# pair-generation relation exactly like every capped miner here.
RULE_MIN_SUPPORT = 3
RULE_TOP_K = 100


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top association rules over order baskets: for each frequent part
    pair, support count, directional confidence (P(b|a) in exact ppm),
    and the symmetric lift cross-ratio — ranked by lift.

    Plan: item counts (one shuffle), a-priori prune, pair counts over
    pruned baskets (one order-keyed self-join with bounded per-order
    width), then two broadcast joins of the item-count relation. Lift
    passes through the decimal `div` contract (wrap-proof at any
    basket volume).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    n_orders_df = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    frequent = item.filter(F.col("cnt") >= RULE_MIN_SUPPORT)
    pruned = li.join(
        frequent.select("l_partkey"), "l_partkey", "left_semi"
    )
    pairs = (
        _copair_explode(pruned)
        .groupBy(F.col("u").alias("p1"), F.col("v").alias("p2"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= RULE_MIN_SUPPORT)
    )
    c1 = frequent.select(F.col("l_partkey").alias("p1"), F.col("cnt").alias("cnt1"))
    c2 = frequent.select(F.col("l_partkey").alias("p2"), F.col("cnt").alias("cnt2"))
    return (
        pairs.join(F.broadcast(c1), "p1")
        .join(F.broadcast(c2), "p2")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "p1",
            "p2",
            F.col("support").cast("bigint").alias("support"),
            F.expr("support * 1000000 div cnt1").alias("conf_1to2_ppm"),
            F.expr("support * 1000000 div cnt2").alias("conf_2to1_ppm"),
            F.expr(
                "CAST(CAST(support AS DECIMAL(38,0)) * n_orders * 1000000"
                " div (CAST(cnt1 AS DECIMAL(38,0)) * cnt2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "p1", "p2")
        .limit(RULE_TOP_K)
    )


# Size-3 itemsets repeat far more rarely than pairs (support >= 3
# triples do not exist at any fixture scale); threshold 2 keeps the
# operator's output non-degenerate at sf0.01 while the a-priori
# monotonicity (pair support >= triple support) means the leave-one-out
# pair lookups must ALSO use this threshold, not the pair-rule one.
TRIPLE_MIN_SUPPORT = 2


def q_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent size-3 itemsets over order baskets (the next a-priori
    level above ``q_basket_rules``): item triples co-purchased in at
    least ``TRIPLE_MIN_SUPPORT`` orders, with support and the exact-ppm
    all-three conditional rate against each leave-one-out pair.

    Per-order fan-out is C(basket width, 3), bounded by order width,
    generated ROW-LOCALLY from the per-order sorted distinct part list
    (round 9 — one order-keyed shuffle replaces the chained two- and
    three-way self-joins; no join exists to degrade). Pair-support
    lookups broadcast (the support-filtered pair relation is small
    relative to the basket stream).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    # Row-local C(k,2) and C(k,3) explodes over the per-order sorted
    # DISTINCT part list (round 9, _copair_explode idiom): the previous
    # two- and three-way self-joins shuffled the basket stream once per
    # join arm; now ONE order-keyed shuffle feeds both generators and
    # the combination fan-out runs inside codegen, bounded by basket
    # width. Distinct + sorted means position order == strict value
    # order, so the generated tuples are exactly the self-joins'.
    #
    # Round 14 (guide §2.4 — remove shuffles outright): the pair and
    # triple generators previously EACH rebuilt the scan → distinct →
    # collect_list chain in separate jobs (pairs is eagerly
    # checkpointed, so no exchange reuse is possible across them). The
    # per-order sorted list is now materialized ONCE and both explodes
    # read it — one scan + two shuffles total instead of two scans +
    # four shuffles. ps is |orders| rows of ≤ basket-width longs.
    ps = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    ).localCheckpoint()
    # Round 15: C(k,2)/C(k,3) generation via chained codegen'd Generate
    # operators instead of interpreted flatten/transform lambdas — same
    # tuple multisets (strictly-later slices of the sorted distinct
    # list), see _copair_explode.
    pair_rows = (
        ps.select("ps", F.posexplode("ps").alias("i", "u"))
        .select(
            "u", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v")
        )
    )
    pairs = (
        pair_rows
        .groupBy(F.col("u").alias("p1"), F.col("v").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n12"))
        .filter(F.col("n12") >= TRIPLE_MIN_SUPPORT)
        .localCheckpoint()  # three leave-one-out consumers below
    )
    triple_rows = (
        ps.select("ps", F.posexplode("ps").alias("i", "p1"))
        .select(
            "ps",
            "i",
            "p1",
            F.posexplode(F.expr("slice(ps, i + 2, size(ps))")).alias(
                "j", "p2"
            ),
        )
        .select(
            "p1",
            "p2",
            F.explode(F.expr("slice(ps, i + j + 3, size(ps))")).alias("p3"),
        )
    )
    triples = (
        triple_rows.groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= TRIPLE_MIN_SUPPORT)
    )
    j12 = F.broadcast(pairs.select("p1", "p2", F.col("n12").alias("s12")))
    j13 = F.broadcast(
        pairs.select(
            F.col("p1"), F.col("p2").alias("p3"), F.col("n12").alias("s13")
        )
    )
    j23 = F.broadcast(
        pairs.select(
            F.col("p1").alias("p2"),
            F.col("p2").alias("p3"),
            F.col("n12").alias("s23"),
        )
    )
    return (
        triples.join(j12, ["p1", "p2"])
        .join(j13, ["p1", "p3"])
        .join(j23, ["p2", "p3"])
        .select(
            "p1",
            "p2",
            "p3",
            "support",
            F.expr("support * 1000000 div s12").alias("conf_12to3_ppm"),
            F.expr("support * 1000000 div s13").alias("conf_13to2_ppm"),
            F.expr("support * 1000000 div s23").alias("conf_23to1_ppm"),
        )
        .orderBy(F.desc("support"), "p1", "p2", "p3")
    )


QUERIES = {
    "graph_triangle_counts": graph_triangle_counts,
    "graph_kcore": graph_kcore,
    "q_basket_rules": q_basket_rules,
    "q_basket_triples": q_basket_triples,
}

ORACLES = {
    # Twin runs the SAME degree-ordered orientation as the Spark plan
    # (r7's twin used the naive p1 < p2 orientation — correct, since the
    # triangle set is orientation-invariant, but its wedge join blew up
    # on hub middles: 200s wall at sf1, r7 verdict #4). TEMP TABLES, not
    # CTEs: with (NOT) MATERIALIZED CTEs DuckDB 1.0 loses cardinality
    # stats and hash-builds on the 411M-row wedge side of the closing
    # join (measured 280-385s at sf1); with exact temp-table stats the
    # identical join runs in ~8s. duckdb's execute() runs ';'-separated
    # statements and surfaces the LAST result — the same contract this
    # repo's verify gate and driver use. CREATE OR REPLACE keeps the
    # oracle re-runnable on a shared connection. unnest([a,b,c]) credits
    # all three corners in ONE pass over the triangle stream (the
    # 3x-UNION form re-scanned 18.8M materialized triangles).
    "graph_triangle_counts": """
        CREATE OR REPLACE TEMP TABLE _tc_e AS
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey;
        CREATE OR REPLACE TEMP TABLE _tc_deg AS
            SELECT node, COUNT(*) AS degree
            FROM (SELECT u AS node FROM _tc_e UNION ALL SELECT v FROM _tc_e)
            GROUP BY node;
        CREATE OR REPLACE TEMP TABLE _tc_oriented AS
            SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                        THEN e.u ELSE e.v END AS src,
                   CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                        THEN e.v ELSE e.u END AS dst,
                   CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                        THEN dv.degree ELSE du.degree END AS deg_dst
            FROM _tc_e e
            JOIN _tc_deg du ON du.node = e.u
            JOIN _tc_deg dv ON dv.node = e.v;
        WITH tri AS (
            SELECT unnest([w.src, w.x, w.y]) AS node
            FROM (SELECT e1.src, e1.dst AS x, e2.dst AS y
                  FROM _tc_oriented e1
                  JOIN _tc_oriented e2 ON e2.src = e1.src
                  WHERE (e1.deg_dst, e1.dst) < (e2.deg_dst, e2.dst)) w
            JOIN _tc_oriented o ON o.src = w.x AND o.dst = w.y),
        per_node AS (
            SELECT node, COUNT(*) AS tri_count FROM tri GROUP BY node)
        SELECT p.node AS part_key, d.degree, p.tri_count
        FROM per_node p JOIN _tc_deg d ON d.node = p.node
        ORDER BY p.tri_count DESC, part_key
    """,
    "graph_kcore": _kcore_oracle(),
    # Chained equi-joins (b on a's order, c on b's): with both edges
    # keyed, neither engine can reorder a join pair with no shared
    # condition into a cartesian (the a-c form measured a b x c
    # nested-loop hang in DuckDB).
    "q_basket_triples": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n12
            FROM li a JOIN li b
              ON b.l_orderkey = a.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {TRIPLE_MIN_SUPPORT}),
        triples AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
                   CAST(COUNT(*) AS BIGINT) AS support
            FROM li a
            JOIN li b ON b.l_orderkey = a.l_orderkey
                     AND a.l_partkey < b.l_partkey
            JOIN li c ON c.l_orderkey = b.l_orderkey
                     AND b.l_partkey < c.l_partkey
            GROUP BY 1, 2, 3
            HAVING COUNT(*) >= {TRIPLE_MIN_SUPPORT})
        SELECT t.p1, t.p2, t.p3, t.support,
               t.support * 1000000 // j12.n12 AS conf_12to3_ppm,
               t.support * 1000000 // j13.n12 AS conf_13to2_ppm,
               t.support * 1000000 // j23.n12 AS conf_23to1_ppm
        FROM triples t
        JOIN pairs j12 ON j12.p1 = t.p1 AND j12.p2 = t.p2
        JOIN pairs j13 ON j13.p1 = t.p1 AND j13.p2 = t.p3
        JOIN pairs j23 ON j23.p1 = t.p2 AND j23.p2 = t.p3
        ORDER BY t.support DESC, t.p1, t.p2, t.p3
    """,
    "q_basket_rules": f"""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
        item AS (
            SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY l_partkey),
        freq AS (SELECT * FROM item WHERE cnt >= {RULE_MIN_SUPPORT}),
        pruned AS (
            SELECT li.* FROM li JOIN freq f ON f.l_partkey = li.l_partkey),
        pairs AS (
            SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                   COUNT(*) AS support
            FROM pruned a JOIN pruned b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {RULE_MIN_SUPPORT})
        SELECT p.p1, p.p2,
               CAST(p.support AS BIGINT) AS support,
               p.support * 1000000 // c1.cnt AS conf_1to2_ppm,
               p.support * 1000000 // c2.cnt AS conf_2to1_ppm,
               CAST(CAST(p.support AS HUGEINT) * n.n_orders * 1000000
                    // (CAST(c1.cnt AS HUGEINT) * c2.cnt) AS BIGINT)
                   AS lift_ppm
        FROM pairs p
        JOIN freq c1 ON c1.l_partkey = p.p1
        JOIN freq c2 ON c2.l_partkey = p.p2, n
        ORDER BY lift_ppm DESC, p.p1, p.p2
        LIMIT {RULE_TOP_K}
    """,
}
