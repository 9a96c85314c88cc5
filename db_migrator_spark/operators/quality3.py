"""Interpolated (PERCENTILE_CONT-style) exact quantiles (round 8).

The reference has no analytics surface (scope:
/root/reference/src/migrate/table_migrator.rs:43-114); this completes
the engine's percentile family: ``q_exact_percentiles`` is type-1
(selection — a value from the data), this is type-7 (linear
interpolation between the two bracketing order statistics — ANSI
PERCENTILE_CONT). Neither engine's built-in is used: their float
interpolation differs in the last ulp, so the interpolation is done in
EXACT integer micros on both sides — position p*(n-1) split as
``idx = (p*(n-1)) div 100`` and remainder, then
``(v_lo*(100-rem) + v_hi*rem) div 100`` — the repo's truncating-div
contract end-to-end.

Scale notes (100 TB): one keyed shuffle for the per-group ordered
row_number, a groups-x-percentiles spine (constant-sized) joined back
on (group, rank) — two keyed equi-joins probing exactly one row per
spine entry. Same giant-group caveat and bin-selection fallback notes
as ``q_exact_percentiles``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..io import load_table

CONT_PCTS = (25, 50, 75)


def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated p25/p50/p75 of o_totalprice per order priority, in
    exact micros (module doc)."""
    from .distributed_rank import quantile_cuts, with_global_rank

    orders = load_table(spark, sf_dir, "orders")
    v = F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint")
    base = orders.select(
        "o_orderpriority",
        v.alias("v_micro"),
        F.col("o_orderkey"),
    )
    # Keyed distributed exact-rank (round 11): the 5 priority groups
    # grow linearly with data, so the order statistics rank via
    # (priority, value-bin) parallel units instead of a 5-task keyed
    # window. Oracle keeps the plain ROW_NUMBER SQL.
    cuts = quantile_cuts(base, ["v_micro"])["v_micro"]
    ranked = with_global_rank(
        base, "v_micro", ["o_orderkey"], cuts=cuts,
        partition_by=["o_orderpriority"], rank_col="rn", total_col="__n",
    ).select("o_orderpriority", "v_micro", "rn")
    counts = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    spine = counts.select(
        "o_orderpriority",
        "n",
        F.explode(F.array(*[F.lit(p) for p in CONT_PCTS])).alias("pct"),
    ).select(
        "o_orderpriority",
        "pct",
        F.expr("(pct * (n - 1)) div 100 + 1").alias("rn_lo"),
        F.expr("(pct * (n - 1)) % 100").alias("rem"),
    )
    lo = ranked.select(
        "o_orderpriority",
        F.col("rn").alias("rn_lo"),
        F.col("v_micro").alias("v_lo"),
    )
    hi = ranked.select(
        "o_orderpriority",
        (F.col("rn") - 1).alias("rn_lo"),
        F.col("v_micro").alias("v_hi"),
    )
    return (
        spine.join(lo, ["o_orderpriority", "rn_lo"])
        .join(hi, ["o_orderpriority", "rn_lo"], "left")
        .select(
            "o_orderpriority",
            "pct",
            F.expr(
                "(v_lo * (100 - rem) + coalesce(v_hi, v_lo) * rem) div 100"
            ).alias("value_micro"),
        )
        .orderBy("o_orderpriority", "pct")
    )


def q_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing gains/lift table per nation: customers ranked into
    revenue deciles (ntile keyed by nation, ties on custkey), each
    decile's customer count, exact-micro revenue, cumulative revenue
    share ppm, and lift vs the uniform decile (share * 10 in ppm,
    1e6 = average). The campaign-targeting diagnostic built from the
    same keyed-window discipline as RFM — a GLOBAL decile would need
    the exact-percentile cutoffs instead; the per-market form is both
    the business convention and the scale-safe plan.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint"))
            .alias("rev_micros")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        # customer-grain aggregate feeding THREE consumers (quantile
        # action + the rank pass's two plan sides): checkpoint the
        # entity-sized relation so the orders groupBy+join runs once
        # (the q_rank_suppliers r11 rule; round-12b A/B in BENCH_NOTES).
        .localCheckpoint(eager=False)
    )
    # Keyed distributed exact-rank + closed-form NTILE (round 11):
    # nation partitions hold customers/25 rows — linear in data — so the
    # decile assignment uses (nation, revenue-bin) parallel units instead
    # of a 25-task keyed window. ntile_expr is bit-identical to
    # NTILE(10) OVER (...) on the same total order; the cumulative-share
    # window further down runs over the nation x decile aggregate
    # (<= 250 rows — bounded), not row data. Oracle keeps plain NTILE SQL.
    from .distributed_rank import ntile_expr, quantile_cuts, with_global_rank

    cuts = quantile_cuts(rev, ["rev_micros"])["rev_micros"]
    deciled = with_global_rank(
        rev, "rev_micros", ["o_custkey"], cuts=cuts, descending=True,
        partition_by=["c_nationkey"], rank_col="__rk", total_col="__n",
    ).select(
        "c_nationkey",
        "rev_micros",
        ntile_expr("__rk", "__n", 10).alias("decile"),
    )
    per = deciled.groupBy("c_nationkey", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_micros").alias("rev_micros"),
    )
    wcum = (
        W.partitionBy("c_nationkey")
        .orderBy("decile")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    tot = per.groupBy("c_nationkey").agg(
        F.sum("rev_micros").alias("nation_micros")
    )
    return (
        per.join(tot, "c_nationkey")
        .select(
            "c_nationkey",
            "decile",
            "n_customers",
            F.col("rev_micros").cast("bigint").alias("rev_micros"),
            F.sum("rev_micros").over(wcum).cast("bigint").alias("cum_micros"),
            "nation_micros",
        )
        .select(
            "c_nationkey",
            "decile",
            "n_customers",
            "rev_micros",
            F.expr(
                "CAST(CAST(cum_micros AS DECIMAL(38,0)) * 1000000"
                " div nation_micros AS BIGINT)"
            ).alias("cum_share_ppm"),
            F.expr(
                "CAST(CAST(rev_micros AS DECIMAL(38,0)) * 10000000"
                " div nation_micros AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("c_nationkey", "decile")
    )


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier (skyline) of parts minimizing
    (retail price, size): every part not STRICTLY dominated by a
    same-brand part that is <= on both dimensions and < on at least
    one. Identical (price, size) twins both survive.

    The classic skyline operator, distributed WITHOUT the naive O(n^2)
    dominance join: 2-d skyline reduces to a sorted scan — a point
    survives iff (a) the running min size over strictly-cheaper
    same-brand parts exceeds its size and (b) it has the min size at
    its own price point. Both are brand-keyed constructs: one
    (brand, price) min aggregate, one brand-keyed prefix-min window
    over DISTINCT price points (bounded support), one equi-join back.
    The dominance-join oracle (NOT EXISTS) proves the rewrite exact.
    """
    parts = load_table(spark, sf_dir, "part")
    pts = parts.select(
        "p_brand",
        "p_partkey",
        F.floor(F.col("p_retailprice") * 1_000_000)
        .cast("bigint")
        .alias("price_micro"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    per_x = pts.groupBy("p_brand", "price_micro").agg(
        F.min("p_size").alias("min_size_here")
    )
    wpre = (
        W.partitionBy("p_brand")
        .orderBy("price_micro")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    pre = per_x.select(
        "p_brand",
        "price_micro",
        "min_size_here",
        F.min("min_size_here").over(wpre).alias("prefix_min_size"),
    )
    return (
        pts.join(pre, ["p_brand", "price_micro"])
        .filter(
            (
                F.col("prefix_min_size").isNull()
                | (F.col("prefix_min_size") > F.col("p_size"))
            )
            & (F.col("p_size") == F.col("min_size_here"))
        )
        .select("p_brand", "p_partkey", "price_micro", "p_size")
        .orderBy("p_brand", "price_micro", "p_partkey")
    )


def q_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor over lineitem — the storage-layout
    audit a 100 TB table owner runs before picking parquet encodings:
    per column, global cardinality (dictionary viability), run
    structure under the table's unique key order (RLE viability), and
    the max adjacent delta (delta-encoding bit width). Output: one row
    per audited column with n_rows, n_distinct, distinct_ppm, n_runs,
    rle_save_ppm = (n_rows - n_runs) * 1e6 div n_rows, and
    max_abs_delta (quantized micros / epoch-days; NULL for strings).

    Runs are counted WITHIN each order's line group (partition by
    l_orderkey, ordered by the unique key (l_partkey, l_suppkey)) —
    deterministic at any parallelism, and the realistic model of
    row-group-local encoding: a global row order does not survive
    distributed writes anyway. The multi-column distinct counts expand
    to one pass per column at this size; at 100 TB swap them for the
    HLL sketch tier (q_hll_distinct_by_type) — the run/delta stats
    stay exact one-pass either way.
    """
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy("l_partkey", "l_suppkey")
    vals = {
        "l_returnflag": F.col("l_returnflag"),
        "l_linestatus": F.col("l_linestatus"),
        "l_suppkey": F.col("l_suppkey"),
        "l_quantity": F.floor(F.col("l_quantity") * 1_000_000).cast(
            "bigint"
        ),
        "l_extendedprice": F.floor(
            F.col("l_extendedprice") * 1_000_000
        ).cast("bigint"),
        "l_shipdate": F.expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"
        ),
    }
    numeric = {"l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate"}
    proj = li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        *[v.alias(f"v_{c}") for c, v in vals.items()],
    )
    flagged = proj.select(
        *[
            F.when(
                F.lag(f"v_{c}").over(w).isNull()
                | (F.lag(f"v_{c}").over(w) != F.col(f"v_{c}")),
                1,
            )
            .otherwise(0)
            .alias(f"nr_{c}")
            for c in vals
        ],
        *[
            F.abs(F.col(f"v_{c}") - F.lag(f"v_{c}").over(w)).alias(
                f"d_{c}"
            )
            for c in numeric
        ],
        *[F.col(f"v_{c}") for c in vals],
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        *[
            F.countDistinct(f"v_{c}").cast("bigint").alias(f"nd_{c}")
            for c in vals
        ],
        *[F.sum(f"nr_{c}").cast("bigint").alias(f"runs_{c}") for c in vals],
        *[
            F.max(f"d_{c}").cast("bigint").alias(f"maxd_{c}")
            for c in numeric
        ],
    )
    stack_args = ", ".join(
        f"'{c}', nd_{c}, runs_{c}, "
        + (f"maxd_{c}" if c in numeric else "CAST(NULL AS BIGINT)")
        for c in vals
    )
    return (
        agg.select(
            "n_rows",
            F.expr(
                f"stack({len(vals)}, {stack_args})"
                " AS (col_name, n_distinct, n_runs, max_abs_delta)"
            ),
        )
        .select(
            "col_name",
            "n_rows",
            "n_distinct",
            F.expr("n_distinct * 1000000 div n_rows").alias("distinct_ppm"),
            "n_runs",
            F.expr(
                "(n_rows - n_runs) * 1000000 div n_rows"
            ).alias("rle_save_ppm"),
            "max_abs_delta",
        )
        .orderBy("col_name")
    )


def q_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED price percentiles per return flag — "the price
    at which half the shipped units are cheaper", which no unweighted
    percentile op answers (a 50-unit line moves the answer 50x more
    than a 1-unit line). Exact lower weighted percentile: the smallest
    value v whose cumulative weight reaches the target fraction of
    total weight, selected by integer cross-multiplication
    (2*cumw >= W for the median, 10*cumw >= 9*W for p90).

    Scale notes (100 TB): the row stream collapses to DISTINCT values
    per group first (one map-side-combined aggregate), the running sum
    runs over that bounded support per group key — the same shape as
    the KS statistic — and ties inside a value block can't change the
    selected value by construction (selection is min-v over a
    per-block condition). No global windows, no collect.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 1_000_000)
        .cast("bigint")
        .alias("v"),
        F.floor(F.col("l_quantity")).cast("bigint").alias("w"),
    )
    cells = base.groupBy("l_returnflag", "v").agg(
        F.sum("w").cast("bigint").alias("w")
    )
    # Keyed distributed running sum (round 11): order prices are nearly
    # unique, so the per-flag DISTINCT-value support is data-sized and a
    # flag-keyed window is a 3-task ceiling. The running weight, group
    # total weight and distinct-value count all come from ONE keyed
    # distributed exact-rank pass ((flag, value-bin) parallel units,
    # ``cum_cols`` + free ``tot_``/total); oracle keeps plain window SQL.
    # Round 13 (the q_ks_drift_test Levene treatment, SCALE.md
    # multi-consumer rule case 3): cells aggregates the 6M-row lineitem
    # scan and feeds three consumers — materialize it ONCE (lazy
    # localCheckpoint, triggered by the quantile action), move cuts to
    # the checkpointed cells, and flip the offset fold BACK to plan
    # mode (with the input checkpointed, plan mode's second lineage is
    # a cheap checkpoint read and the driver-fold collect round-trip is
    # pure overhead). Interleaved A/B in BENCH_NOTES round-13; the r12b
    # driver-fold step (7.30 -> 4.12s) was the intermediate state.
    from .distributed_rank import quantile_cuts, with_global_rank

    cells = cells.localCheckpoint(eager=False)
    cuts = quantile_cuts(cells, ["v"])["v"]
    cum = with_global_rank(
        cells, "v", [], cuts=cuts,
        partition_by=["l_returnflag"], rank_col="__rk",
        total_col="n_values", cum_cols=("w",),
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(
            F.max(F.col("tot_w").cast("bigint")).alias("total_w"),
            F.max("n_values").cast("bigint").alias("n_values"),
            F.min(
                F.when(F.col("cum_w") * 2 >= F.col("tot_w"), F.col("v"))
            ).alias("wmedian_micro"),
            F.min(
                F.when(
                    F.col("cum_w") * 10 >= F.col("tot_w") * 9, F.col("v")
                )
            ).alias("wp90_micro"),
        )
        .orderBy("l_returnflag")
    )


def q_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index of customer
    revenue per nation, exact ppm: HHI = sum(share_i^2) surfaces as
    sum(y_i^2) * 1e6 div total^2 — a single ratio of integers, never
    per-customer float shares (the Gini op's concentration sibling;
    HHI is the antitrust-standard one). The equivalent-competitor
    count 1/HHI rides the same contract (1e12 div hhi_ppm).

    Plan: one revenue groupBy, one nation-keyed two-sum aggregate
    (sum y, sum y^2 — both map-side combinable, no rank window at
    all, cheaper than Gini), nations-sized output. y^2 promotes
    through DECIMAL(38,0): customer revenue micros pass 1e12, squares
    1e24.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint"))
            .alias("y")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    sums = rev.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("y").cast("decimal(38,0)").alias("total"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("ssq"),
    )
    return (
        sums.select(
            "c_nationkey",
            "n_customers",
            F.col("total").cast("bigint").alias("total_micro"),
            F.expr(
                "CASE WHEN total = 0 THEN NULL"
                " ELSE CAST(ssq * 1000000 div (total * total) AS BIGINT)"
                " END"
            ).alias("hhi_ppm"),
        )
        .select(
            "*",
            F.expr(
                "CASE WHEN hhi_ppm IS NULL OR hhi_ppm = 0 THEN NULL"
                " ELSE CAST(1000000000000 div hhi_ppm AS BIGINT) END"
            ).alias("effective_n_micro"),
        )
        .orderBy("c_nationkey")
    )


QUERIES = {
    "q_encoding_audit": q_encoding_audit,
    "q_herfindahl_index": q_herfindahl_index,
    "q_weighted_percentiles": q_weighted_percentiles,
    "q_percentile_cont": q_percentile_cont,
    "q_decile_lift_table": q_decile_lift_table,
    "q_pareto_frontier": q_pareto_frontier,
}

def _encoding_audit_oracle() -> str:
    vals = {
        "l_returnflag": "l_returnflag",
        "l_linestatus": "l_linestatus",
        "l_suppkey": "l_suppkey",
        "l_quantity": "CAST(FLOOR(l_quantity * 1000000) AS BIGINT)",
        "l_extendedprice": (
            "CAST(FLOOR(l_extendedprice * 1000000) AS BIGINT)"
        ),
        "l_shipdate": (
            "epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000"
        ),
    }
    numeric = {"l_suppkey", "l_quantity", "l_extendedprice", "l_shipdate"}
    proj = ",\n                   ".join(
        f"{expr} AS v_{c}" for c, expr in vals.items()
    )
    flags = ",\n                   ".join(
        f"CASE WHEN LAG(v_{c}) OVER w IS NULL"
        f" OR LAG(v_{c}) OVER w != v_{c} THEN 1 ELSE 0 END AS nr_{c}"
        for c in vals
    )
    deltas = ",\n                   ".join(
        f"ABS(v_{c} - LAG(v_{c}) OVER w) AS d_{c}" for c in numeric
    )
    aggs = ",\n                   ".join(
        f"CAST(COUNT(DISTINCT v_{c}) AS BIGINT) AS nd_{c},"
        f" CAST(SUM(nr_{c}) AS BIGINT) AS runs_{c}"
        for c in vals
    ) + "," + ",\n                   ".join(
        f"CAST(MAX(d_{c}) AS BIGINT) AS maxd_{c}" for c in numeric
    )
    arms = "\n        UNION ALL\n".join(
        f"""        SELECT '{c}' AS col_name, n_rows, nd_{c} AS n_distinct,
               nd_{c} * 1000000 // n_rows AS distinct_ppm,
               runs_{c} AS n_runs,
               (n_rows - runs_{c}) * 1000000 // n_rows AS rle_save_ppm,
               {f'maxd_{c}' if c in numeric else 'CAST(NULL AS BIGINT)'}
                   AS max_abs_delta
        FROM agg"""
        for c in vals
    )
    return f"""
        WITH proj AS (
            SELECT l_orderkey, l_partkey, l_suppkey,
                   {proj}
            FROM lineitem),
        flagged AS (
            SELECT *,
                   {flags},
                   {deltas}
            FROM proj
            WINDOW w AS (PARTITION BY l_orderkey
                         ORDER BY l_partkey, l_suppkey)),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   {aggs}
            FROM flagged)
{arms}
        ORDER BY col_name
    """


ORACLES = {
    "q_encoding_audit": _encoding_audit_oracle(),
    "q_herfindahl_index": """
        WITH rev AS (
            SELECT o.o_custkey, c.c_nationkey,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 1000000)
                                 AS BIGINT)) AS HUGEINT) AS y
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2),
        sums AS (
            SELECT c_nationkey,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   SUM(y) AS total,
                   SUM(y * y) AS ssq
            FROM rev GROUP BY c_nationkey),
        scored AS (
            SELECT c_nationkey, n_customers,
                   CAST(total AS BIGINT) AS total_micro,
                   CASE WHEN total = 0 THEN NULL
                        ELSE CAST(ssq * 1000000 // (total * total)
                                  AS BIGINT) END AS hhi_ppm
            FROM sums)
        SELECT c_nationkey, n_customers, total_micro, hhi_ppm,
               CASE WHEN hhi_ppm IS NULL OR hhi_ppm = 0 THEN NULL
                    ELSE CAST(1000000000000 // hhi_ppm AS BIGINT)
                    END AS effective_n_micro
        FROM scored
        ORDER BY c_nationkey
    """,
    "q_weighted_percentiles": """
        WITH cells AS (
            SELECT l_returnflag,
                   CAST(FLOOR(l_extendedprice * 1000000) AS BIGINT) AS v,
                   CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                       AS w
            FROM lineitem GROUP BY 1, 2),
        cum AS (
            SELECT l_returnflag, v,
                   SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cumw
            FROM cells),
        totals AS (
            SELECT l_returnflag,
                   CAST(SUM(w) AS BIGINT) AS total_w,
                   CAST(COUNT(*) AS BIGINT) AS n_values
            FROM cells GROUP BY 1)
        SELECT c.l_returnflag,
               MAX(t.total_w) AS total_w,
               MAX(t.n_values) AS n_values,
               MIN(CASE WHEN c.cumw * 2 >= t.total_w THEN c.v END)
                   AS wmedian_micro,
               MIN(CASE WHEN c.cumw * 10 >= t.total_w * 9 THEN c.v END)
                   AS wp90_micro
        FROM cum c JOIN totals t ON t.l_returnflag = c.l_returnflag
        GROUP BY c.l_returnflag
        ORDER BY c.l_returnflag
    """,
    # Naive dominance-join twin: a part survives iff NO same-brand part
    # strictly dominates it — proves the sorted-scan rewrite exact.
    "q_pareto_frontier": """
        WITH pts AS (
            SELECT p_brand, p_partkey,
                   CAST(FLOOR(p_retailprice * 1000000) AS BIGINT)
                       AS price_micro,
                   CAST(p_size AS BIGINT) AS p_size
            FROM part)
        SELECT p_brand, p_partkey, price_micro, p_size
        FROM pts a
        WHERE NOT EXISTS (
            SELECT 1 FROM pts b
            WHERE b.p_brand = a.p_brand
              AND b.price_micro <= a.price_micro
              AND b.p_size <= a.p_size
              AND (b.price_micro < a.price_micro OR b.p_size < a.p_size))
        ORDER BY p_brand, price_micro, p_partkey
    """,
    "q_decile_lift_table": """
        WITH rev AS (
            SELECT c.c_nationkey, o.o_custkey,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 1000000) AS BIGINT))
                        AS BIGINT) AS rev_micros
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY c.c_nationkey, o.o_custkey),
        deciled AS (
            SELECT c_nationkey, rev_micros,
                   NTILE(10) OVER (PARTITION BY c_nationkey
                                   ORDER BY rev_micros DESC, o_custkey)
                       AS decile
            FROM rev),
        per AS (
            SELECT c_nationkey, decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(rev_micros) AS BIGINT) AS rev_micros
            FROM deciled GROUP BY c_nationkey, decile),
        cum AS (
            SELECT *,
                   CAST(SUM(rev_micros) OVER (
                       PARTITION BY c_nationkey ORDER BY decile
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_micros,
                   CAST(SUM(rev_micros) OVER (PARTITION BY c_nationkey)
                        AS BIGINT) AS nation_micros
            FROM per)
        SELECT c_nationkey, decile, n_customers, rev_micros,
               CAST(CAST(cum_micros AS HUGEINT) * 1000000 // nation_micros
                    AS BIGINT) AS cum_share_ppm,
               CAST(CAST(rev_micros AS HUGEINT) * 10000000 // nation_micros
                    AS BIGINT) AS lift_ppm
        FROM cum
        ORDER BY c_nationkey, decile
    """,
    "q_percentile_cont": f"""
        WITH ranked AS (
            SELECT o_orderpriority,
                   CAST(FLOOR(o_totalprice * 1000000) AS BIGINT) AS v_micro,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY CAST(FLOOR(o_totalprice * 1000000) AS BIGINT),
                                o_orderkey) AS rn
            FROM orders),
        counts AS (
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
            FROM ranked GROUP BY o_orderpriority),
        spine AS (
            SELECT o_orderpriority, pct,
                   (pct * (n - 1)) // 100 + 1 AS rn_lo,
                   (pct * (n - 1)) % 100 AS rem
            FROM counts,
                 (SELECT unnest([{", ".join(str(p) for p in CONT_PCTS)}])
                      AS pct)),
        j AS (
            SELECT s.o_orderpriority, s.pct, s.rem,
                   l.v_micro AS v_lo, h.v_micro AS v_hi
            FROM spine s
            JOIN ranked l ON l.o_orderpriority = s.o_orderpriority
                         AND l.rn = s.rn_lo
            LEFT JOIN ranked h ON h.o_orderpriority = s.o_orderpriority
                              AND h.rn = s.rn_lo + 1)
        SELECT o_orderpriority, CAST(pct AS INTEGER) AS pct,
               (v_lo * (100 - rem) + COALESCE(v_hi, v_lo) * rem) // 100
                   AS value_micro
        FROM j
        ORDER BY o_orderpriority, pct
    """,
}
