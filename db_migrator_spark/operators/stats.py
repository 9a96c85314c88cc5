"""Exact distribution-test statistics (round 8).

The reference has no statistics surface (scope:
/root/reference/src/migrate/table_migrator.rs:43-114); these give the
drift-audit tier (column drift profile, Benford, expectation checks)
its inferential counterparts, each computed in EXACT integer
arithmetic so the cross-engine hash match is bit-for-bit:

- ``q_ks_drift_test``: two-sample Kolmogorov-Smirnov D between order
  history halves (before/after the drift pivot), per order priority.
  D = max |F1(x) - F2(x)| over the merged support =
  max |cum1*n2 - cum2*n1| / (n1*n2) — numerators by integer
  cross-multiplication, one keyed running-count window over DISTINCT
  values, final ratio on the decimal contract.
- ``q_chi_square_independence``: the (priority x status) contingency
  chi-square. chi2 = sum (obs*N - r*c)^2 / (N*r*c) — per cell an
  exact rational; contributions surface in micro units via
  DECIMAL(38,0)/HUGEINT cross products. Exact while obs*N < ~1e19
  (documented bound; past it, carry the cell delta obs - r*c div N
  instead).

Scale notes (100 TB): KS groups by (priority, value) first, and since
currency values are nearly unique the distinct support is still
data-sized — the running counts therefore come from the keyed
distributed exact-rank pass (``operators.distributed_rank``,
(priority, value-bin) parallel units; round 11), never a 5-task keyed
window. Chi-square is one cell aggregate + two margin aggregates
joined back at matrix size. No global windows, no data-sized collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table
from .quality import DRIFT_PIVOT


def q_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority exact KS D (ppm) between pre- and post-pivot order
    totals (module doc). Output: n1, n2, d_num, d_ppm per priority."""
    orders = load_table(spark, sf_dir, "orders")
    half = F.when(
        F.col("o_orderdate") < F.lit(DRIFT_PIVOT).cast("timestamp"), 1
    ).otherwise(2)
    v = F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint")
    base = orders.select(
        "o_orderpriority", half.alias("half"), v.alias("v")
    )
    cells = base.groupBy("o_orderpriority", "v").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("c2"),
    )
    # Keyed distributed running counts (round 11): order totals are
    # nearly unique, so the per-priority DISTINCT-value support is
    # data-sized and a priority-keyed window is a 5-task ceiling. Both
    # running counts and both margins come from ONE keyed distributed
    # exact-rank pass ((priority, value-bin) parallel units, two
    # ``cum_cols`` + their free ``tot_`` totals); oracle keeps the plain
    # window SQL.
    from .distributed_rank import quantile_cuts, with_global_rank

    # Levene treatment (round 13, VERDICT r12 #3): cells is an expensive
    # near-row-grain aggregate feeding THREE actions/consumers (quantile
    # cuts, the rank pass's offset side, the final plan) — r12 removed
    # the in-plan second lineage with the driver fold (6.20 -> 4.35s,
    # BENCH_NOTES round-12b) but each remaining consumer still re-ran
    # the orders scan + cells shuffle. Materialize cells ONCE (lazy
    # localCheckpoint — the quantile action triggers it) and feed all
    # consumers from the checkpointed partitions; cuts move from base
    # to cells (cuts only steer bin balance, never correctness, and the
    # cells read is now free), and the fold flips BACK to plan mode:
    # with cells materialized, plan mode's second lineage is a cheap
    # checkpoint read and it saves the driver-fold collect round-trip
    # (interleaved A/B, 4 pairs: ckpt+plan beat ckpt+driver in all 4;
    # BENCH_NOTES round-13). Caveat: at 100 TB this checkpoint is
    # near-row-grain executor-local storage — the fault-tolerance
    # trade-off documented in SCALE.md's checkpoint rule applies.
    cells = cells.localCheckpoint(eager=False)
    cuts = quantile_cuts(cells, ["v"])["v"]
    cum = with_global_rank(
        cells, "v", [], cuts=cuts,
        partition_by=["o_orderpriority"], rank_col="__rk",
        total_col="__nv", cum_cols=("c1", "c2"),
    )
    return (
        cum.groupBy("o_orderpriority")
        .agg(
            F.max(F.col("tot_c1").cast("bigint")).alias("n1"),
            F.max(F.col("tot_c2").cast("bigint")).alias("n2"),
            F.max(
                F.abs(
                    F.col("cum_c1") * F.col("tot_c2")
                    - F.col("cum_c2") * F.col("tot_c1")
                )
            )
            .cast("bigint")
            .alias("d_num"),
        )
        .select(
            "o_orderpriority",
            "n1",
            "n2",
            "d_num",
            F.expr(
                "CAST(CAST(d_num AS DECIMAL(38,0)) * 1000000 div (n1 * n2)"
                " AS BIGINT)"
            ).alias("d_ppm"),
        )
        .orderBy("o_orderpriority")
    )


def q_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency chi-square of order priority x order status: per-cell
    observed count, expected count in micros (r*c*1e6 div N), the exact
    chi2 contribution in micros, plus the total row
    (o_orderpriority = '*', o_orderstatus = '*')."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    rows_m = cells.groupBy("o_orderpriority").agg(
        F.sum("obs").cast("bigint").alias("r")
    )
    cols_m = cells.groupBy("o_orderstatus").agg(
        F.sum("obs").cast("bigint").alias("c")
    )
    tot = cells.agg(F.sum("obs").cast("bigint").alias("n"))
    scored = (
        cells.join(F.broadcast(rows_m), "o_orderpriority")
        .join(F.broadcast(cols_m), "o_orderstatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "obs",
            F.expr(
                "CAST(CAST(r AS DECIMAL(38,0)) * c * 1000000 div n"
                " AS BIGINT)"
            ).alias("expected_micro"),
            F.expr(
                "CAST(CAST((obs * n - r * c) AS DECIMAL(38,0))"
                " * (obs * n - r * c) * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
            ).alias("chi2_contrib_micro"),
        )
    )
    total = scored.agg(
        F.sum("obs").cast("bigint").alias("obs"),
        F.sum("expected_micro").cast("bigint").alias("expected_micro"),
        F.sum("chi2_contrib_micro").cast("bigint").alias("chi2_contrib_micro"),
    ).select(
        F.lit("*").alias("o_orderpriority"),
        F.lit("*").alias("o_orderstatus"),
        "obs",
        "expected_micro",
        "chi2_contrib_micro",
    )
    return scored.unionByName(total).orderBy(
        "o_orderpriority", "o_orderstatus"
    )


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per order priority: order totals in
    date order, signed against the group's exact (type-1 lower) median;
    ties at the median drop (the standard convention). Surfaces the
    observed run count and the exact expected count under randomness,
    E[R] = 1 + 2*n1*n2/(n1+n2), in micros via the decimal contract —
    the residual-randomness audit for a metric stream.

    Scale shape (round 12, single-pass rework per VERDICT r11 #4): the
    median comes from the (priority, value) cells running-count pass
    (unchanged). Run counting then exploits associativity instead of a
    global sequence: days are natural CONTIGUOUS calendar bins
    (o_orderdate is date-grain), so one (priority, day)-partitioned
    lag window yields each bin's local run count, first sign, and last
    sign in a single parallel pass — ~2.4k parallel units per priority
    at any SF, no global-rank offset machinery, no data-sized
    self-join (the r11 shape recomputed the whole signed pipeline on
    BOTH sides of a sequence-position equi-join). The cross-day stitch
    (subtract one run per day boundary whose signs agree) folds a
    calendar-bounded struct array (<= |days| per priority) with
    ``aggregate`` — never a data-sized collect. Oracle keeps the plain
    window SQL.
    """
    from .distributed_rank import quantile_cuts, with_global_rank
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    v = F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint")
    base = orders.select(
        "o_orderpriority",
        "o_orderdate",
        "o_orderkey",
        v.alias("v"),
    )
    # Type-1 lower median per priority WITHOUT a row-level rank: group
    # to (priority, value) cells first (map-side combinable), run ONE
    # keyed distributed running-count pass over the distinct support,
    # and pick the smallest value whose cumulative count reaches rank
    # (n+1) div 2 — same value the row-rank filter selected, one less
    # row-level window pipeline (r11 perf rework: 5.5 -> see
    # BENCH_NOTES; oracle keeps the row-rank SQL).
    cells = base.groupBy("o_orderpriority", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # Round 13 (SCALE.md multi-consumer rule case 3, the
    # q_ks_drift_test lesson): checkpoint the expensive near-row-grain
    # cells once, feed the quantile action and both rank-pass sides
    # from it, and flip the fold back to plan mode. The r12b
    # driver-fold + base-cuts shape (4.77 -> 3.05s) was the
    # intermediate state; A/B in BENCH_NOTES round-13.
    cells = cells.localCheckpoint(eager=False)
    ccuts = quantile_cuts(cells, ["v"])["v"]
    cum = with_global_rank(
        cells, "v", [], cuts=ccuts,
        partition_by=["o_orderpriority"], rank_col="__rk",
        total_col="__nv", cum_cols=("cnt",),
    )
    median = (
        cum.filter(F.expr("cum_cnt >= (tot_cnt + 1) div 2"))
        .groupBy("o_orderpriority")
        .agg(F.min("v").alias("med"))
    )
    signed = (
        base.join(F.broadcast(median), "o_orderpriority")
        .filter(F.col("v") != F.col("med"))
        .select(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("day"),
            "o_orderkey",
            (F.col("v") > F.col("med")).cast("int").alias("s"),
        )
    )
    # Day-local runs: o_orderdate is date-grain (ties in the global
    # (date, key) order all share a day), so a (priority, day) window
    # ordered by o_orderkey sees exactly one contiguous slice of the
    # global sequence — the parallel unit, data/|days| rows each.
    wday = W.partitionBy("o_orderpriority", "day").orderBy("o_orderkey")
    local = signed.withColumn("s_prev", F.lag("s").over(wday))
    days = local.groupBy("o_orderpriority", "day").agg(
        F.sum("s").cast("bigint").alias("d_above"),
        F.sum(1 - F.col("s")).cast("bigint").alias("d_below"),
        F.sum(
            F.when(
                F.col("s_prev").isNull() | (F.col("s_prev") != F.col("s")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("d_runs"),
        F.min_by("s", "o_orderkey").alias("first_s"),
        F.max_by("s", "o_orderkey").alias("last_s"),
    )
    # Stitch: each day opened a "new" run at its first row; when the
    # previous day ended on the same sign, that opening merges — one
    # subtraction per agreeing boundary, folded over the calendar-
    # bounded day array (sort_array orders by the leading day field).
    return (
        days.groupBy("o_orderpriority")
        .agg(
            F.sum("d_above").cast("bigint").alias("n_above"),
            F.sum("d_below").cast("bigint").alias("n_below"),
            F.sum("d_runs").cast("bigint").alias("raw_runs"),
            F.sort_array(
                F.collect_list(F.struct("day", "first_s", "last_s"))
            ).alias("bins"),
        )
        .select(
            "o_orderpriority",
            "n_above",
            "n_below",
            (
                F.col("raw_runs")
                - F.expr(
                    "CASE WHEN size(bins) > 1 THEN aggregate("
                    " sequence(1, size(bins) - 1), 0L,"
                    " (acc, i) -> acc + IF(bins[i].first_s ="
                    " bins[i-1].last_s, 1L, 0L)) ELSE 0L END"
                )
            )
            .cast("bigint")
            .alias("n_runs"),
        )
        .select(
            "*",
            F.expr(
                "CAST(1000000 + CAST(2 AS DECIMAL(38,0)) * n_above * n_below"
                " * 1000000 div (n_above + n_below) AS BIGINT)"
            ).alias("expected_runs_micro"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES = {
    "q_ks_drift_test": q_ks_drift_test,
    "q_chi_square_independence": q_chi_square_independence,
    "q_runs_test": q_runs_test,
}

ORACLES = {
    "q_runs_test": """
        WITH base AS (
            SELECT o_orderpriority, o_orderdate, o_orderkey,
                   CAST(FLOOR(o_totalprice * 1000000) AS BIGINT) AS v
            FROM orders),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                         ORDER BY v, o_orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM base),
        med AS (
            SELECT o_orderpriority, v AS med
            FROM ranked WHERE rn = (n + 1) // 2),
        signed AS (
            SELECT b.o_orderpriority, b.o_orderdate, b.o_orderkey,
                   CAST(b.v > m.med AS INTEGER) AS s
            FROM base b JOIN med m
              ON m.o_orderpriority = b.o_orderpriority
            WHERE b.v != m.med),
        runs AS (
            SELECT o_orderpriority, s,
                   CASE WHEN LAG(s) OVER w IS NULL
                             OR LAG(s) OVER w != s THEN 1 ELSE 0 END
                       AS new_run
            FROM signed
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_orderdate, o_orderkey)),
        agg AS (
            SELECT o_orderpriority,
                   CAST(SUM(s) AS BIGINT) AS n_above,
                   CAST(SUM(1 - s) AS BIGINT) AS n_below,
                   CAST(SUM(new_run) AS BIGINT) AS n_runs
            FROM runs GROUP BY o_orderpriority)
        SELECT o_orderpriority, n_above, n_below, n_runs,
               CAST(1000000 + CAST(2 AS HUGEINT) * n_above * n_below
                    * 1000000 // (n_above + n_below) AS BIGINT)
                   AS expected_runs_micro
        FROM agg
        ORDER BY o_orderpriority
    """,
    "q_ks_drift_test": f"""
        WITH base AS (
            SELECT o_orderpriority,
                   CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_PIVOT}'
                        THEN 1 ELSE 2 END AS half,
                   CAST(FLOOR(o_totalprice * 1000000) AS BIGINT) AS v
            FROM orders),
        cells AS (
            SELECT o_orderpriority, v,
                   COUNT(*) FILTER (half = 1) AS c1,
                   COUNT(*) FILTER (half = 2) AS c2
            FROM base GROUP BY o_orderpriority, v),
        cum AS (
            SELECT o_orderpriority,
                   SUM(c1) OVER w AS cum1,
                   SUM(c2) OVER w AS cum2
            FROM cells
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY v
                         ROWS UNBOUNDED PRECEDING)),
        margins AS (
            SELECT o_orderpriority,
                   CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2
            FROM cells GROUP BY o_orderpriority),
        d AS (
            SELECT c.o_orderpriority, m.n1, m.n2,
                   CAST(MAX(ABS(c.cum1 * m.n2 - c.cum2 * m.n1)) AS BIGINT)
                       AS d_num
            FROM cum c JOIN margins m
              ON m.o_orderpriority = c.o_orderpriority
            GROUP BY c.o_orderpriority, m.n1, m.n2)
        SELECT o_orderpriority, n1, n2, d_num,
               CAST(CAST(d_num AS HUGEINT) * 1000000 // (n1 * n2) AS BIGINT)
                   AS d_ppm
        FROM d
        ORDER BY o_orderpriority
    """,
    "q_chi_square_independence": """
        WITH cells AS (
            SELECT o_orderpriority, o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS obs
            FROM orders GROUP BY 1, 2),
        rm AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS r
               FROM cells GROUP BY 1),
        cm AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS c
               FROM cells GROUP BY 1),
        t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
        scored AS (
            SELECT x.o_orderpriority, x.o_orderstatus, x.obs,
                   CAST(CAST(rm.r AS HUGEINT) * cm.c * 1000000 // t.n
                        AS BIGINT) AS expected_micro,
                   CAST(CAST((x.obs * t.n - rm.r * cm.c) AS HUGEINT)
                        * (x.obs * t.n - rm.r * cm.c) * 1000000
                        // (CAST(t.n AS HUGEINT) * rm.r * cm.c) AS BIGINT)
                       AS chi2_contrib_micro
            FROM cells x
            JOIN rm ON rm.o_orderpriority = x.o_orderpriority
            JOIN cm ON cm.o_orderstatus = x.o_orderstatus, t)
        SELECT o_orderpriority, o_orderstatus, obs, expected_micro,
               chi2_contrib_micro
        FROM scored
        UNION ALL
        SELECT '*', '*', CAST(SUM(obs) AS BIGINT),
               CAST(SUM(expected_micro) AS BIGINT),
               CAST(SUM(chi2_contrib_micro) AS BIGINT)
        FROM scored
        ORDER BY o_orderpriority, o_orderstatus
    """,
}
