"""Exact rank and variance tests (round 8c, stats3).

The reference has no statistics surface (its data path is a 1:1 table
copy, /root/reference/src/migrate/table_migrator.rs:43-114); these
extend the inferential drift tier (stats.py: KS, chi-square, runs;
stats2.py: IQR fences, effect size)
with the two classical "did the distribution move" tests an analytics
engine is asked for next, both in EXACT integer arithmetic so the
cross-engine hash match is bit-for-bit:

- ``q_mann_whitney_u``: the Mann-Whitney rank-sum U comparing pre- vs
  post-pivot order totals per priority, tie-aware. Average ranks stay
  integral by carrying DOUBLED rank sums: a tie group of size t
  starting at rank a has 2*avgrank = 2a + t - 1, so
  2*R1 = sum_v c1(v) * (2a(v) + t(v) - 1) and
  2*U1 = 2*R1 - n1*(n1+1) are exact bigints. The rank-biserial effect
  size r = 2*U1/(n1*n2) - 1 surfaces in ppm on the decimal-div
  contract. Invariant (property-tested): 2*U1 + 2*U2 == 2*n1*n2.
- ``q_anova_fstat``: one-way ANOVA of order totals (cents) across the
  five priorities. Sum-of-squares via the computational identities
  SSB = sum_g S_g^2/n_g - S^2/N and SSW = Q - sum_g S_g^2/n_g, with
  each per-group division truncated identically on both engines
  (documented contract: A = sum_g (S_g^2 div n_g) — the residual vs
  the true rational is < k, invisible at ppm scale but bit-pinned).
  F = (SSB/(k-1)) / (SSW/(N-k)) surfaces in ppm via one DECIMAL(38,0)
  cross-multiplication. Sums of squares surface as DECIMAL(38,0)
  (they pass 2^63 at sf0.01 already — the unbounded-SUM contract).

Scale notes (100 TB): Mann-Whitney groups by (priority, value) FIRST,
and since currency values are nearly unique the distinct support is
still data-sized — the doubled-rank running count therefore comes from
the keyed distributed exact-rank pass (``operators.distributed_rank``,
(priority, value-bin) parallel units; round 11), never a 5-task keyed
window; everything after is matrix-sized. ANOVA is one map-side-combined groupBy(priority) plus a
k-row reduction — no window, no second scan. Overflow bounds: ANOVA's
f_ppm numerator SSB*(N-k)*1e6 stays under DECIMAL(38,0) through
~sf10 (6.7e37 at 15M rows); past that drop the ppm scale to 1e4
(documented, asserted by the ANSI overflow canary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table
from .quality import DRIFT_PIVOT


def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware Mann-Whitney U (doubled, exact) between pre- and
    post-pivot order totals per priority, with the rank-biserial
    effect size in ppm (module doc)."""
    orders = load_table(spark, sf_dir, "orders")
    half = F.when(
        F.col("o_orderdate") < F.lit(DRIFT_PIVOT).cast("timestamp"), 1
    ).otherwise(2)
    v = F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint")
    base = orders.select(
        "o_orderpriority", half.alias("half"), v.alias("v")
    )
    cells = base.groupBy("o_orderpriority", "v").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    # Tie group of size t = c1+c2 starting at rank a = cumt - t + 1:
    # doubled average rank 2a + t - 1 = 2*cumt - t + 1. The running
    # count cumt comes from the keyed distributed exact-rank pass
    # (round 11): order totals are nearly unique, so the per-priority
    # DISTINCT-value support is data-sized and a priority-keyed window
    # is a 5-task ceiling; (priority, value-bin) is the parallel unit
    # instead. Oracle keeps the plain window SQL.
    from .distributed_rank import quantile_cuts, with_global_rank

    cells2 = cells.withColumn("t", F.col("c1") + F.col("c2"))
    # Round 13 (SCALE.md multi-consumer rule case 3, the
    # q_ks_drift_test lesson): checkpoint the expensive near-row-grain
    # cells once, feed the quantile action and both rank-pass sides
    # from it, and flip the fold back to plan mode — the r12b driver
    # fold was the intermediate state (A/B in BENCH_NOTES round-13).
    cells2 = cells2.localCheckpoint(eager=False)
    cuts = quantile_cuts(cells2, ["v"])["v"]
    ranked = with_global_rank(
        cells2, "v", [], cuts=cuts,
        partition_by=["o_orderpriority"], rank_col="__rk",
        total_col="__nv", cum_cols=("t",),
    ).select(
        "o_orderpriority",
        "c1",
        "c2",
        (2 * F.col("cum_t") - F.col("t") + 1).alias("avgrank_x2"),
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.sum("c1").cast("bigint").alias("n1"),
            F.sum("c2").cast("bigint").alias("n2"),
            F.sum(F.col("c1") * F.col("avgrank_x2"))
            .cast("bigint")
            .alias("r1_x2"),
        )
        .select(
            "o_orderpriority",
            "n1",
            "n2",
            (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1))
            .cast("bigint")
            .alias("u1_x2"),
            F.expr(
                "CASE WHEN n1 * n2 = 0 THEN NULL ELSE"
                " CAST(CAST(r1_x2 - n1 * (n1 + 1) AS DECIMAL(38,0))"
                " * 1000000 div (n1 * n2) - 1000000 AS BIGINT) END"
            ).alias("rank_biserial_ppm"),
        )
        .orderBy("o_orderpriority")
    )


def _ddiv(x: str, y: str) -> str:
    """Exact truncating division of POSITIVE decimals that stays in the
    DECIMAL(38,0) domain. Spark's ``div`` on decimals returns LONG, so
    quotients past 2^63 (S_g^2/n_g crosses it at ~sf1) overflow;
    ``(x - x % y) / y`` is exactly divisible, hence exact as long as
    the quotient fits 32 integer digits (the (38,6) division result
    type). DuckDB's HUGEINT ``//`` is the same truncation natively."""
    return (
        f"CAST((({x}) - (({x}) % ({y}))) / ({y}) AS DECIMAL(38,0))"
    )


def q_anova_fstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of order totals (cents) across priorities, one
    exact summary row: group count, row count, between/within sums of
    squares (cents^2, DECIMAL — unbounded-SUM contract), F in ppm."""
    orders = load_table(spark, sf_dir, "orders")
    v = F.floor(F.col("o_totalprice") * 100).cast("bigint")
    groups = (
        orders.select("o_orderpriority", v.alias("v"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s_g"),
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias(
                "q_g"
            ),
        )
    )
    # A = sum_g (S_g^2 div n_g): per-group truncating division is the
    # documented cross-engine contract (module doc).
    return (
        groups.select(
            F.expr(_ddiv("s_g * s_g", "n_g")).alias("a_g"),
            "n_g",
            "s_g",
            "q_g",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_groups"),
            F.sum("n_g").cast("bigint").alias("n_rows"),
            F.sum("a_g").alias("a"),
            F.sum("s_g").alias("s"),
            F.sum("q_g").alias("q"),
        )
        .select(
            "k_groups",
            "n_rows",
            F.expr(
                f"CAST(a - {_ddiv('s * s', 'n_rows')} AS DECIMAL(38,0))"
            ).alias("_ssb"),
            F.expr("CAST(q - a AS DECIMAL(38,0))").alias("_ssw"),
        )
        .select(
            "k_groups",
            "n_rows",
            # Digits-as-text surface: the sums of squares exceed float64
            # exactness (~3e18 at sf0.01 already), and DECIMAL output
            # columns stringify differently across comparator fetch
            # models even when typed symmetrically (the q_anova finding
            # in tools/verify_pandas_model.py) — VARCHAR digits are
            # bit-stable under every model. f_ppm keeps the ratio exact.
            F.col("_ssb").cast("string").alias("ssb_cents2"),
            F.col("_ssw").cast("string").alias("ssw_cents2"),
            F.expr(
                "CAST(_ssb * (n_rows - k_groups)"
                " * 1000000 div (_ssw * (k_groups - 1)) AS BIGINT)"
            ).alias("f_ppm"),
        )
    )


QUERIES = {
    "q_mann_whitney_u": q_mann_whitney_u,
    "q_anova_fstat": q_anova_fstat,
}

ORACLES = {
    "q_mann_whitney_u": f"""
        WITH base AS (
            SELECT o_orderpriority,
                   CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_PIVOT}'
                        THEN 1 ELSE 2 END AS half,
                   CAST(FLOOR(o_totalprice * 1000000) AS BIGINT) AS v
            FROM orders),
        cells AS (
            SELECT o_orderpriority, v,
                   CAST(COUNT(*) FILTER (half = 1) AS BIGINT) AS c1,
                   CAST(COUNT(*) FILTER (half = 2) AS BIGINT) AS c2
            FROM base GROUP BY o_orderpriority, v),
        ranked AS (
            SELECT o_orderpriority, c1, c2,
                   2 * SUM(c1 + c2) OVER (PARTITION BY o_orderpriority
                                          ORDER BY v
                                          ROWS UNBOUNDED PRECEDING)
                       - (c1 + c2) + 1 AS avgrank_x2
            FROM cells),
        agg AS (
            SELECT o_orderpriority,
                   CAST(SUM(c1) AS BIGINT) AS n1,
                   CAST(SUM(c2) AS BIGINT) AS n2,
                   CAST(SUM(c1 * avgrank_x2) AS BIGINT) AS r1_x2
            FROM ranked GROUP BY o_orderpriority)
        SELECT o_orderpriority, n1, n2,
               CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
               CASE WHEN n1 * n2 = 0 THEN NULL ELSE
                    CAST(CAST(r1_x2 - n1 * (n1 + 1) AS HUGEINT)
                         * 1000000 // (n1 * n2) - 1000000 AS BIGINT) END
                   AS rank_biserial_ppm
        FROM agg
        ORDER BY o_orderpriority
    """,
    "q_anova_fstat": """
        WITH groups AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_g,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                        AS HUGEINT) AS s_g,
                   SUM(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                            AS HUGEINT)
                       * CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS q_g
            FROM orders GROUP BY o_orderpriority),
        red AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
                   CAST(SUM(n_g) AS BIGINT) AS n_rows,
                   SUM(s_g * s_g // n_g) AS a,
                   SUM(s_g) AS s,
                   SUM(q_g) AS q
            FROM groups)
        SELECT k_groups, n_rows,
               CAST(a - s * s // n_rows AS VARCHAR) AS ssb_cents2,
               CAST(q - a AS VARCHAR) AS ssw_cents2,
               CAST((a - s * s // n_rows) * (n_rows - k_groups) * 1000000
                    // ((q - a) * (k_groups - 1)) AS BIGINT) AS f_ppm
        FROM red
    """,
}


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V of the (priority x status) contingency table — the
    normalized effect size its chi-square sibling
    (``stats.q_chi_square_independence``) leaves implicit. One exact
    summary row: V^2 = chi2 / (N * min(r-1, c-1)) with chi2 carried in
    micros on the per-cell integer cross-product contract, then
    v_milli = isqrt(V^2 * 1e6) — the division lands the isqrt input
    under 1e6, inside the adjusted integer sqrt's bigint guarantee at
    any scale. One cell aggregate + two margin aggregates, all
    matrix-sized after the first map-side-combined pass."""
    from .corpus5 import _isqrt

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
    tot = cells.agg(
        F.sum("obs").cast("bigint").alias("n"),
        F.count_distinct("o_orderpriority").cast("bigint").alias("nr"),
        F.count_distinct("o_orderstatus").cast("bigint").alias("nc"),
    )
    chi2 = (
        cells.join(F.broadcast(rows_m), "o_orderpriority")
        .join(F.broadcast(cols_m), "o_orderstatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "nr",
            "nc",
            "n",
            F.expr(
                "CAST(CAST((obs * n - r * c) AS DECIMAL(38,0))"
                " * (obs * n - r * c) * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
            ).alias("contrib"),
        )
        .groupBy("nr", "nc", "n")
        .agg(F.sum("contrib").cast("bigint").alias("chi2_micro"))
    )
    return chi2.select(
        "n",
        F.col("nr").alias("n_rows_dim"),
        F.col("nc").alias("n_cols_dim"),
        "chi2_micro",
        _isqrt(
            F.expr("chi2_micro div (n * least(nr - 1, nc - 1))").cast(
                "bigint"
            )
        ).alias("v_milli"),
    )


QUERIES["q_cramers_v"] = q_cramers_v

ORACLES["q_cramers_v"] = """
    WITH cells AS (
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2),
    rm AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS r
           FROM cells GROUP BY 1),
    cm AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS c
           FROM cells GROUP BY 1),
    t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nr,
                 CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nc
          FROM cells),
    chi AS (
        SELECT t.nr, t.nc, t.n,
               CAST(SUM(CAST((x.obs * t.n - rm.r * cm.c) AS HUGEINT)
                        * (x.obs * t.n - rm.r * cm.c) * 1000000
                        // (CAST(t.n AS HUGEINT) * rm.r * cm.c))
                    AS BIGINT) AS chi2_micro
        FROM cells x
        JOIN rm ON rm.o_orderpriority = x.o_orderpriority
        JOIN cm ON cm.o_orderstatus = x.o_orderstatus, t
        GROUP BY t.nr, t.nc, t.n),
    q AS (
        SELECT *, chi2_micro // (n * LEAST(nr - 1, nc - 1)) AS m2
        FROM chi),
    sq AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(m2 AS DOUBLE))) AS BIGINT) AS s
        FROM q)
    SELECT n, nr AS n_rows_dim, nc AS n_cols_dim, chi2_micro,
           CAST(CASE WHEN (s + 1) * (s + 1) <= m2 THEN s + 1
                     WHEN s * s > m2 THEN s - 1
                     ELSE s END AS BIGINT) AS v_milli
    FROM sq
"""
