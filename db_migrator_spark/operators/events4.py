"""Lifecycle analytics and exact allocation (round 8c).

The reference has no events surface (scope:
/root/reference/src/migrate/table_migrator.rs:43-114); these extend
the events family (funnel, retention, stickiness, rolling actives,
cohort LTV) with the product-analytics daily lifecycle ledger, and
the relational tier with the classic exact-rounding allocator:

- ``events_user_lifecycle_states``: every (user, active-day) labeled
  by the standard lifecycle state machine — ``new`` (first active day
  ever), ``retained`` (active the previous day), ``returning`` (gap
  2..RESURRECT_GAP_DAYS), ``resurrected`` (gap > RESURRECT_GAP_DAYS)
  — then rolled up to per-day state counts with DAU. Pure integer
  date arithmetic over one (user) ordered window; the states partition
  DAU exactly (property-tested).
- ``q_largest_remainder_allocation``: ALLOCATION_BUDGET units split
  across nations proportionally to revenue by the largest-remainder
  (Hamilton) method — floor shares first, then one unit to each of
  the largest remainders, ties broken by nation name for determinism.
  Everything integral: remainders compare as exact cross-products
  (rev * budget mod total), the final shares sum to the budget
  EXACTLY (property-tested) — the rounding-drift-free way to fan a
  fixed budget out over proportions.

Scale notes (100 TB): lifecycle is one distinct-(user, day) shuffle,
one per-user ordered window (lag), one map-side-combined day rollup —
the user partition is the parallel unit, no global window. The
allocator is two aggregates and a nations-sized rank window; the
"one unit each to the top-r remainders" step is rank <= r on the
matrix-sized relation — no iteration, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..io import load_table

# Gap (days) past which a returning user counts as resurrected, not
# merely returning. 7 = the common weekly-habit boundary.
RESURRECT_GAP_DAYS = 7

# Units to allocate in the largest-remainder demo (a budget in whole
# units — seats, dollars, shards).
ALLOCATION_BUDGET = 1000


def events_user_lifecycle_states(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day lifecycle ledger: dau + new/retained/returning/
    resurrected counts (module doc). States partition DAU exactly."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
    ).distinct()
    wprev = W.partitionBy("user_id").orderBy("day")
    gapped = days.select(
        "user_id",
        "day",
        F.datediff(F.col("day"), F.lag("day").over(wprev)).alias("gap"),
    )
    state = (
        F.when(F.col("gap").isNull(), F.lit("new"))
        .when(F.col("gap") == 1, F.lit("retained"))
        .when(F.col("gap") <= RESURRECT_GAP_DAYS, F.lit("returning"))
        .otherwise(F.lit("resurrected"))
    )
    return (
        gapped.select("day", state.alias("state"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dau"),
            F.sum((F.col("state") == "new").cast("int"))
            .cast("bigint")
            .alias("n_new"),
            F.sum((F.col("state") == "retained").cast("int"))
            .cast("bigint")
            .alias("n_retained"),
            F.sum((F.col("state") == "returning").cast("int"))
            .cast("bigint")
            .alias("n_returning"),
            F.sum((F.col("state") == "resurrected").cast("int"))
            .cast("bigint")
            .alias("n_resurrected"),
        )
        .orderBy("day")
    )


def q_largest_remainder_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hamilton largest-remainder split of ALLOCATION_BUDGET across
    nations by customer account balance mass (module doc). Output:
    nation, revenue cents, floor share, +1 remainder flag, final
    share; shares sum to the budget exactly."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    # Mass must be non-negative for the method: shift acctbal cents by
    # its global minimum (rank-preserving, documented).
    cents = F.floor(F.col("c_acctbal") * 100).cast("bigint")
    per_cust = cust.select(
        F.col("c_nationkey").alias("n_nationkey"), cents.alias("v")
    )
    gmin = per_cust.agg(F.min("v").alias("gmin"))
    mass = (
        per_cust.crossJoin(F.broadcast(gmin))
        .select(
            "n_nationkey", (F.col("v") - F.col("gmin")).alias("m")
        )
        .groupBy("n_nationkey")
        .agg(F.sum("m").cast("bigint").alias("mass"))
    )
    tot = mass.agg(F.sum("mass").cast("bigint").alias("total"))
    scored = (
        mass.join(F.broadcast(nat), "n_nationkey")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            "mass",
            F.expr(
                f"CAST(CAST(mass AS DECIMAL(38,0)) * {ALLOCATION_BUDGET}"
                " div total AS BIGINT)"
            ).alias("floor_share"),
            F.expr(
                f"CAST(CAST(mass AS DECIMAL(38,0)) * {ALLOCATION_BUDGET}"
                " % total AS BIGINT)"
            ).alias("remainder"),
        )
    )
    leftover = scored.agg(
        (
            F.lit(ALLOCATION_BUDGET) - F.sum("floor_share")
        ).cast("bigint").alias("r")
    )
    wrem = W.orderBy(F.desc("remainder"), "n_name")
    return (
        scored.crossJoin(F.broadcast(leftover))
        .select(
            "n_name",
            "mass",
            "floor_share",
            (F.row_number().over(wrem) <= F.col("r")).alias("gets_extra"),
        )
        .select(
            "n_name",
            "mass",
            "floor_share",
            "gets_extra",
            (
                F.col("floor_share") + F.col("gets_extra").cast("bigint")
            ).alias("final_share"),
        )
        .orderBy("n_name")
    )


QUERIES = {
    "events_user_lifecycle_states": events_user_lifecycle_states,
    "q_largest_remainder_allocation": q_largest_remainder_allocation,
}

ORACLES = {
    "events_user_lifecycle_states": f"""
        WITH days AS (
            SELECT DISTINCT user_id,
                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
            FROM events),
        gapped AS (
            SELECT day,
                   day - LAG(day) OVER (PARTITION BY user_id
                                        ORDER BY day) AS gap
            FROM days),
        labeled AS (
            SELECT day,
                   CASE WHEN gap IS NULL THEN 'new'
                        WHEN gap = 1 THEN 'retained'
                        WHEN gap <= {RESURRECT_GAP_DAYS} THEN 'returning'
                        ELSE 'resurrected' END AS state
            FROM gapped)
        SELECT day,
               CAST(COUNT(*) AS BIGINT) AS dau,
               CAST(COUNT(*) FILTER (state = 'new') AS BIGINT) AS n_new,
               CAST(COUNT(*) FILTER (state = 'retained') AS BIGINT)
                   AS n_retained,
               CAST(COUNT(*) FILTER (state = 'returning') AS BIGINT)
                   AS n_returning,
               CAST(COUNT(*) FILTER (state = 'resurrected') AS BIGINT)
                   AS n_resurrected
        FROM labeled
        GROUP BY day
        ORDER BY day
    """,
    "q_largest_remainder_allocation": f"""
        WITH per_cust AS (
            SELECT c_nationkey,
                   CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS v
            FROM customer),
        gmin AS (SELECT MIN(v) AS gm FROM per_cust),
        mass AS (
            SELECT c_nationkey,
                   CAST(SUM(v - gm) AS BIGINT) AS mass
            FROM per_cust, gmin GROUP BY c_nationkey),
        tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM mass),
        scored AS (
            SELECT n.n_name, m.mass,
                   CAST(CAST(m.mass AS HUGEINT) * {ALLOCATION_BUDGET}
                        // t.total AS BIGINT) AS floor_share,
                   CAST(CAST(m.mass AS HUGEINT) * {ALLOCATION_BUDGET}
                        % t.total AS BIGINT) AS remainder
            FROM mass m JOIN nation n ON n.n_nationkey = m.c_nationkey, tot t),
        leftover AS (
            SELECT {ALLOCATION_BUDGET} - SUM(floor_share) AS r
            FROM scored),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, n_name)
                       AS rn
            FROM scored)
        SELECT n_name, mass, floor_share,
               rn <= (SELECT r FROM leftover) AS gets_extra,
               CAST(floor_share
                    + CASE WHEN rn <= (SELECT r FROM leftover)
                           THEN 1 ELSE 0 END AS BIGINT) AS final_share
        FROM ranked
        ORDER BY n_name
    """,
}


# Seasonal-naive backtest: forecast(day d) = actual(day d - 7) — THE
# baseline every forecasting system must beat. Exact integers: daily
# totals in micros, absolute errors summed exactly, MAE via the
# truncating-div contract.
FORECAST_SEASON_DAYS = 7


def events_naive_forecast_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day seasonal-naive backtest of daily event value totals:
    actual, the 7-day-lag forecast, signed error and absolute error in
    micros, plus a trailing row (day = NULL is avoided: the summary
    surfaces per-day; the MAE lives in mae_to_date_micro, the running
    mean absolute error over scored days — the backtest curve)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.to_date(F.col("ts").cast("timestamp")).alias("day"),
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias(
                "vm"
            ),
        )
        .groupBy("day")
        .agg(F.sum("vm").cast("bigint").alias("actual_micro"))
    )
    w = W.orderBy("day")
    scored = daily.select(
        "day",
        "actual_micro",
        F.lag("actual_micro", FORECAST_SEASON_DAYS).over(w).alias(
            "forecast_micro"
        ),
    ).withColumn(
        "abs_err_micro",
        F.abs(F.col("actual_micro") - F.col("forecast_micro")),
    )
    wrun = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return scored.select(
        "day",
        "actual_micro",
        "forecast_micro",
        (F.col("actual_micro") - F.col("forecast_micro")).alias(
            "err_micro"
        ),
        "abs_err_micro",
        F.when(
            F.count("abs_err_micro").over(wrun) > 0,
            F.expr(
                "CAST(CASE WHEN SUM(abs_err_micro) OVER ("
                "ORDER BY day ROWS UNBOUNDED PRECEDING) IS NULL THEN NULL"
                " ELSE SUM(abs_err_micro) OVER ("
                "ORDER BY day ROWS UNBOUNDED PRECEDING)"
                " div COUNT(abs_err_micro) OVER ("
                "ORDER BY day ROWS UNBOUNDED PRECEDING) END AS BIGINT)"
            ),
        ).alias("mae_to_date_micro"),
    ).orderBy("day")


QUERIES["events_naive_forecast_backtest"] = events_naive_forecast_backtest

ORACLES["events_naive_forecast_backtest"] = f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS actual_micro
        FROM events GROUP BY 1),
    scored AS (
        SELECT day, actual_micro,
               LAG(actual_micro, {FORECAST_SEASON_DAYS})
                   OVER (ORDER BY day) AS forecast_micro
        FROM daily),
    err AS (
        SELECT *, ABS(actual_micro - forecast_micro) AS abs_err_micro
        FROM scored)
    SELECT day, actual_micro, forecast_micro,
           actual_micro - forecast_micro AS err_micro,
           abs_err_micro,
           CASE WHEN SUM(abs_err_micro) OVER w IS NULL THEN NULL
                ELSE CAST(SUM(abs_err_micro) OVER w
                          // COUNT(abs_err_micro) OVER w AS BIGINT) END
               AS mae_to_date_micro
    FROM err
    WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)
    ORDER BY day
"""


def events_ab_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test readout for the A/B experiment
    (``events3.events_ab_assignment``'s arms): is the outcome-rate
    difference real? The outcome is SCALE-INVARIANT by design — a
    user "converts" when their purchase events outnumber their error
    events (a per-user ratio comparison, so the conversion rate stays
    non-degenerate at any fixture scale, unlike has-any-purchase,
    which saturates at 100%). The z statistic hides a square root,
    so the surface carries the SIGNED SQUARED statistic exactly:

        z^2 = (p1 - p2)^2 / (p (1 - p) (1/n1 + 1/n2))

    with p the pooled conversion — every term a ratio of integers, so
    z^2 reduces to one DECIMAL(38,0) cross-multiplication:

        z2_milli = sign(x1 n2 - x2 n1) *
            (x1 n2 - x2 n1)^2 * N * 1000
            div (n1 n2 (x1 + x2) (N - x1 - x2))

    (N = n1 + n2; derivation: substitute p = (x1+x2)/N and clear
    denominators). |z| >= 1.96 <=> z2 >= 3.84 (3840 milli) at 95% —
    readable directly off the output. Degenerate pools (all or none
    converting) surface NULL.

    One user-level aggregate (map-side combinable), a 2-row arm
    rollup, then scalar arithmetic — the same shape as the SRM audit
    it completes.
    """
    from .events3 import AB_ARM_UPPER, AB_SALT

    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(AB_SALT), F.col("user_id").cast("string")
                ).cast("binary")
            ),
            1,
            2,
        )
        < AB_ARM_UPPER,
        "A",
    ).otherwise("B")
    per_user = (
        ev.select("user_id", arm.alias("arm"), "event_type")
        .groupBy("user_id", "arm")
        .agg(
            (
                F.sum((F.col("event_type") == "purchase").cast("int"))
                > F.sum((F.col("event_type") == "error").cast("int"))
            )
            .cast("int")
            .alias("converted")
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("x"),
    )
    wide = arms.groupBy().agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "A", F.col("x"))).alias("x1"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == "B", F.col("x"))).alias("x2"),
    )
    return wide.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.expr("x1 * 1000000 div n1").cast("bigint").alias("p1_ppm"),
        F.expr("x2 * 1000000 div n2").cast("bigint").alias("p2_ppm"),
        F.expr(
            "CASE WHEN x1 + x2 = 0 OR x1 + x2 = n1 + n2 THEN NULL ELSE"
            " (CASE WHEN x1 * n2 - x2 * n1 < 0 THEN -1 ELSE 1 END)"
            " * (CAST(x1 * n2 - x2 * n1 AS DECIMAL(38,0))"
            "    * (x1 * n2 - x2 * n1) * (n1 + n2) * 1000"
            "    div (CAST(n1 AS DECIMAL(38,0)) * n2 * (x1 + x2)"
            "         * (n1 + n2 - x1 - x2))) END"
        )
        .cast("bigint")
        .alias("z2_signed_milli"),
    )


QUERIES["events_ab_significance"] = events_ab_significance

ORACLES["events_ab_significance"] = """
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN substr(md5('ab-v1' || CAST(user_id AS VARCHAR)),
                                1, 2) < '80'
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END)
                    > SUM(CASE WHEN event_type = 'error' THEN 1
                               ELSE 0 END) AS BIGINT) AS converted
        FROM events GROUP BY user_id),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS x
        FROM per_user GROUP BY arm),
    wide AS (
        SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n1,
               MAX(CASE WHEN arm = 'A' THEN x END) AS x1,
               MAX(CASE WHEN arm = 'B' THEN n END) AS n2,
               MAX(CASE WHEN arm = 'B' THEN x END) AS x2
        FROM arms)
    SELECT n1, x1, n2, x2,
           x1 * 1000000 // n1 AS p1_ppm,
           x2 * 1000000 // n2 AS p2_ppm,
           -- Sign applied OUTSIDE the ``//`` (matching the Spark div
           -- form): the squared numerator is positive, and
           -- positive-operand ``//`` is identical in every DuckDB
           -- version, whereas a sign-negated numerator inside ``//``
           -- floors on some versions and truncates on others
           -- (r14 floordiv_probe).
           CASE WHEN x1 + x2 = 0 OR x1 + x2 = n1 + n2 THEN NULL ELSE
                CAST((CASE WHEN x1 * n2 - x2 * n1 < 0 THEN -1 ELSE 1 END)
                     * ((CAST(x1 * n2 - x2 * n1 AS HUGEINT)
                         * (x1 * n2 - x2 * n1) * (n1 + n2) * 1000)
                        // (CAST(n1 AS HUGEINT) * n2 * (x1 + x2)
                            * (n1 + n2 - x1 - x2))) AS BIGINT) END
               AS z2_signed_milli
    FROM wide
"""


def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users since launch, per day — the growth
    curve nobody can compute with a window COUNT(DISTINCT) (unsupported
    over running frames). The scalable identity: a user enters the
    curve exactly once, on their FIRST active day — so cumulative
    distinct = running sum of first-day counts. One per-user min
    aggregate (map-side combinable), one day rollup joined to the DAU
    rollup, one matrix-sized running window. Also surfaces the
    new-vs-returning DAU split ppm.
    """
    ev = load_table(spark, sf_dir, "events")
    pres = ev.select(
        "user_id",
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
    ).distinct()
    dau = pres.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    firsts = (
        pres.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_first"))
    )
    from pyspark.sql.window import Window as W

    wrun = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        dau.join(firsts, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("n_first", F.lit(0)).cast("bigint").alias(
                "n_new_users"
            ),
        )
        .select(
            "day",
            "dau",
            "n_new_users",
            F.sum("n_new_users").over(wrun).cast("bigint").alias(
                "cumulative_users"
            ),
            F.expr("n_new_users * 1000000 div dau").alias(
                "new_share_ppm"
            ),
        )
        .orderBy("day")
    )


QUERIES["events_cumulative_users"] = events_cumulative_users

ORACLES["events_cumulative_users"] = """
    WITH pres AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
        FROM pres GROUP BY day),
    firsts AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_first
        FROM (SELECT user_id, MIN(day) AS day FROM pres GROUP BY user_id)
        GROUP BY day)
    SELECT d.day, d.dau,
           COALESCE(f.n_first, 0) AS n_new_users,
           CAST(SUM(COALESCE(f.n_first, 0)) OVER (ORDER BY d.day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users,
           COALESCE(f.n_first, 0) * 1000000 // d.dau AS new_share_ppm
    FROM dau d LEFT JOIN firsts f ON f.day = d.day
    ORDER BY d.day
"""


# Growth-accounting periods: first vs second half of the orders
# fixture's date range (literal pivot, the DRIFT_PIVOT convention).
GROWTH_PIVOT = "1995-06-01"


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue growth accounting between the pre- and post-pivot
    periods: every customer classified as new (0 -> x), churned
    (x -> 0), expansion (up) or contraction (down), with each
    bucket's cent mass — and the books must balance:
    rev_post - rev_pre == new + expansion - contraction - churned
    (property-tested; every term exact cents). One per-customer
    two-period aggregate (map-side combinable), then a buckets-sized
    rollup — the SaaS growth ledger at any scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    pre = F.col("o_orderdate") < F.lit(GROWTH_PIVOT).cast("timestamp")
    cents = F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(pre, cents).otherwise(0)).cast("bigint").alias("r1"),
        F.sum(F.when(~pre, cents).otherwise(0)).cast("bigint").alias("r2"),
    )
    bucket = (
        F.when((F.col("r1") == 0) & (F.col("r2") > 0), "new")
        .when((F.col("r1") > 0) & (F.col("r2") == 0), "churned")
        .when(F.col("r2") > F.col("r1"), "expansion")
        .when(F.col("r2") < F.col("r1"), "contraction")
        .otherwise("flat")
    )
    delta = F.when(
        bucket == "contraction", F.col("r1") - F.col("r2")
    ).otherwise(F.abs(F.col("r2") - F.col("r1")))
    return (
        per_cust.select(
            bucket.alias("bucket"),
            "r1",
            "r2",
            delta.alias("delta_cents"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("r1").cast("bigint").alias("rev_pre_cents"),
            F.sum("r2").cast("bigint").alias("rev_post_cents"),
            F.sum("delta_cents").cast("bigint").alias("delta_cents"),
        )
        .orderBy("bucket")
    )


QUERIES["q_growth_accounting"] = q_growth_accounting

ORACLES["q_growth_accounting"] = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{GROWTH_PIVOT}'
                        THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{GROWTH_PIVOT}'
                        THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS r2
        FROM orders GROUP BY o_custkey),
    labeled AS (
        SELECT *,
               CASE WHEN r1 = 0 AND r2 > 0 THEN 'new'
                    WHEN r1 > 0 AND r2 = 0 THEN 'churned'
                    WHEN r2 > r1 THEN 'expansion'
                    WHEN r2 < r1 THEN 'contraction'
                    ELSE 'flat' END AS bucket
        FROM per_cust)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(r1) AS BIGINT) AS rev_pre_cents,
           CAST(SUM(r2) AS BIGINT) AS rev_post_cents,
           CAST(SUM(CASE WHEN bucket = 'contraction' THEN r1 - r2
                         ELSE ABS(r2 - r1) END) AS BIGINT) AS delta_cents
    FROM labeled
    GROUP BY bucket
    ORDER BY bucket
"""


# DiD pivot: mid-fixture (events span 2024-01).
DID_PIVOT = "2024-01-16"


def events_did_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout over the A/B arms and the
    mid-month pivot: the 2x2 of per-(arm, period) mean event value in
    micros (each cell a truncating-div mean — documented cell
    truncation), the within-arm post-pre deltas, and the DiD estimate
    (treatment delta minus control delta) — the causal-analytics
    counterpart of the A/B z-test. One map-side 4-cell aggregate;
    everything after is constant-size.
    """
    from .events3 import AB_ARM_UPPER, AB_SALT

    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(AB_SALT), F.col("user_id").cast("string")
                ).cast("binary")
            ),
            1,
            2,
        )
        < AB_ARM_UPPER,
        "A",
    ).otherwise("B")
    post = F.col("ts").cast("timestamp") >= F.lit(DID_PIVOT).cast(
        "timestamp"
    )
    cells = (
        ev.select(
            arm.alias("arm"),
            post.alias("post"),
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias(
                "vm"
            ),
        )
        .groupBy("arm", "post")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("vm").cast("decimal(38,0)")).alias("s"),
        )
        .select(
            "arm",
            "post",
            "n",
            F.expr(
                "CAST(CASE WHEN s >= 0 THEN s div n"
                " ELSE -((-s) div n) END AS BIGINT)"
            ).alias("mean_micro"),
        )
    )
    wide = cells.groupBy().agg(
        *[
            F.max(
                F.when(
                    (F.col("arm") == a) & (F.col("post") == p),
                    F.col(c),
                )
            ).alias(f"{c}_{a.lower()}_{'post' if p else 'pre'}")
            for a in ("A", "B")
            for p in (False, True)
            for c in ("n", "mean_micro")
        ]
    )
    return wide.select(
        "*",
        (
            F.col("mean_micro_a_post") - F.col("mean_micro_a_pre")
        ).alias("delta_a_micro"),
        (
            F.col("mean_micro_b_post") - F.col("mean_micro_b_pre")
        ).alias("delta_b_micro"),
        (
            (F.col("mean_micro_a_post") - F.col("mean_micro_a_pre"))
            - (F.col("mean_micro_b_post") - F.col("mean_micro_b_pre"))
        ).alias("did_micro"),
    )


QUERIES["events_did_analysis"] = events_did_analysis

ORACLES["events_did_analysis"] = f"""
    WITH cells AS (
        SELECT CASE WHEN substr(md5('ab-v1' || CAST(user_id AS VARCHAR)),
                               1, 2) < '80' THEN 'A' ELSE 'B' END AS arm,
               CAST(ts AS TIMESTAMP) >= TIMESTAMP '{DID_PIVOT}' AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CASE WHEN SUM(CAST(FLOOR(value * 1000000) AS HUGEINT)) >= 0
                    THEN SUM(CAST(FLOOR(value * 1000000) AS HUGEINT))
                         // COUNT(*)
                    ELSE -((-SUM(CAST(FLOOR(value * 1000000) AS HUGEINT)))
                           // COUNT(*)) END AS mean_micro
        FROM events GROUP BY 1, 2),
    wide AS (
        SELECT
            MAX(CASE WHEN arm='A' AND NOT post THEN n END) AS n_a_pre,
            MAX(CASE WHEN arm='A' AND NOT post THEN mean_micro END)
                AS mean_micro_a_pre,
            MAX(CASE WHEN arm='A' AND post THEN n END) AS n_a_post,
            MAX(CASE WHEN arm='A' AND post THEN mean_micro END)
                AS mean_micro_a_post,
            MAX(CASE WHEN arm='B' AND NOT post THEN n END) AS n_b_pre,
            MAX(CASE WHEN arm='B' AND NOT post THEN mean_micro END)
                AS mean_micro_b_pre,
            MAX(CASE WHEN arm='B' AND post THEN n END) AS n_b_post,
            MAX(CASE WHEN arm='B' AND post THEN mean_micro END)
                AS mean_micro_b_post
        FROM cells)
    SELECT CAST(n_a_pre AS BIGINT) AS n_a_pre,
           CAST(mean_micro_a_pre AS BIGINT) AS mean_micro_a_pre,
           CAST(n_a_post AS BIGINT) AS n_a_post,
           CAST(mean_micro_a_post AS BIGINT) AS mean_micro_a_post,
           CAST(n_b_pre AS BIGINT) AS n_b_pre,
           CAST(mean_micro_b_pre AS BIGINT) AS mean_micro_b_pre,
           CAST(n_b_post AS BIGINT) AS n_b_post,
           CAST(mean_micro_b_post AS BIGINT) AS mean_micro_b_post,
           CAST(mean_micro_a_post - mean_micro_a_pre AS BIGINT)
               AS delta_a_micro,
           CAST(mean_micro_b_post - mean_micro_b_pre AS BIGINT)
               AS delta_b_micro,
           CAST((mean_micro_a_post - mean_micro_a_pre)
                - (mean_micro_b_post - mean_micro_b_pre) AS BIGINT)
               AS did_micro
    FROM wide
"""


def q_rfm_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer VALUE-QUINTILE migration between the growth-accounting
    periods: each active-in-both customer gets a revenue quintile per
    period (NTILE-over-(period revenue cents, custkey) semantics), and
    the matrix counts (q_pre, q_post) transitions with the share of the
    pre-quintile row in exact ppm — the CRM "segment migration"
    artifact, the per-customer sibling of the Markov event-transition
    matrix.

    Scale note: the quintile input is the per-customer aggregate —
    DATA-SIZED under TPC-H scaling (customers = 150k x SF), NOT
    dimension-bounded — so a bare ``ntile().over(Window.orderBy(...))``
    would funnel it through one task (the round-9 verdict's weak
    finding). Quintiles are instead assigned with the distributed
    exact-rank pattern (``distributed_rank``: approxQuantile bins +
    bin-partitioned row_number + exact per-bin offsets + closed-form
    NTILE arithmetic, the shape proven in q_ntile_buckets) — both rank
    orderings share ONE stacked pass (``with_global_ranks``: one
    quantile action, one keyed rank), every stage is parallel, and
    no single-partition window exists anywhere in the plan. The
    quantile pass recomputes the orders aggregate once; at scale that
    second parallel pass beats persisting a customer-sized
    intermediate.
    """
    from .distributed_rank import ntile_expr, with_global_ranks

    orders = load_table(spark, sf_dir, "orders")
    pre = F.col("o_orderdate") < F.lit(GROWTH_PIVOT).cast("timestamp")
    cents = F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.when(pre, cents).otherwise(0))
            .cast("bigint")
            .alias("r1"),
            F.sum(F.when(~pre, cents).otherwise(0))
            .cast("bigint")
            .alias("r2"),
        )
        .filter((F.col("r1") > 0) & (F.col("r2") > 0))
        # NOT checkpointed: the r11 entity-grain checkpoint A/B measured
        # 2.11 -> 2.4s here — the single cheap orders groupBy recomputes
        # faster than the materialization pays back (unlike the five
        # sites where it won; BENCH_NOTES round-11).
    )
    # Both orderings rank the same customer relation: one stacked pass.
    ranked = with_global_ranks(
        per_cust,
        [
            ("r1", False, "__rn_pre", "__n_pre"),
            ("r2", False, "__rn_post", "__n_post"),
        ],
        ["o_custkey"],
        partition_by=[],
    )
    scored = ranked.select(
        "o_custkey",
        ntile_expr("__rn_pre", "__n_pre", 5).alias("q_pre"),
        ntile_expr("__rn_post", "__n_post", 5).alias("q_post"),
    )
    cells = scored.groupBy("q_pre", "q_post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    row_tot = cells.groupBy("q_pre").agg(
        F.sum("n").cast("bigint").alias("n_row")
    )
    return (
        cells.join(F.broadcast(row_tot), "q_pre")
        .select(
            "q_pre",
            "q_post",
            "n",
            F.expr("n * 1000000 div n_row").alias("row_share_ppm"),
        )
        .orderBy("q_pre", "q_post")
    )


QUERIES["q_rfm_migration_matrix"] = q_rfm_migration_matrix

ORACLES["q_rfm_migration_matrix"] = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{GROWTH_PIVOT}'
                        THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS r1,
               CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{GROWTH_PIVOT}'
                        THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS r2
        FROM orders GROUP BY o_custkey
        HAVING r1 > 0 AND r2 > 0),
    scored AS (
        SELECT o_custkey,
               NTILE(5) OVER (ORDER BY r1, o_custkey) AS q_pre,
               NTILE(5) OVER (ORDER BY r2, o_custkey) AS q_post
        FROM per_cust),
    cells AS (
        SELECT q_pre, q_post, CAST(COUNT(*) AS BIGINT) AS n
        FROM scored GROUP BY 1, 2),
    rt AS (
        SELECT q_pre, CAST(SUM(n) AS BIGINT) AS n_row
        FROM cells GROUP BY q_pre)
    SELECT c.q_pre, c.q_post, c.n,
           c.n * 1000000 // rt.n_row AS row_share_ppm
    FROM cells c JOIN rt ON rt.q_pre = c.q_pre
    ORDER BY c.q_pre, c.q_post
"""


def events_streak_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity STREAKS (the habit metric): longest run of
    consecutive active days, number of distinct streaks, and total
    active days — the gaps-and-islands identity (day - dense row
    number is constant within a run) on exact date arithmetic. One
    distinct-(user, day) shuffle, one per-user rank window, one
    two-level rollup; the user partition is the parallel unit.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
    ).distinct()
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("grp"),
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").cast("bigint").alias("n_active_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
            F.max("len").cast("bigint").alias("longest_streak"),
        )
        .orderBy("user_id")
    )


QUERIES["events_streak_analysis"] = events_streak_analysis

ORACLES["events_streak_analysis"] = """
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
    islands AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER)
                   AS grp
        FROM days),
    streaks AS (
        SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        FROM islands GROUP BY user_id, grp)
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
"""


def events_seasonal_decompose(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive seasonal decomposition of daily event value totals —
    trend (centered 7-day moving average, exact truncating div over
    FULL windows only), seasonality (per-weekday mean of the
    detrended series), residual (value - trend - seasonal) — every
    component integral micros, the classical STL-lite a monitoring
    stack runs before alerting on the residual. Two matrix-sized
    windows + one 7-row weekday aggregate over the daily rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.to_date(F.col("ts").cast("timestamp")).alias("day"),
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias(
                "vm"
            ),
        )
        .groupBy("day")
        .agg(F.sum("vm").cast("bigint").alias("x"))
    )
    from pyspark.sql.window import Window as W

    w7 = W.orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "day",
        "x",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.expr(
                "CAST(CASE WHEN SUM(x) OVER (ORDER BY day"
                " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) >= 0"
                " THEN SUM(x) OVER (ORDER BY day"
                " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) div 7"
                " ELSE -((-SUM(x) OVER (ORDER BY day"
                " ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) div 7)"
                " END AS BIGINT)"
            ),
        ).alias("trend"),
    )
    detr = trended.select(
        "day",
        "x",
        "trend",
        F.dayofweek("day").cast("int").alias("dow"),
        (F.col("x") - F.col("trend")).alias("d"),
    )
    seas = (
        detr.filter(F.col("d").isNotNull())
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("d").cast("decimal(38,0)")).alias("s"),
        )
        .select(
            "dow",
            F.expr(
                "CAST(CASE WHEN s >= 0 THEN s div n"
                " ELSE -((-s) div n) END AS BIGINT)"
            ).alias("seasonal"),
        )
    )
    return (
        detr.join(F.broadcast(seas), "dow", "left")
        .select(
            "day",
            "x",
            "trend",
            "seasonal",
            (
                F.col("x") - F.col("trend") - F.col("seasonal")
            ).alias("residual"),
        )
        .orderBy("day")
    )


QUERIES["events_seasonal_decompose"] = events_seasonal_decompose

ORACLES["events_seasonal_decompose"] = """
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS x
        FROM events GROUP BY 1),
    trended AS (
        SELECT day, x,
               CASE WHEN COUNT(*) OVER w = 7 THEN
                    CAST(CASE WHEN SUM(x) OVER w >= 0
                         THEN SUM(x) OVER w // 7
                         ELSE -((-SUM(x) OVER w) // 7) END AS BIGINT)
               END AS trend
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    detr AS (
        SELECT *, CAST(dayofweek(day) + 1 AS INTEGER) AS dow,
               x - trend AS d
        FROM trended),
    seas AS (
        SELECT dow,
               CAST(CASE WHEN SUM(CAST(d AS HUGEINT)) >= 0
                    THEN SUM(CAST(d AS HUGEINT)) // COUNT(*)
                    ELSE -((-SUM(CAST(d AS HUGEINT))) // COUNT(*)) END
                    AS BIGINT) AS seasonal
        FROM detr WHERE d IS NOT NULL GROUP BY dow)
    SELECT t.day, t.x, t.trend, s.seasonal,
           t.x - t.trend - s.seasonal AS residual
    FROM detr t LEFT JOIN seas s ON s.dow = t.dow
    ORDER BY t.day
"""


# SLO for the error-budget ledger: at most SLO_ERROR_PPM of events may
# be errors over the period.
SLO_ERROR_PPM = 200_000


def events_error_budget_burn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SRE error-budget ledger: per day the event/error counts, the
    day's error rate (exact ppm), the budget consumed so far
    (cumulative errors minus the SLO allowance over cumulative
    events, in EVENTS — positive means burning ahead of allowance),
    and the burn flag. The budget identity is pure integers:
    allowance_k = cum_events_k * SLO_PPM div 1e6. One day rollup, one
    matrix-sized running window.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.to_date(F.col("ts").cast("timestamp")).alias("day"),
            (F.col("event_type") == "error").cast("int").alias("is_err"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_err").cast("bigint").alias("n_errors"),
        )
    )
    from pyspark.sql.window import Window as W

    wrun = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        daily.select(
            "day",
            "n_events",
            "n_errors",
            F.expr("n_errors * 1000000 div n_events").alias(
                "day_error_ppm"
            ),
            F.sum("n_events").over(wrun).alias("cum_events"),
            F.sum("n_errors").over(wrun).alias("cum_errors"),
        )
        .select(
            "day",
            "n_events",
            "n_errors",
            "day_error_ppm",
            F.expr(
                f"CAST(cum_errors - cum_events * {SLO_ERROR_PPM}"
                " div 1000000 AS BIGINT)"
            ).alias("budget_overrun_events"),
        )
        .select(
            "*",
            (F.col("budget_overrun_events") > 0).alias("burning"),
        )
        .orderBy("day")
    )


QUERIES["events_error_budget_burn"] = events_error_budget_burn

ORACLES["events_error_budget_burn"] = f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT)
                   AS n_errors
        FROM events GROUP BY 1),
    run AS (
        SELECT day, n_events, n_errors,
               n_errors * 1000000 // n_events AS day_error_ppm,
               SUM(n_events) OVER w AS cum_events,
               SUM(n_errors) OVER w AS cum_errors
        FROM daily
        WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
    SELECT day, n_events, n_errors, day_error_ppm,
           CAST(cum_errors - cum_events * {SLO_ERROR_PPM} // 1000000
                AS BIGINT) AS budget_overrun_events,
           cum_errors - cum_events * {SLO_ERROR_PPM} // 1000000 > 0
               AS burning
    FROM run
    ORDER BY day
"""


def events_propensity_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor propensity matching (with replacement) for the
    signup-onboarded cohort, fully deterministic and exact.

    Treatment: users whose FIRST event (by ts, then event_id) is a
    ``signup`` — the onboarded cohort. Propensity proxy score: total
    event count (the activity confounder). Outcome: total purchase
    value in exact micros. Each treated user matches the control
    score nearest its own (ties -> the LOWER score; at the matched
    score the representative control is the min-user_id one), the
    standard greedy-with-replacement estimator whose per-pair rows
    sum to the ATT.

    Scale shape (100 TB): per-user aggregates (one keyed shuffle, the
    user grain is the parallel unit), then ALL ranking work runs on
    the DISTINCT-score spine — bounded by the activity-count domain,
    not the user count (the eval_roc_auc regime); the two prefix
    windows over that spine are whitelisted on that ground. Matching
    joins are equi-joins on score.
    """
    ev = load_table(spark, sf_dir, "events")
    wfirst = W.partitionBy("user_id").orderBy("ts", "event_id")
    per_user = (
        ev.select(
            "user_id",
            "event_type",
            F.floor(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
            F.row_number().over(wfirst).alias("__rn"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("score"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("vm")).otherwise(0)
            )
            .cast("bigint")
            .alias("outcome_micro"),
            F.max(
                F.when(
                    (F.col("__rn") == 1) & (F.col("event_type") == "signup"), 1
                ).otherwise(0)
            ).alias("treated"),
        )
    )
    controls = per_user.filter(F.col("treated") == 0)
    treated = per_user.filter(F.col("treated") == 1)
    ctrl_spine = controls.groupBy("score").agg(
        F.min("user_id").alias("ctrl_user"),
        F.min_by("outcome_micro", "user_id").alias("ctrl_outcome_micro"),
    )
    allsc = (
        treated.select("score")
        .union(ctrl_spine.select("score"))
        .distinct()
        .join(
            ctrl_spine.select("score", F.lit(1).alias("__c")), "score", "left"
        )
    )
    wb = W.orderBy("score").rowsBetween(W.unboundedPreceding, 0)
    wf = W.orderBy("score").rowsBetween(0, W.unboundedFollowing)
    nearest = allsc.select(
        "score",
        F.max(F.when(F.col("__c") == 1, F.col("score"))).over(wb).alias("back"),
        F.min(F.when(F.col("__c") == 1, F.col("score"))).over(wf).alias("fwd"),
    ).select(
        "score",
        F.when(F.col("back").isNull(), F.col("fwd"))
        .when(F.col("fwd").isNull(), F.col("back"))
        .when(
            F.col("score") - F.col("back") <= F.col("fwd") - F.col("score"),
            F.col("back"),
        )
        .otherwise(F.col("fwd"))
        .alias("m_score"),
    )
    return (
        treated.join(nearest, "score")
        .join(
            ctrl_spine.select(
                F.col("score").alias("m_score"),
                "ctrl_user",
                "ctrl_outcome_micro",
            ),
            "m_score",
        )
        .select(
            "user_id",
            "score",
            "outcome_micro",
            "m_score",
            "ctrl_user",
            "ctrl_outcome_micro",
            (F.col("outcome_micro") - F.col("ctrl_outcome_micro"))
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy("user_id")
    )


QUERIES["events_propensity_matching"] = events_propensity_matching

ORACLES["events_propensity_matching"] = """
    WITH pu AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS score,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(FLOOR(value * 1000000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS outcome_micro,
               MAX(CASE WHEN rn = 1 AND event_type = 'signup'
                        THEN 1 ELSE 0 END) AS treated
        FROM (SELECT user_id, event_type, value, ts,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events)
        GROUP BY user_id),
    ctrl AS (
        SELECT score, MIN(user_id) AS ctrl_user,
               arg_min(outcome_micro, user_id) AS ctrl_outcome_micro
        FROM pu WHERE treated = 0 GROUP BY score),
    allsc AS (
        SELECT s.score, c.score IS NOT NULL AS has_c
        FROM (SELECT DISTINCT score FROM pu WHERE treated = 1
              UNION SELECT score FROM ctrl) s
        LEFT JOIN ctrl c ON c.score = s.score),
    near AS (
        SELECT score,
               MAX(CASE WHEN has_c THEN score END)
                   OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS back,
               MIN(CASE WHEN has_c THEN score END)
                   OVER (ORDER BY score
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS fwd
        FROM allsc),
    pick AS (
        SELECT score,
               CASE WHEN back IS NULL THEN fwd
                    WHEN fwd IS NULL THEN back
                    WHEN score - back <= fwd - score THEN back
                    ELSE fwd END AS m_score
        FROM near)
    SELECT t.user_id, t.score, t.outcome_micro, p.m_score,
           c.ctrl_user, c.ctrl_outcome_micro,
           CAST(t.outcome_micro - c.ctrl_outcome_micro AS BIGINT)
               AS lift_micro
    FROM pu t
    JOIN pick p ON p.score = t.score
    JOIN ctrl c ON c.score = p.m_score
    WHERE t.treated = 1
    ORDER BY t.user_id
"""


def _stdiv(num: str, den: str) -> str:
    """Sign-branched exact truncating division (SQL text), the repo's
    cross-engine contract for possibly-negative dividends: truncate
    toward zero on both engines (DuckDB ``//`` floors on negatives on
    some versions — never rely on it below zero)."""
    return (
        f"CASE WHEN ({num}) < 0"
        f" THEN -CAST((-({num})) div ({den}) AS BIGINT)"
        f" ELSE CAST(({num}) div ({den}) AS BIGINT) END"
    )


def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout — the industry-standard
    experimentation estimator: each arm's post-period mean event value
    is adjusted by the pre-period covariate,
    ``adj = mean(Y_a) - theta * (mean(X_a) - mean(X))`` with
    ``theta = cov(X, Y) / var(X)`` over ALL users.

    Everything is exact integer arithmetic in DOCUMENTED stages:
    per-user X (pre-pivot) and Y (post-pivot) value totals carried at
    both micro (means) and cent (second moments — products stay inside
    DECIMAL(38,0) with ~1e8x row headroom, the drift_effect_size
    precedent) precision; theta surfaces at ppm grain
    (``theta_ppm = (n*Sxy - Sx*Sy) * 1e6 tdiv (n*Sxx - Sx^2)``, the
    one pinned truncation), the adjustment term truncates once more at
    micro grain, and the variance-reduction ratio rho^2 composes the
    same two ppm-grain stages (P*1e6 tdiv Ry, then * theta_ppm tdiv
    1e6) so no product ever exceeds the decimal domain. All divisions
    are sign-branched tdiv (negative deltas are normal). Degenerate
    var(X) = 0 or var(Y) = 0 surfaces -1 sentinels with the raw mean
    kept unadjusted.

    Scale notes (100 TB): one user-grain aggregate (map-side
    combinable), a 2-row arm rollup, a broadcast 1-row pooled-moments
    relation. No windows, no collects.
    """
    from .events3 import AB_ARM_UPPER, AB_SALT

    ev = load_table(spark, sf_dir, "events")
    post = F.col("ts").cast("timestamp") >= F.lit(DID_PIVOT).cast(
        "timestamp"
    )
    vm = F.floor(F.col("value") * 1_000_000).cast("bigint")
    vc = F.floor(F.col("value") * 100).cast("bigint")
    arm = F.when(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(AB_SALT), F.col("user_id").cast("string")
                ).cast("binary")
            ),
            1,
            2,
        )
        < AB_ARM_UPPER,
        "A",
    ).otherwise("B")
    per_user = (
        ev.select(
            "user_id",
            arm.alias("arm"),
            post.alias("post"),
            vm.alias("vm"),
            vc.alias("vc"),
        )
        .groupBy("user_id", "arm")
        .agg(
            F.sum(F.when(~F.col("post"), F.col("vm")).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("post"), F.col("vm")).otherwise(0))
            .cast("bigint")
            .alias("y"),
            F.sum(F.when(~F.col("post"), F.col("vc")).otherwise(0))
            .cast("bigint")
            .alias("xc"),
            F.sum(F.when(F.col("post"), F.col("vc")).otherwise(0))
            .cast("bigint")
            .alias("yc"),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx_m"),
        F.sum("xc").cast("decimal(38,0)").alias("sx"),
        F.sum("yc").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc")).alias("sxx"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("yc")).alias("sxy"),
        F.sum(F.col("yc").cast("decimal(38,0)") * F.col("yc")).alias("syy"),
    ).select(
        "n",
        F.expr("CAST(sx_m div n AS BIGINT)").alias("mean_x_all_micro"),
        F.expr("CAST(n * sxy - sx * sy AS DECIMAL(38,0))").alias("p"),
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("q"),
        F.expr("CAST(n * syy - sy * sy AS DECIMAL(38,0))").alias("ry"),
    ).select(
        "mean_x_all_micro",
        F.expr(
            "CASE WHEN q = 0 THEN -1 ELSE "
            + _stdiv("p * 1000000", "q")
            + " END"
        ).alias("theta_ppm"),
        F.expr(
            "CASE WHEN q = 0 OR ry = 0 THEN -1 ELSE "
            + _stdiv(
                "CAST("
                + _stdiv("p * 1000000", "q")
                + " AS DECIMAL(38,0)) * "
                + _stdiv("p * 1000000", "ry"),
                "1000000",
            )
            + " END"
        ).alias("var_reduction_ppm"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("decimal(38,0)").alias("sx_a"),
        F.sum("y").cast("decimal(38,0)").alias("sy_a"),
    )
    return (
        arms.crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            "n_users",
            F.expr("CAST(sx_a div n_users AS BIGINT)").alias("mean_x_micro"),
            F.expr("CAST(sy_a div n_users AS BIGINT)").alias(
                "raw_mean_y_micro"
            ),
            F.expr(
                "CAST(CAST(sy_a div n_users AS BIGINT) - CASE"
                " WHEN theta_ppm = -1 THEN 0 ELSE "
                + _stdiv(
                    "CAST(theta_ppm AS DECIMAL(38,0))"
                    " * (CAST(sx_a div n_users AS BIGINT)"
                    " - mean_x_all_micro)",
                    "1000000",
                )
                + " END AS BIGINT)"
            ).alias("cuped_mean_y_micro"),
            "theta_ppm",
            "var_reduction_ppm",
        )
        .orderBy("arm")
    )


QUERIES["events_cuped_adjustment"] = events_cuped_adjustment

ORACLES["events_cuped_adjustment"] = f"""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN substr(md5('ab-v1' || CAST(user_id AS VARCHAR)),
                               1, 2) < '80' THEN 'A' ELSE 'B' END AS arm,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                  < TIMESTAMP '{DID_PIVOT}'
                             THEN CAST(FLOOR(value * 1000000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                  >= TIMESTAMP '{DID_PIVOT}'
                             THEN CAST(FLOOR(value * 1000000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                  < TIMESTAMP '{DID_PIVOT}'
                             THEN CAST(FLOOR(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS xc,
               CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                  >= TIMESTAMP '{DID_PIVOT}'
                             THEN CAST(FLOOR(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS yc
        FROM events GROUP BY 1, 2),
    pooled AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx_m,
               CAST(SUM(xc) AS HUGEINT) AS sx,
               CAST(SUM(yc) AS HUGEINT) AS sy,
               SUM(CAST(xc AS HUGEINT) * xc) AS sxx,
               SUM(CAST(xc AS HUGEINT) * yc) AS sxy,
               SUM(CAST(yc AS HUGEINT) * yc) AS syy
        FROM per_user),
    moments AS (
        SELECT CAST(sx_m // n AS BIGINT) AS mean_x_all_micro,
               n * sxy - sx * sy AS p,
               n * sxx - sx * sx AS q,
               n * syy - sy * sy AS ry
        FROM pooled),
    consts AS (
        SELECT mean_x_all_micro,
               CASE WHEN q = 0 THEN -1
                    WHEN p * 1000000 < 0
                    THEN -CAST((-(p * 1000000)) // q AS BIGINT)
                    ELSE CAST((p * 1000000) // q AS BIGINT) END
                   AS theta_ppm,
               CASE WHEN q = 0 OR ry = 0 THEN CAST(-1 AS HUGEINT)
                    WHEN p * 1000000 < 0
                    THEN -CAST((-(p * 1000000)) // ry AS HUGEINT)
                    ELSE CAST((p * 1000000) // ry AS HUGEINT) END
                   AS covvary_ppm,
               q, ry
        FROM moments),
    consts2 AS (
        SELECT mean_x_all_micro, theta_ppm,
               CASE WHEN q = 0 OR ry = 0 THEN -1
                    WHEN CAST(theta_ppm AS HUGEINT) * covvary_ppm < 0
                    THEN -CAST((-(CAST(theta_ppm AS HUGEINT) * covvary_ppm))
                               // 1000000 AS BIGINT)
                    ELSE CAST(CAST(theta_ppm AS HUGEINT) * covvary_ppm
                              // 1000000 AS BIGINT) END
                   AS var_reduction_ppm
        FROM consts),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(x) AS HUGEINT) AS sx_a,
               CAST(SUM(y) AS HUGEINT) AS sy_a
        FROM per_user GROUP BY arm)
    SELECT a.arm, a.n_users,
           CAST(a.sx_a // a.n_users AS BIGINT) AS mean_x_micro,
           CAST(a.sy_a // a.n_users AS BIGINT) AS raw_mean_y_micro,
           CAST(CAST(a.sy_a // a.n_users AS BIGINT) - CASE
                WHEN c.theta_ppm = -1 THEN 0
                WHEN CAST(c.theta_ppm AS HUGEINT)
                     * (CAST(a.sx_a // a.n_users AS BIGINT)
                        - c.mean_x_all_micro) < 0
                THEN -CAST((-(CAST(c.theta_ppm AS HUGEINT)
                              * (CAST(a.sx_a // a.n_users AS BIGINT)
                                 - c.mean_x_all_micro))) // 1000000
                           AS BIGINT)
                ELSE CAST(CAST(c.theta_ppm AS HUGEINT)
                          * (CAST(a.sx_a // a.n_users AS BIGINT)
                             - c.mean_x_all_micro) // 1000000 AS BIGINT)
                END AS BIGINT) AS cuped_mean_y_micro,
           c.theta_ppm,
           CAST(c.var_reduction_ppm AS BIGINT) AS var_reduction_ppm
    FROM arms a, consts2 c
    ORDER BY a.arm
"""
