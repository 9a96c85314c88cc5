"""Coverage extensions: unpivot, multiset ops, date spine, string
aggregation, range window frames, ntile, systematic sampling, JSON
filters, column profiling, exact-reproducible correlation/covariance,
equi-width histograms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..io import load_table


def q_feature_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance of (quantity, extendedprice) per
    return flag — computed from DECIMAL-domain moment sums, NOT the
    engine-native corr()/covar_pop() (whose one-pass update algorithms
    differ between engines and drift in the last ulps). The five moment
    sums are exact decimals (order-independent); the closed forms reduce
    them at a documented micro (1e-6) quantum via exact integral
    division (``div`` == DuckDB HUGEINT ``//``, truncation toward zero),
    and the only double arithmetic happens on small exact integers — so
    the result is bit-reproducible at any parallelism AND any corpus
    size, the 10x lesson (docs/SCALING.md: double-surfaced moments past
    2^52 made this one of three 1-ulp queries). corr's scale factors
    cancel: (covar·1e6) / sqrt(varx·1e6 · vary·1e6) == covar/(σx·σy)
    over the micro-truncated moments. Moment precision: the tight
    operand casts hold to ~1e11 rows (binding constraint: sy fits
    DECIMAL(18,2) inside the sy^2 product; every product peaks at
    precision <= 38 with zero loss).
    """
    li = load_table(spark, sf_dir, "lineitem")
    dx = F.col("l_quantity").cast("decimal(18,2)")
    dy = F.col("l_extendedprice").cast("decimal(18,2)")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
        F.sum(dx * dy).alias("sxy"),
    )
    nd = "CAST(n_rows AS DECIMAL(12,0))"
    n2_micro = f"({nd} * {nd} * CAST(0.000001 AS DECIMAL(7,6)))"

    def q6(numerator: str) -> str:
        """trunc(numerator / n^2 * 1e6) as an exact BIGINT."""
        return f"(({numerator}) div {n2_micro})"

    cov_num = (
        f"{nd} * CAST(sxy AS DECIMAL(25,4))"
        " - CAST(sx AS DECIMAL(16,2)) * CAST(sy AS DECIMAL(19,2))"
    )
    varx_num = (
        f"{nd} * CAST(sxx AS DECIMAL(25,4))"
        " - CAST(sx AS DECIMAL(16,2)) * CAST(sx AS DECIMAL(16,2))"
    )
    vary_num = (
        f"{nd} * CAST(syy AS DECIMAL(25,4))"
        " - CAST(sy AS DECIMAL(19,2)) * CAST(sy AS DECIMAL(18,2))"
    )
    return (
        g.select(
            "l_returnflag",
            "n_rows",
            (F.expr(q6(cov_num)).cast("double") / F.lit(1000000.0)).alias("covar_pop"),
            (
                F.expr(q6(cov_num)).cast("double")
                / F.sqrt(
                    F.expr(q6(varx_num)).cast("double")
                    * F.expr(q6(vary_num)).cast("double")
                )
            ).alias("corr"),
        )
        .orderBy("l_returnflag")
    )


HIST_BUCKET_WIDTH = 25_000.0


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: one groupBy on the computed
    bucket (map-side partial agg; |buckets| rows through the exchange).
    floor(x / width) on doubles is IEEE-identical cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / F.lit(HIST_BUCKET_WIDTH)).cast("bigint")
    return (
        o.groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bucket",
            (F.col("bucket") * F.lit(HIST_BUCKET_WIDTH)).alias("lo"),
            ((F.col("bucket") + 1) * F.lit(HIST_BUCKET_WIDTH)).alias("hi"),
            "n_orders",
        )
        .orderBy("bucket")
    )


# (column, min/max rendering expression) for the orders profile; doubles
# route through DECIMAL(18,2) so both engines render identical strings
# (raw double->string switches to E-notation at different thresholds).
_PROFILE_COLS = {
    "o_orderkey": lambda c: F.col(c),
    "o_custkey": lambda c: F.col(c),
    "o_orderstatus": lambda c: F.col(c),
    "o_totalprice": lambda c: F.col(c).cast("decimal(18,2)"),
    "o_orderdate": lambda c: F.col(c),
    "o_orderpriority": lambda c: F.col(c),
}


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass over ``orders``: per-column null count, exact
    distinct count, and rendered min/max — the pre-ingest sanity report a
    pipeline runs before training on a new table.

    Two folds over the scan, deliberately split: mixing COUNT DISTINCT
    with min/max(string) in ONE agg forces the whole multi-distinct
    Expand (|cols|+1 x rows) through SortAggregate — var-length min/max
    buffers disqualify hash aggregation, and the fallback sorts the
    expanded set on a 7-column key (measured 3.5s warm at sf0.1).
    Separated, the distinct branch keeps fixed-width count buffers
    (HashAggregate through the Expand) and the min/max/null branch is a
    plain no-grouping fold that never expands (1.8s warm, same rows).
    The two 1-row results cross-join and stack() unpivots. At 100 TB swap
    the exact distincts for approx_count_distinct to drop the Expand.
    """
    o = load_table(spark, sf_dir, "orders")
    fold_aggs = [F.count(F.lit(1)).alias("_n")]
    distinct_aggs = []
    for c, render in _PROFILE_COLS.items():
        fold_aggs += [
            F.count(F.col(c)).alias(f"{c}_nn"),
            F.min(render(c)).cast("string").alias(f"{c}_min"),
            F.max(render(c)).cast("string").alias(f"{c}_max"),
        ]
        distinct_aggs.append(F.countDistinct(F.col(c)).alias(f"{c}_nd"))
    wide = o.agg(*fold_aggs).crossJoin(o.agg(*distinct_aggs))
    stack_args = ", ".join(
        f"'{c}', _n - {c}_nn, {c}_nd, {c}_min, {c}_max" for c in _PROFILE_COLS
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
                "(column_name, n_nulls, n_distinct, min_val, max_val)"
            )
        )
        .select(
            "column_name",
            F.col("n_nulls").cast("bigint").alias("n_nulls"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            "min_val",
            "max_val",
        )
        .orderBy("column_name")
    )


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long) via stack(): per-metric totals. stack() is a
    generator projection — map-side only, no shuffle beyond the final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'price', l_extendedprice, "
            "'discount', l_discount) AS (metric, value)"
        ),
    )
    return (
        long.groupBy("l_returnflag", "metric")
        .agg(F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total"))
        .orderBy("l_returnflag", "metric")
    )


def q_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL (multiset semantics, duplicates kept):
    order-year multiplicity overlap between two customer segments' orders."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    seg = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.year("o_orderdate").alias("y"), "c_mktsegment"
    )
    building = seg.filter(F.col("c_mktsegment") == "BUILDING").select("y")
    machinery = seg.filter(F.col("c_mktsegment") == "MACHINERY").select("y")
    inter = building.intersectAll(machinery).groupBy("y").agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("op", F.lit("intersect_all"))
    exc = building.exceptAll(machinery).groupBy("y").agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("op", F.lit("except_all"))
    return inter.unionByName(exc).orderBy("op", "y")


def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine generation (sequence + explode) left-joined to monthly
    revenue — months with no orders appear with zero. The spine is tiny and
    broadcast; generation is driver-free."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 month"))).alias("month")
    )
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        spine.join(monthly, "month", "left")
        .select(
            "month",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
        .orderBy("month")
    )


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): region -> csv of its nations."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("r_name")
    )


def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per customer, revenue in the trailing 30 days
    (value-range frame over epoch days, not row counts)."""
    orders = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = W.partitionBy("o_custkey").orderBy(days.cast("long")).rangeBetween(-30, 0)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(w)
            .cast("double")
            .alias("trailing_30d_revenue"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


def q_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) price quartiles (fully tie-broken ordering for
    determinism) + per-bucket aggregates.

    Scale-safe: a bare ``ntile().over(Window.orderBy(...))`` funnels the
    whole table through ONE task. Instead, global rank is computed the
    distributed way — rows are binned into 32 ordered ranges by
    ``approxQuantile`` cut-points (driver-side literals; quantile error
    only skews bin sizes, never correctness, because rank arithmetic uses
    the EXACT per-bin counts), per-bin ``row_number``, then each bin's
    cumulative row offset (per-bin counts are ≤33 rows — driver literals
    via a map expression, like the cut-points) — and the NTILE bucket
    follows in closed form from (rank, n): the first ``n % 4`` buckets
    hold ``n//4 + 1`` rows, the rest ``n//4``. Every stage is parallel;
    no single-partition window exists anywhere in the plan.

    Binning by a column expression (vs ``repartitionByRange`` +
    ``spark_partition_id`` + checkpoint, the round-2 shape) keeps the bin
    id deterministic across jobs with no checkpoint barrier and no range
    sampling pass — measured 3.8s -> 1.5s warm at sf0.1. Equal prices land
    in one bin (strict ``>`` against each cut), so the orderkey tie-break
    stays within a bin and global rank is exact.

    Round 10: this op's hand-rolled pattern became
    ``operators.distributed_rank`` (exact per-bin offsets, closed-form
    integer NTILE, keyed variant) — the implementation now delegates to
    the shared helper so the repo carries the pattern exactly once; the
    plan shape this docstring describes is unchanged (asserted by
    test_ntile_rewrite_is_distributed).
    """
    from .distributed_rank import ntile_expr, quantile_cuts, with_global_rank

    orders = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    cuts = quantile_cuts(orders, ["o_totalprice"])["o_totalprice"]
    ranked = with_global_rank(
        orders, "o_totalprice", ["o_orderkey"], cuts=cuts
    )
    return (
        ranked.withColumn("quartile", ntile_expr("rn", "n_total", 4))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("quartile")
    )


def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sampling (key mod N) — the reproducible
    cross-engine sampling pattern (TABLESAMPLE is engine-random)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_orderkey") % 20 == 0) & (F.col("l_linenumber") == 1))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey")
    )


def q_json_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property predicate + conditional aggregation over events."""
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_high_k"),
            # pinned to long on BOTH sides: DuckDB SUM(int) yields HUGEINT,
            # which pandas-renders differently from Spark's bigint
            F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).cast("long").alias("n_high_value"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family windows in one pass: percent_rank,
    cume_dist, nth_value, first/last_value over a running frame.

    Scale note: this op's PURPOSE is the native window-function operator
    surface itself, so it keeps the priority-keyed window (5 partitions
    of orders/5 — a parallelism ceiling at extreme scale). Analytical
    queries needing these ranks at 100 TB use the keyed
    ``operators.distributed_rank`` pattern instead (percent_rank and
    cume_dist are (rank, total) arithmetic; see SCALING.md round 10).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    running = w.rowsBetween(W.unboundedPreceding, 0)
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.nth_value("o_orderkey", 2).over(running).alias("second_key"),
            F.first("o_orderkey").over(running).alias("first_key"),
            F.last("o_orderkey").over(running).alias("last_key"),
        )
        .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    )


def q_string_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string library: pad/trim/translate/reverse/replace/split
    indexing — all codegen built-ins with ANSI twins."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.lpad("n_name", 15, ".").alias("padded"),
        F.rpad("n_name", 15, "_").alias("rpadded"),
        F.reverse(F.col("n_name")).alias("reversed"),
        F.translate("n_name", "AEIOU", "aeiou").alias("translated"),
        F.replace(F.col("n_name"), F.lit("AN"), F.lit("@")).alias("replaced"),
        F.left(F.col("n_name"), F.lit(3)).alias("first3"),
        F.right(F.col("n_name"), F.lit(3)).alias("last3"),
        F.length(F.trim(F.lit("  x  "))).alias("trimmed_len"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
    ).orderBy("n_nationkey")


QUERIES = {
    "q_window_rank_suite": q_window_rank_suite,
    "q_string_functions2": q_string_functions2,
    "q_unpivot_metrics": q_unpivot_metrics,
    "q_profile_columns": q_profile_columns,
    "q_feature_correlations": q_feature_correlations,
    "q_histogram": q_histogram,
    "q_multiset_ops": q_multiset_ops,
    "q_date_spine": q_date_spine,
    "q_string_agg": q_string_agg,
    "q_range_frame_window": q_range_frame_window,
    "q_ntile_buckets": q_ntile_buckets,
    "q_systematic_sample": q_systematic_sample,
    "q_json_filter_agg": q_json_filter_agg,
}

ORACLES = {
    "q_window_rank_suite": """
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               nth_value(o_orderkey, 2) OVER running AS second_key,
               first_value(o_orderkey) OVER running AS first_key,
               last_value(o_orderkey) OVER running AS last_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
               running AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY o_orderpriority, o_totalprice, o_orderkey
    """,
    "q_string_functions2": """
        SELECT n_nationkey,
               lpad(n_name, 15, '.') AS padded,
               rpad(n_name, 15, '_') AS rpadded,
               reverse(n_name) AS reversed,
               translate(n_name, 'AEIOU', 'aeiou') AS translated,
               replace(n_name, 'AN', '@') AS replaced,
               left(n_name, 3) AS first3,
               right(n_name, 3) AS last3,
               length(trim('  x  ')) AS trimmed_len,
               repeat('ab', 3) AS repeated
        FROM nation
        ORDER BY n_nationkey
    """,
    "q_feature_correlations": """
        WITH m AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS HUGEINT) AS sx_i,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS sy_i,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) * 10000 AS HUGEINT) AS sxx_i,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000 AS HUGEINT) AS syy_i,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000 AS HUGEINT) AS sxy_i
            FROM lineitem
            GROUP BY l_returnflag),
        q AS (
            -- scale-4 integer moments reduced at the 1e-6 quantum with
            -- exact truncating integer division (mirrors Spark's div).
            -- The covariance numerator CAN BE NEGATIVE (flag R at sf0.01),
            -- and DuckDB versions disagree on negative ``//`` (1.0
            -- truncates, later versions floor) — so divide magnitudes
            -- and reapply the sign: (-x) // d is positive-operand
            -- division, identical in every version (r14 floordiv_probe).
            -- *100 lifts the scale-4 numerators to micro units.
            SELECT l_returnflag,
                   CAST(n AS BIGINT) AS n_rows,
                   CASE WHEN (n * sxy_i - sx_i * sy_i) < 0
                        THEN -(((sx_i * sy_i - n * sxy_i) * 100) // (n * n))
                        ELSE ((n * sxy_i - sx_i * sy_i) * 100) // (n * n)
                   END AS cov_q6,
                   ((n * sxx_i - sx_i * sx_i) * 100) // (n * n) AS varx_q6,
                   ((n * syy_i - sy_i * sy_i) * 100) // (n * n) AS vary_q6
            FROM m)
        SELECT l_returnflag, n_rows,
               CAST(cov_q6 AS DOUBLE) / 1000000.0 AS covar_pop,
               CAST(cov_q6 AS DOUBLE)
                   / sqrt(CAST(varx_q6 AS DOUBLE) * CAST(vary_q6 AS DOUBLE)) AS corr
        FROM q
        ORDER BY l_returnflag
    """,
    "q_histogram": """
        SELECT bucket,
               -- CAST to DOUBLE: a bare 25000.0 literal is DECIMAL(6,1)
               -- in DuckDB, making lo/hi DECIMAL(25,1) against Spark's
               -- DOUBLE — the asymmetric-type driver-red hazard.
               bucket * CAST(25000.0 AS DOUBLE) AS lo,
               (bucket + 1) * CAST(25000.0 AS DOUBLE) AS hi,
               n_orders
        FROM (
            SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
                   COUNT(*) AS n_orders
            FROM orders
            GROUP BY 1)
        ORDER BY bucket
    """,
    "q_profile_columns": """
        SELECT 'o_orderkey' AS column_name,
               CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_custkey' AS column_name,
               CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
               CAST(MAX(o_custkey) AS VARCHAR) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus' AS column_name,
               CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderstatus) AS VARCHAR) AS min_val,
               CAST(MAX(o_orderstatus) AS VARCHAR) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_totalprice' AS column_name,
               CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
               CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS min_val,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_orderdate' AS column_name,
               CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderdate) AS VARCHAR) AS min_val,
               CAST(MAX(o_orderdate) AS VARCHAR) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority' AS column_name,
               CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderpriority) AS VARCHAR) AS min_val,
               CAST(MAX(o_orderpriority) AS VARCHAR) AS max_val
        FROM orders
        ORDER BY column_name
    """,
    "q_unpivot_metrics": """
        SELECT l_returnflag, metric,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
        FROM (
            SELECT l_returnflag, 'quantity' AS metric, l_quantity AS value FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_returnflag, 'discount', l_discount FROM lineitem
        ) long
        GROUP BY l_returnflag, metric
        ORDER BY l_returnflag, metric
    """,
    "q_multiset_ops": """
        WITH seg AS (
            SELECT year(o_orderdate) AS y, c_mktsegment
            FROM orders JOIN customer ON o_custkey = c_custkey),
        b AS (SELECT y FROM seg WHERE c_mktsegment = 'BUILDING'),
        m AS (SELECT y FROM seg WHERE c_mktsegment = 'MACHINERY')
        SELECT y, COUNT(*) AS n, 'intersect_all' AS op
        FROM (SELECT y FROM b INTERSECT ALL SELECT y FROM m) GROUP BY y
        UNION ALL
        SELECT y, COUNT(*) AS n, 'except_all' AS op
        FROM (SELECT y FROM b EXCEPT ALL SELECT y FROM m) GROUP BY y
        ORDER BY op, y
    """,
    "q_date_spine": """
        WITH bounds AS (
            SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
                   date_trunc('month', MAX(o_orderdate)) AS hi
            FROM orders),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM bounds),
        monthly AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1)
        SELECT spine.month,
               COALESCE(revenue, 0.0) AS revenue,
               COALESCE(n_orders, 0) AS n_orders
        FROM spine LEFT JOIN monthly ON spine.month = monthly.month
        ORDER BY spine.month
    """,
    "q_string_agg": """
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               COUNT(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
    """,
    "q_range_frame_window": """
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
                   PARTITION BY o_custkey
                   ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS trailing_30d_revenue
        FROM orders
        ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    "q_ntile_buckets": """
        SELECT quartile, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        FROM (SELECT o_totalprice,
                     NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
              FROM orders)
        GROUP BY quartile
        ORDER BY quartile
    """,
    "q_systematic_sample": """
        SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_orderkey % 20 = 0 AND l_linenumber = 1
        ORDER BY l_orderkey
    """,
    "q_json_filter_agg": """
        SELECT event_type,
               COUNT(*) AS n_high_k,
               CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_value,
               MAX(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT)) AS max_k
        FROM events
        WHERE CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) > 50
        GROUP BY event_type
        ORDER BY event_type
    """,
}
