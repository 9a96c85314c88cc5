"""Data-quality operators: per-key anomaly detection and distributed
exact selection.

- ``events_anomaly_zscore``: per-user z-scores over event values with
  3-sigma outlier flags. The moments accumulate EXACTLY: values quantize
  to integers (floor(v * 1e6), IEEE-exact both engines), sum and
  sum-of-squares run in DECIMAL, and only the final mean/std divisions
  drop to double — written in the same operation order as the oracle, so
  verdicts are bit-identical at any parallelism. Plan: one groupBy for
  the per-user moments (map-side partial), joined back to the events
  (the stats side is |users| rows).
- ``q_exact_median``: the EXACT lower median of a column without a
  global sort — the distributed-selection shape. approxQuantile bins
  partition the value space (error only skews bin sizes); exact per-bin
  counts locate the bin holding the k-th element (driver-side over ≤33
  rows, metadata-scale); only THAT bin's rows are sorted to extract the
  element. At 100 TB the sorted bin is ~n/32 rows — recurse the same
  step if a single bin is still too large (one level suffices here and
  the recursion is the documented scale path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import fan_out, load_table

Z_SCALE = 1_000_000
Z_SIGMA = 3.0


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vq = F.floor(F.col("value") * F.lit(float(Z_SCALE))).cast("long")
    quant = ev.select("event_id", "user_id", vq.alias("vq"))
    stats = quant.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vq").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq").cast("decimal(38,0)")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    enriched = quant.join(
        stats.select("user_id", mean.alias("mean_q"), std.alias("std_q")),
        "user_id",
    )
    z = (F.col("vq") - F.col("mean_q")) / F.nullif(F.col("std_q"), F.lit(0.0))
    return (
        enriched.select(
            "event_id",
            "user_id",
            z.alias("z"),
            (F.abs(F.col("vq") - F.col("mean_q")) > F.lit(Z_SIGMA) * F.col("std_q"))
            .alias("is_outlier"),
        )
        .orderBy("event_id")
    )


MEDIAN_BINS = 32


def q_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    n = orders.count()
    k = (n + 1) // 2  # lower median, interpolation-free in both engines
    cuts = sorted(
        set(
            orders.approxQuantile(
                "o_totalprice", [i / MEDIAN_BINS for i in range(1, MEDIAN_BINS)], 0.001
            )
        )
    )
    bin_id = sum((F.col("o_totalprice") > F.lit(c)).cast("int") for c in cuts)
    binned = orders.withColumn("b", bin_id)
    counts = {
        int(r["b"]): int(r["cnt"])
        for r in binned.groupBy("b").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    before, target = 0, 0
    for b in sorted(counts):
        if before + counts[b] >= k:
            target = b
            break
        before += counts[b]
    median = (
        binned.filter(F.col("b") == target)
        .orderBy("o_totalprice")
        .limit(k - before)
        .orderBy(F.col("o_totalprice").desc())
        .limit(1)
    )
    return median.select(
        F.col("o_totalprice").alias("median_price"),
        F.lit(n).cast("long").alias("n_rows"),
    )


FUZZY_MAX_DIST = 2


def q_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance with blocking, over DISTINCT
    names: near-duplicate part-name pairs (levenshtein ≤ FUZZY_MAX_DIST)
    sharing a blocking key (the name's last word — the noun of the
    fixture's adjective+noun names), each side carrying its part count.

    Matching distinct VALUES instead of rows is what makes fuzzy
    matching scale: key-level self-joins are quadratic in DUPLICATES
    (measured 1.2s -> 97s at 10x data on this fixture, whose name
    vocabulary is fixed while rows grow 10x), while the distinct-name
    frame is vocabulary-sized — the data-sized work is one distinct
    aggregation, and consumers needing key pairs join back by name.
    Levenshtein runs JVM-side, identical to DuckDB's.
    """
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    names = parts.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    block = F.regexp_extract(F.col("p_name"), r"([^ ]+)$", 1)
    keyed = names.withColumn("blk", block)
    a, b = keyed.alias("a"), keyed.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name1"),
            F.col("b.p_name").alias("name2"),
            dist.alias("edit_dist"),
            F.col("a.n_parts").alias("n_parts_1"),
            F.col("b.n_parts").alias("n_parts_2"),
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
        .orderBy("name1", "name2")
    )


def _key_profile(df: DataFrame, table: str, key: str) -> DataFrame:
    per = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("c"))
    return per.agg(
        F.lit(table).alias("table_name"),
        F.lit(key).alias("key_name"),
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_per_key"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("avg_per_key"),
        (F.max("c").cast("double") * F.count(F.lit(1)) / F.sum("c")).alias(
            "skew_ratio"
        ),
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: per-key cardinality profile of the three
    hottest join keys (orders.o_custkey, lineitem.l_orderkey,
    events.user_id) — max/avg rows per key and the skew ratio that
    decides between a plain shuffle join, AQE skew splitting, and salting
    (operators/skew.py). The report every scale engineer runs BEFORE
    picking a join strategy; at 100 TB it reads a sample or the
    per-partition statistics, same plan shape.

    All-integer aggregation; the two ratios divide exact integers in
    double (identical IEEE result both engines).
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    return (
        _key_profile(orders, "orders", "o_custkey")
        .unionByName(_key_profile(lineitem, "lineitem", "l_orderkey"))
        .unionByName(_key_profile(events, "events", "user_id"))
        .orderBy("table_name")
    )


# Expectation suite (the Deequ/Great-Expectations shape): each check is
# a named predicate whose violation count the job asserts on before
# publishing a table. All but the FK check fold into ONE scan of
# lineitem (conditional aggregates); the FK check is one anti-join.
EXPECT_ACCEPTED_FLAGS = ("A", "N", "R")

# Drift profile: canonical string per column so one output schema covers
# heterogeneous types — bigints and decimals stringify identically in
# both engines; doubles go through floor-micros first (never raw
# double->string, whose formatting is engine-specific).
DRIFT_PIVOT = "1998-07-01"
_DRIFT_COLS = [
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_custkey", "CAST(o_custkey AS STRING)"),
    ("o_totalprice_micros",
     "CAST(CAST(FLOOR(o_totalprice * 1000000) AS BIGINT) AS STRING)"),
]


def q_expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over lineitem: null checks, key
    uniqueness, value ranges, accepted values, and orders referential
    integrity — one row per check with its violation count.

    Scale shape: five checks share ONE map-side-combined scan (count_if
    style conditional sums + one count_distinct); the FK check is a
    single anti-join keyed on l_orderkey. Output is check-count-sized.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    flags = ", ".join(f"'{v}'" for v in EXPECT_ACCEPTED_FLAGS)
    scan = li.agg(
        F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("not_null_l_orderkey"),
        # (orderkey, linenumber) is NOT unique in this fixture (the
        # generator draws line numbers independently); the real line
        # identity is (orderkey, partkey, suppkey). Distinct over a
        # NULL-sentinel concat, NOT countDistinct(cols...): multi-col
        # countDistinct drops rows with any NULL key while DuckDB's
        # COUNT(DISTINCT (tuple)) keeps them — and dirty keys are
        # exactly what an expectation suite must count. Keys are
        # bigints, so '|' never collides.
        (
            F.count(F.lit(1))
            - F.countDistinct(
                F.concat_ws(
                    "|",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("N"))
                        for c in ("l_orderkey", "l_partkey", "l_suppkey")
                    ],
                )
            )
        )
        .cast("bigint")
        .alias("unique_line_identity"),
        F.sum(
            F.when(~F.col("l_discount").between(0.0, 0.1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("range_l_discount"),
        F.sum(
            F.when(~F.col("l_quantity").between(1.0, 50.0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("range_l_quantity"),
        F.sum(
            F.when(~F.expr(f"l_returnflag IN ({flags})"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("accepted_values_l_returnflag"),
    )
    per_check = scan.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("check_name"),
                        F.col(c).alias("n_violations"),
                    )
                    for c in [
                        "not_null_l_orderkey",
                        "unique_line_identity",
                        "range_l_discount",
                        "range_l_quantity",
                        "accepted_values_l_returnflag",
                    ]
                ]
            )
        ).alias("s")
    ).select("s.check_name", "s.n_violations")
    fk = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.lit("fk_lineitem_orders").alias("check_name"), "n_violations"
        )
    )
    return (
        per_check.unionByName(fk)
        .withColumn("passed", F.col("n_violations") == 0)
        .orderBy("check_name")
    )


def q_column_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-statistics drift between two halves of order history
    (before/after DRIFT_PIVOT): per column, null counts, distinct
    counts, min/max of the canonical string form, plus the distinct
    delta in ppm — the snapshot diff a pipeline runs before promoting
    a new load.

    Scale shape: unpivot to (column, half, value) — a width-constant
    explode, not a shuffle — then one groupBy over column x half
    (count_distinct is the only distinct agg and it is per-group), and
    a final column-count-sized pivot. Nothing driver-side.
    """
    # fan_out: the 9-column unpivot explode + canonical-string exprs +
    # count_distinct partial agg fuse into the scan stage (6 tasks at
    # sf1, ~3s/task — measured r15); spread the scan first.
    orders = fan_out(load_table(spark, sf_dir, "orders"), "o_orderkey")
    half = F.when(
        F.col("o_orderdate") < F.lit(DRIFT_PIVOT).cast("timestamp"), "old"
    ).otherwise("new")
    cells = orders.select(
        half.alias("half"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("column_name"),
                        F.expr(expr).alias("val"),
                    )
                    for name, expr in _DRIFT_COLS
                ]
            )
        ).alias("s"),
    ).select("half", "s.column_name", "s.val")
    prof = cells.groupBy("column_name", "half").agg(
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulls"),
        F.countDistinct("val").alias("n_distinct"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )

    def _side(side: str, col: str):
        return F.max(F.when(F.col("half") == side, F.col(col)))

    wide = prof.groupBy("column_name").agg(
        _side("old", "n_nulls").alias("old_nulls"),
        _side("new", "n_nulls").alias("new_nulls"),
        _side("old", "n_distinct").alias("old_distinct"),
        _side("new", "n_distinct").alias("new_distinct"),
        _side("old", "min_val").alias("old_min"),
        _side("new", "min_val").alias("new_min"),
        _side("old", "max_val").alias("old_max"),
        _side("new", "max_val").alias("new_max"),
    )
    return wide.select(
        "*",
        F.expr(
            "(new_distinct - old_distinct) * 1000000 div old_distinct"
        ).alias("distinct_delta_ppm"),
        (
            (F.col("old_min") != F.col("new_min"))
            | (F.col("old_max") != F.col("new_max"))
        ).alias("minmax_changed"),
    ).orderBy("column_name")


# Exact per-group quartiles: type-1 (lower) quantiles — pure SELECTION,
# no interpolation arithmetic, so the surfaced values are input values
# and cannot drift cross-engine. k_q = max(1, ceil(q * n)).
PCTL_QS = (25, 50, 75)


def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of o_totalprice per order priority.

    Scale shape (round 10): the 5 priority groups each hold orders/5
    rows — a priority-keyed window is a 5-way parallelism ceiling with
    linearly-growing single-task sorts — so ranks come from the keyed
    distributed exact-rank pattern (``distributed_rank``,
    ``partition_by=priority``): every (priority, value-bin) ranks
    independently and exact per-bin offsets restore the global
    per-group rank; the quantile picks stay row-local rank comparisons.
    """
    from .distributed_rank import quantile_cuts, with_global_rank

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    cuts = quantile_cuts(orders, ["o_totalprice"])["o_totalprice"]
    ranked = with_global_rank(
        orders, "o_totalprice", ["o_orderkey"], cuts=cuts,
        partition_by=["o_orderpriority"], rank_col="rk", total_col="n",
    )
    picks = [
        # ceil(q*n/100) in pure integers: (n*q + 99) div 100 — no float
        # rank arithmetic anywhere.
        F.max(
            F.when(
                F.col("rk")
                == F.greatest(F.lit(1).cast("bigint"), F.expr(f"(n * {q} + 99) div 100")),
                F.col("o_totalprice"),
            )
        ).alias(f"p{q}")
        for q in PCTL_QS
    ]
    return (
        ranked.groupBy("o_orderpriority")
        .agg(F.max("n").cast("bigint").alias("n"), *picks)
        .orderBy("o_orderpriority")
    )


# ABC (Pareto) classification thresholds on cumulative revenue share.
ABC_A_PPM = 800_000
ABC_B_PPM = 950_000

# Benford first-digit expectation, exact ppm: round(1e6 * log10(1+1/d)).
# The nine constants sum to exactly 1,000,000.
BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
               6: 66947, 7: 57992, 8: 51153, 9: 45757}


def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ABC analysis of customer revenue: customers ranked by
    exact revenue micros, cumulative share in ppm, class A/B/C at the
    80/95% cut — the inventory-management Pareto report.

    Revenue accumulates as integer micros (floor(price * 1e6)) promoted
    through DECIMAL(38,0), so no float summation order exists to drift.
    Scale shape (round 10): nation partitions grow linearly (customers/
    25), so rank + cumulative + total all come from ONE keyed
    distributed exact-rank pass (``distributed_rank`` with ``cum_cols``
    + the free ``tot_`` group total) — every (nation, revenue-bin) is
    the parallel unit; no per-nation single-task sort.
    """
    from .distributed_rank import quantile_cuts, with_global_rank

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    rev = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint").alias("rev_micros"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev_micros").alias("rev_micros"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_nationkey", "o_custkey", "rev_micros")
    )
    cuts = quantile_cuts(rev, ["rev_micros"])["rev_micros"]
    ranked = with_global_rank(
        rev, "rev_micros", ["o_custkey"], cuts=cuts, descending=True,
        partition_by=["c_nationkey"], rank_col="rk", total_col="__n",
        cum_cols=("rev_micros",),
    )
    # cum/tot are DECIMAL(38,0) already (cum * 1e6 passes 2^63 at
    # fixture scale; the decimal `div` contract carries it exactly).
    share = F.expr(
        "CAST(cum_rev_micros * 1000000 div tot_rev_micros AS BIGINT)"
    )
    return ranked.select(
        "c_nationkey",
        "o_custkey",
        # helper rank is LONG (row_number + long offset); the public
        # column (and the oracle's CAST AS INTEGER) has been INT since
        # round 7 — keep the width stable across the rework.
        F.col("rk").cast("int").alias("rk"),
        "rev_micros",
        share.alias("cum_share_ppm"),
        F.when(share <= ABC_A_PPM, "A")
        .when(share <= ABC_B_PPM, "B")
        .otherwise("C")
        .alias("abc_class"),
    ).orderBy("c_nationkey", "rk")


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of order totals vs Benford's law, in
    exact ppm — the classic financial-audit conformance check.

    The first digit comes from the STRING form of the exact bigint
    micros (multiplying by 1e6 preserves the leading digit), never from
    float log10 — powers of ten would be engine-dependent there. One
    scan, 9-row output, broadcast one-row total; deltas are integer
    ppm.
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    total = counts.agg(F.sum("n_obs").alias("n_total"))
    benford = F.create_map(
        *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.expr("n_obs * 1000000 div n_total").alias("obs_ppm"),
            benford[F.col("digit")].alias("benford_ppm"),
        )
        .withColumn(
            "delta_ppm", F.abs(F.col("obs_ppm") - F.col("benford_ppm"))
        )
        .orderBy("digit")
    )


# MAD outliers: |v - median| > K_MAD * MAD flags a point. Pure selection
# + integer comparison — the robust twin of events_anomaly_zscore, immune
# to the outliers it hunts (a z-score's own mean/std absorb them).
K_MAD = 5


def _group_median(df: DataFrame, val: str, keys: list[str], out: str) -> DataFrame:
    """Per-group LOWER median of an integer column by rank selection —
    deterministic under ties via the (value, event_id) sort key; no
    interpolation, so the result is always an input value."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*keys).orderBy(val, "event_id")
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy(*keys))
    )
    return ranked.groupBy(*keys).agg(
        F.max(
            F.when(F.col("_rn") == F.expr("(_n + 1) div 2"), F.col(val))
        ).alias(out)
    )


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier flags: |v - median| > K_MAD * MAD, all in
    exact integer micros (median and MAD are rank selections, the flag
    an integer comparison — nothing for float noise to flip).

    Two selection passes (value rank, then deviation rank), each one
    shuffle keyed by user; the stats side is |users| rows joined back
    broadcast-style. The scale story of q_exact_median applies per
    group if a single user's history outgrows a task sort.
    """
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1_000_000).cast("bigint").alias("v_micro"),
    )
    med = _group_median(q, "v_micro", ["user_id"], "med_micro")
    devs = q.join(med, "user_id").withColumn(
        "dev_micro", F.abs(F.col("v_micro") - F.col("med_micro"))
    )
    mad = _group_median(
        devs.select("event_id", "user_id", F.col("dev_micro").alias("v_micro")),
        "v_micro",
        ["user_id"],
        "mad_micro",
    )
    return (
        devs.join(mad, "user_id")
        .select(
            "event_id",
            "user_id",
            "v_micro",
            "med_micro",
            "mad_micro",
            (F.col("dev_micro") > K_MAD * F.col("mad_micro")).alias(
                "is_outlier"
            ),
        )
        .orderBy("event_id")
    )


# Histogram: HIST_BINS equi-width bins over order totals, top bin open.
HIST_WIDTH_MICROS = 25_000_000_000  # 25k currency units
HIST_BINS = 20


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals in exact micros: per bin,
    count, sum, min, max — one map-side-combined scan, bin-count-sized
    output. The profiling primitive behind every range-partition and
    skew decision."""
    orders = load_table(spark, sf_dir, "orders")
    v = F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint")
    bin_ = F.least(
        F.expr(f"CAST(v div {HIST_WIDTH_MICROS} AS INT)"),
        F.lit(HIST_BINS - 1),
    )
    return (
        orders.select(v.alias("v"))
        .select("v", bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("v").cast("bigint").alias("sum_micros"),
            F.min("v").alias("min_micros"),
            F.max("v").alias("max_micros"),
        )
        .orderBy("bin")
    )


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring: quintile
    ranks per dimension WITHIN the customer's nation, composed into the
    classic three-digit RFM code.

    Scale shape: one groupBy over orders for the per-customer triple, a
    broadcast one-row reference date, and three per-nation quintile
    assignments. A nation key alone is NOT a scale guarantee — each of
    the 25 partitions still holds customers/25 rows, linear in data
    (the round-9 verdict's borderline finding) — so the tiles use the
    keyed distributed exact-rank pattern (``distributed_rank``,
    ``partition_by=nation``): approxQuantile bins subdivide every
    nation, each (nation, bin) ranks independently, exact per-bin
    offsets and closed-form NTILE arithmetic reproduce
    ``NTILE(5) OVER (PARTITION BY nation ORDER BY ...)`` bit-exactly.
    One stacked pass (``with_global_ranks``) ranks all three
    dimensions. Recency in whole days, monetary in exact micros; ntile
    ties break on custkey.
    """
    from .distributed_rank import ntile_expr, with_global_ranks

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.floor(F.col("o_totalprice") * 1_000_000).cast("bigint"))
            .alias("monetary_micros"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    based = per.crossJoin(F.broadcast(ref)).select(
        "c_nationkey",
        "o_custkey",
        F.datediff(F.col("ref_date"), F.col("last_order")).alias(
            "recency_days"
        ),
        "frequency",
        "monetary_micros",
        # customer-grain aggregate feeds the quantile action plus the
        # rank's bin counts plus the final plan — checkpoint so the
        # orders groupBy+join runs once (r11; entity-grain only, never
        # raw-scan-grain).
    ).localCheckpoint(eager=False)

    # The three orderings rank the same customer relation, so they take
    # one stacked pass (one quantile action, one keyed rank), not three
    # nested levels.
    ranked = with_global_ranks(
        based,
        [
            ("recency_days", False, "__rn_r", "__n_r"),
            ("frequency", True, "__rn_f", "__n_f"),
            ("monetary_micros", True, "__rn_m", "__n_m"),
        ],
        ["o_custkey"],
        partition_by=["c_nationkey"],
    )
    scored = ranked.select(
        "c_nationkey",
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_micros",
        ntile_expr("__rn_r", "__n_r", 5).alias("r_score"),
        ntile_expr("__rn_f", "__n_f", 5).alias("f_score"),
        ntile_expr("__rn_m", "__n_m", 5).alias("m_score"),
    )
    return scored.select(
        "*",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("rfm_code"),
    ).orderBy("c_nationkey", "o_custkey")


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue per nation, exact to the
    ppm: G = (2*sum(i*y_i) - (n+1)*sum(y)) / (n*sum(y)) over ascending
    revenue ranks — every term an integer (micros), the single division
    the decimal-contract `div`.

    The revenue-concentration audit (how top-heavy is each market).
    One revenue groupBy, one keyed distributed exact-rank pass (nation
    partitions are customers/25 — linear, so no per-nation single-task
    sort; round 10), one matrix-sized aggregate.
    """
    from .distributed_rank import quantile_cuts, with_global_rank

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
    cuts = quantile_cuts(rev, ["y"])["y"]
    ranked = with_global_rank(
        rev, "y", ["o_custkey"], cuts=cuts,
        partition_by=["c_nationkey"], rank_col="i", total_col="__n",
    ).select("c_nationkey", "y", "i")
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("sum_y"),
            # i*y summed over a nation passes 2^63 at 10x already —
            # decimal accumulation per the repo contract.
            F.sum(F.col("i").cast("decimal(38,0)") * F.col("y")).alias("sum_iy"),
        )
        .select(
            "c_nationkey",
            F.col("n").cast("bigint").alias("n"),
            F.col("sum_y").cast("bigint").alias("sum_micros"),
            F.expr(
                "CAST((2 * sum_iy - (n + 1) * CAST(sum_y AS DECIMAL(38,0)))"
                " * 1000000 div (CAST(n AS DECIMAL(38,0)) * sum_y)"
                " AS BIGINT)"
            ).alias("gini_ppm"),
        )
        .orderBy("c_nationkey")
    )


def q_lead_time_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of order-to-ship lead time (whole days) per
    order priority — the fulfillment SLA report, via the same type-1
    selection-quantile machinery as q_exact_percentiles (the quantile
    is always an observed lead time; integer rank arithmetic only).

    Scale shape (reworked round 13): lead_days is a DOMAIN-bounded
    value (TPC-H ships within ~121 days of the order; any real
    fulfillment window is similarly calendar-bounded), so the row-grain
    rank machinery this op carried since round 10 was overkill — one
    orderkey join (the fact-fact shuffle, now carrying only the two
    columns the answer needs), one map-side-combined groupBy down to
    (priority, lead_days) cells (~5 x 122 rows at ANY scale), then a
    keyed running-count window over the cells (tier-2 whitelisted:
    the window input is the day-domain aggregate, not the row stream).
    The type-1 quantile is min(lead_days | cum >= k) — identical to
    the value at rank k, since rank k always lands inside the selected
    value's tie block. A/B in BENCH_NOTES round-13c (the sweep flagged
    this op at ~10s, the second most expensive in the tree).
    """
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lead = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "lead_days"
        ),
    )
    cells = lead.groupBy("o_orderpriority", "lead_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wcum = (
        W.partitionBy("o_orderpriority")
        .orderBy("lead_days")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("o_orderpriority")
    cum = cells.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    picks = [
        F.min(
            F.when(
                F.col("cum")
                >= F.greatest(
                    F.lit(1).cast("bigint"), F.expr(f"(n * {q} + 99) div 100")
                ),
                F.col("lead_days"),
            )
        ).alias(f"p{q}_days")
        for q in PCTL_QS
    ]
    return (
        cum.groupBy("o_orderpriority")
        .agg(F.max("n").cast("bigint").alias("n"), *picks)
        .orderBy("o_orderpriority")
    )


def q_exact_percentiles_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact GLOBAL p25/p50/p75 of order totals WITHOUT a global sort —
    the bin-selection scale path that q_exact_percentiles' docstring
    (and q_exact_median's) reserves for groups too large to window:
    approxQuantile cut-points bin the value space (error only skews bin
    sizes), exact per-bin counts locate each target rank's bin
    driver-side (<= 33 numbers), and only those bins are sorted to
    extract the elements. At 100 TB each sorted bin is ~n/32 rows —
    recurse the same step if one bin is still too large.

    Type-1 quantiles: k = max(1, ceil(q*n/100)) — every surfaced value
    is an input value, no interpolation.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    n = orders.count()
    cuts = sorted(
        set(
            orders.approxQuantile(
                "o_totalprice",
                [i / MEDIAN_BINS for i in range(1, MEDIAN_BINS)],
                0.001,
            )
        )
    )
    bin_id = sum((F.col("o_totalprice") > F.lit(c)).cast("int") for c in cuts)
    binned = orders.withColumn("b", bin_id)
    counts = {
        int(r["b"]): int(r["cnt"])
        for r in binned.groupBy("b").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    pieces = []
    for q in PCTL_QS:
        k = max(1, -(-(n * q) // 100))  # ceil(n*q/100), pure ints
        before, target = 0, 0
        for b in sorted(counts):
            if before + counts[b] >= k:
                target = b
                break
            before += counts[b]
        picked = (
            binned.filter(F.col("b") == target)
            .orderBy("o_totalprice", "o_orderkey")
            .limit(k - before)
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").desc())
            .limit(1)
            .select(
                F.lit(q).alias("pct"),
                F.lit(n).cast("bigint").alias("n_rows"),
                F.col("o_totalprice").alias("value"),
            )
        )
        pieces.append(picked)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.orderBy("pct")


GROWTH_TOP_K = 50
GROWTH_MIN_BASE = 1_000_000  # >= 1.0 currency unit in the base month


def q_part_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top month-over-month part revenue growth: per (part, month)
    exact micro revenue, the previous month's via lag, growth in signed
    ppm — the BI mover report. Months are exact integers (year*12 +
    month-1), one part-keyed window, TakeOrdered top-K.

    Only months with a DIRECTLY PRECEDING month compare (gap months
    yield no row — a real gap is a relaunch, not growth); parts below
    GROWTH_MIN_BASE micro revenue in the base month are excluded so
    ppm growth isn't dominated by near-zero denominators.
    """
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    month = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("int")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_partkey", month.alias("m"))
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 1_000_000).cast("bigint")
            ).alias("rev_micros")
        )
    )
    w = W.partitionBy("l_partkey").orderBy("m")
    cur = rev.select(
        "l_partkey",
        "m",
        "rev_micros",
        F.lag("m").over(w).alias("prev_m"),
        F.lag("rev_micros").over(w).alias("prev_rev"),
    ).filter(
        (F.col("prev_m") == F.col("m") - 1)
        & (F.col("prev_rev") >= GROWTH_MIN_BASE)
    )
    return (
        cur.select(
            "l_partkey",
            "m",
            F.col("rev_micros").alias("rev_micros"),
            F.col("prev_rev").alias("prev_rev_micros"),
            F.expr(
                "CAST((CAST(rev_micros AS DECIMAL(38,0)) - prev_rev)"
                " * 1000000 div prev_rev AS BIGINT)"
            ).alias("growth_ppm"),
        )
        .orderBy(F.desc("growth_ppm"), "l_partkey", "m")
        .limit(GROWTH_TOP_K)
    )


def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK-relationship profile for the star schema's four joins: child
    rows, children with a matching parent, orphan count, distinct
    matched parents, and the max/avg fan-out per parent — the join-
    integrity report a migrator ships with every landed schema.

    Per relation: one left join + one aggregate (parent-side fan-out
    from the same grouped pass). Output is relation-count-sized.
    """
    rels = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ]
    pieces = []
    for name, child_t, ck, parent_t, pk in rels:
        child = load_table(spark, sf_dir, child_t).select(
            F.col(ck).alias("ck")
        )
        parent = load_table(spark, sf_dir, parent_t).select(
            F.col(pk).alias("pk")
        ).distinct()
        joined = child.join(parent, child.ck == parent.pk, "left")
        pieces.append(
            joined.agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).cast("bigint").alias("child_rows"),
                F.sum(F.when(F.col("pk").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("matched_rows"),
                F.sum(F.when(F.col("pk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("orphan_rows"),
                F.countDistinct(F.when(F.col("pk").isNotNull(), F.col("ck")))
                .cast("bigint")
                .alias("matched_parents"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select(
        "*",
        F.expr("matched_rows * 1000000 div child_rows").alias(
            "match_rate_ppm"
        ),
        F.expr(
            "CASE WHEN matched_parents = 0 THEN NULL"
            " ELSE matched_rows div matched_parents END"
        ).alias("avg_fanout_floor"),
    ).orderBy("relation")


QUERIES = {
    "q_customer_rfm": q_customer_rfm,
    "q_join_cardinality_audit": q_join_cardinality_audit,
    "q_part_growth": q_part_growth,
    "q_revenue_gini": q_revenue_gini,
    "q_lead_time_percentiles": q_lead_time_percentiles,
    "q_exact_percentiles_global": q_exact_percentiles_global,
    "q_skew_report": q_skew_report,
    "events_anomaly_zscore": events_anomaly_zscore,
    "q_exact_median": q_exact_median,
    "q_fuzzy_part_match": q_fuzzy_part_match,
    "q_expectation_checks": q_expectation_checks,
    "q_column_profile_drift": q_column_profile_drift,
    "q_exact_percentiles": q_exact_percentiles,
    "q_abc_classification": q_abc_classification,
    "q_benford_digits": q_benford_digits,
    "events_anomaly_mad": events_anomaly_mad,
    "q_price_histogram": q_price_histogram,
}

_SKEW_ONE = """
        SELECT '{table}' AS table_name, '{key}' AS key_name,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               COUNT(*) AS n_keys,
               MAX(c) AS max_per_key,
               CAST(SUM(c) AS DOUBLE) / COUNT(*) AS avg_per_key,
               CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c) AS skew_ratio
        FROM (SELECT {key}, COUNT(*) AS c FROM {table} GROUP BY {key})
    """

ORACLES = {
    "q_skew_report": " UNION ALL ".join(
        _SKEW_ONE.format(table=t, key=k)
        for t, k in (
            ("events", "user_id"),
            ("lineitem", "l_orderkey"),
            ("orders", "o_custkey"),
        )
    )
    + " ORDER BY table_name",
    "events_anomaly_zscore": f"""
        WITH q AS (SELECT event_id, user_id,
                          CAST(FLOOR(value * {Z_SCALE}.0) AS BIGINT) AS vq
                   FROM events),
             st AS (SELECT user_id, COUNT(*) AS n,
                           CAST(SUM(CAST(vq AS DECIMAL(38,0))) AS DOUBLE) AS s,
                           CAST(SUM(CAST(vq AS DECIMAL(38,0)) * CAST(vq AS DECIMAL(38,0))) AS DOUBLE) AS ss
                    FROM q GROUP BY user_id),
             m AS (SELECT user_id,
                          s / n AS mean_q,
                          sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)) AS std_q
                   FROM st)
        SELECT event_id, q.user_id,
               (vq - mean_q) / nullif(std_q, 0.0) AS z,
               abs(vq - mean_q) > {Z_SIGMA} * std_q AS is_outlier
        FROM q JOIN m ON q.user_id = m.user_id
        ORDER BY event_id
    """,
    "q_fuzzy_part_match": f"""
        WITH n AS (SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name),
             k AS (SELECT p_name, n_parts,
                          regexp_extract(p_name, '([^ ]+)$', 1) AS blk
                   FROM n)
        SELECT a.p_name AS name1, b.p_name AS name2,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist,
               a.n_parts AS n_parts_1, b.n_parts AS n_parts_2
        FROM k a JOIN k b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
        ORDER BY name1, name2
    """,
    "q_exact_median": """
        WITH s AS (SELECT o_totalprice AS v,
                          ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn
                   FROM orders),
             c AS (SELECT COUNT(*) AS n FROM orders)
        SELECT (SELECT v FROM s, c WHERE rn = (n + 1) // 2) AS median_price,
               (SELECT n FROM c) AS n_rows
    """,
    "q_expectation_checks": f"""
        WITH scan AS (
            SELECT
                CAST(COUNT(*) FILTER (l_orderkey IS NULL) AS BIGINT)
                    AS not_null_l_orderkey,
                CAST(COUNT(*) - COUNT(DISTINCT
                        COALESCE(CAST(l_orderkey AS VARCHAR), 'N') || '|' ||
                        COALESCE(CAST(l_partkey  AS VARCHAR), 'N') || '|' ||
                        COALESCE(CAST(l_suppkey  AS VARCHAR), 'N'))
                    AS BIGINT) AS unique_line_identity,
                CAST(COUNT(*) FILTER (l_discount NOT BETWEEN 0.0 AND 0.1)
                    AS BIGINT) AS range_l_discount,
                CAST(COUNT(*) FILTER (l_quantity NOT BETWEEN 1.0 AND 50.0)
                    AS BIGINT) AS range_l_quantity,
                CAST(COUNT(*) FILTER (l_returnflag NOT IN ('A','N','R'))
                    AS BIGINT) AS accepted_values_l_returnflag
            FROM lineitem),
        fk AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderkey IS NULL),
        checks AS (
            SELECT 'not_null_l_orderkey' AS check_name,
                   not_null_l_orderkey AS n_violations FROM scan
            UNION ALL
            SELECT 'unique_line_identity', unique_line_identity FROM scan
            UNION ALL
            SELECT 'range_l_discount', range_l_discount FROM scan
            UNION ALL
            SELECT 'range_l_quantity', range_l_quantity FROM scan
            UNION ALL
            SELECT 'accepted_values_l_returnflag',
                   accepted_values_l_returnflag FROM scan
            UNION ALL
            SELECT 'fk_lineitem_orders', n FROM fk)
        SELECT check_name, n_violations, n_violations = 0 AS passed
        FROM checks
        ORDER BY check_name
    """,
    "q_column_profile_drift": f"""
        WITH cells AS (
            SELECT CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_PIVOT}'
                        THEN 'old' ELSE 'new' END AS half,
                   s.column_name, s.val
            FROM orders,
                 UNNEST([
                     {{'column_name': 'o_orderstatus',
                       'val': o_orderstatus}},
                     {{'column_name': 'o_orderpriority',
                       'val': o_orderpriority}},
                     {{'column_name': 'o_custkey',
                       'val': CAST(o_custkey AS VARCHAR)}},
                     {{'column_name': 'o_totalprice_micros',
                       'val': CAST(CAST(FLOOR(o_totalprice * 1000000)
                                        AS BIGINT) AS VARCHAR)}}
                 ]) AS t(s)),
        prof AS (
            SELECT column_name, half,
                   CAST(COUNT(*) FILTER (val IS NULL) AS BIGINT) AS n_nulls,
                   COUNT(DISTINCT val) AS n_distinct,
                   MIN(val) AS min_val,
                   MAX(val) AS max_val
            FROM cells GROUP BY 1, 2),
        wide AS (
            SELECT column_name,
                   MAX(n_nulls) FILTER (half = 'old') AS old_nulls,
                   MAX(n_nulls) FILTER (half = 'new') AS new_nulls,
                   MAX(n_distinct) FILTER (half = 'old') AS old_distinct,
                   MAX(n_distinct) FILTER (half = 'new') AS new_distinct,
                   MAX(min_val) FILTER (half = 'old') AS old_min,
                   MAX(min_val) FILTER (half = 'new') AS new_min,
                   MAX(max_val) FILTER (half = 'old') AS old_max,
                   MAX(max_val) FILTER (half = 'new') AS new_max
            FROM prof GROUP BY column_name)
        SELECT *,
               -- The distinct-count delta CAN be negative; negative ``//``
               -- drifts across DuckDB versions (1.0 truncates, later
               -- floor) while Spark's div truncates — divide magnitudes,
               -- reapply the sign (r14 floordiv_probe).
               CASE WHEN new_distinct < old_distinct
                    THEN -(((old_distinct - new_distinct) * 1000000)
                           // old_distinct)
                    ELSE ((new_distinct - old_distinct) * 1000000)
                         // old_distinct
               END AS distinct_delta_ppm,
               old_min != new_min OR old_max != new_max AS minmax_changed
        FROM wide
        ORDER BY column_name
    """,
    "q_exact_percentiles": f"""
        WITH ranked AS (
            SELECT o_orderpriority, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS rk,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM orders)
        SELECT o_orderpriority,
               CAST(MAX(n) AS BIGINT) AS n,
               {", ".join(
                   f"MAX(CASE WHEN rk = GREATEST(1, (n * {q} + 99) // 100)"
                   f" THEN o_totalprice END) AS p{q}"
                   for q in PCTL_QS
               )}
        FROM ranked
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q_abc_classification": f"""
        WITH rev AS (
            SELECT c.c_nationkey, o.o_custkey,
                   SUM(CAST(FLOOR(o.o_totalprice * 1000000) AS BIGINT))
                       AS rev_micros
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2),
        ranked AS (
            SELECT c_nationkey, o_custkey, rev_micros,
                   SUM(rev_micros) OVER (
                       PARTITION BY c_nationkey
                       ORDER BY rev_micros DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_micros,
                   SUM(rev_micros) OVER (PARTITION BY c_nationkey)
                       AS tot_micros,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY rev_micros DESC, o_custkey) AS INTEGER)
                       AS rk
            FROM rev)
        SELECT c_nationkey, o_custkey, rk,
               -- rev_micros comes out of SUM() as HUGEINT; an uncast
               -- HUGEINT output column is the r7/r8 driver-red signature.
               CAST(rev_micros AS BIGINT) AS rev_micros,
               CAST(CAST(cum_micros AS HUGEINT) * 1000000 // tot_micros
                   AS BIGINT) AS cum_share_ppm,
               CASE WHEN CAST(cum_micros AS HUGEINT) * 1000000 // tot_micros
                        <= {ABC_A_PPM} THEN 'A'
                    WHEN CAST(cum_micros AS HUGEINT) * 1000000 // tot_micros
                        <= {ABC_B_PPM} THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
        ORDER BY c_nationkey, rk
    """,
    "q_benford_digits": f"""
        WITH counts AS (
            SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 1000000)
                       AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM orders GROUP BY 1),
        tot AS (SELECT SUM(n_obs) AS n_total FROM counts),
        benford(digit, benford_ppm) AS (VALUES
            {", ".join(f"({d}, {p})" for d, p in BENFORD_PPM.items())})
        SELECT c.digit, c.n_obs,
               -- CAST: n_total is HUGEINT (SUM promotion) and uncast
               -- HUGEINT output is the driver-red signature.
               CAST(c.n_obs * 1000000 // t.n_total AS BIGINT) AS obs_ppm,
               b.benford_ppm,
               CAST(ABS(c.n_obs * 1000000 // t.n_total - b.benford_ppm)
                   AS BIGINT) AS delta_ppm
        FROM counts c, tot t
        JOIN benford b ON b.digit = c.digit
        ORDER BY c.digit
    """,
    "q_exact_percentiles_global": f"""
        WITH ranked AS (
            SELECT o_totalprice,
                   ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey)
                       AS rk
            FROM orders),
        n AS (SELECT COUNT(*) AS n_rows FROM orders),
        t(pct) AS (SELECT unnest([{", ".join(str(q) for q in PCTL_QS)}]))
        SELECT t.pct,
               CAST(n.n_rows AS BIGINT) AS n_rows,
               (SELECT o_totalprice FROM ranked
                WHERE rk = GREATEST(1, -((-(n.n_rows * t.pct)) // 100)))
                   AS value
        FROM t, n
        ORDER BY t.pct
    """,
    "q_lead_time_percentiles": f"""
        WITH lead AS (
            SELECT o.o_orderpriority,
                   CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE)) AS INTEGER)
                       AS lead_days,
                   l.l_orderkey, l.l_partkey, l.l_suppkey
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        ranked AS (
            SELECT o_orderpriority, lead_days,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY lead_days, l_orderkey, l_partkey, l_suppkey)
                       AS rk,
                   COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
            FROM lead)
        SELECT o_orderpriority,
               CAST(MAX(n) AS BIGINT) AS n,
               {", ".join(
                   f"MAX(CASE WHEN rk = GREATEST(1, (n * {q} + 99) // 100)"
                   f" THEN lead_days END) AS p{q}_days"
                   for q in PCTL_QS
               )}
        FROM ranked
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q_join_cardinality_audit": """
        WITH rel AS (
            SELECT 'lineitem->orders' AS relation, l.l_orderkey AS ck,
                   o.o_orderkey AS pk
            FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON o.o_orderkey = l.l_orderkey
            UNION ALL
            SELECT 'lineitem->part', l.l_partkey, p.p_partkey
            FROM lineitem l
            LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
              ON p.p_partkey = l.l_partkey
            UNION ALL
            SELECT 'lineitem->supplier', l.l_suppkey, s.s_suppkey
            FROM lineitem l
            LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
              ON s.s_suppkey = l.l_suppkey
            UNION ALL
            SELECT 'orders->customer', o.o_custkey, c.c_custkey
            FROM orders o
            LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
              ON c.c_custkey = o.o_custkey),
        agg AS (
            SELECT relation,
                   CAST(COUNT(*) AS BIGINT) AS child_rows,
                   CAST(COUNT(pk) AS BIGINT) AS matched_rows,
                   CAST(COUNT(*) - COUNT(pk) AS BIGINT) AS orphan_rows,
                   CAST(COUNT(DISTINCT CASE WHEN pk IS NOT NULL THEN ck END)
                        AS BIGINT) AS matched_parents
            FROM rel GROUP BY relation)
        SELECT *,
               matched_rows * 1000000 // child_rows AS match_rate_ppm,
               CASE WHEN matched_parents = 0 THEN NULL
                    ELSE matched_rows // matched_parents END
                   AS avg_fanout_floor
        FROM agg
        ORDER BY relation
    """,
    "q_part_growth": f"""
        WITH rev AS (
            SELECT l.l_partkey,
                   CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
                        AS INTEGER) AS m,
                   SUM(CAST(FLOOR(l.l_extendedprice * 1000000) AS BIGINT))
                       AS rev_micros
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2),
        lagged AS (
            SELECT l_partkey, m, rev_micros,
                   LAG(m) OVER w AS prev_m,
                   LAG(rev_micros) OVER w AS prev_rev
            FROM rev
            WINDOW w AS (PARTITION BY l_partkey ORDER BY m))
        SELECT l_partkey, m,
               CAST(rev_micros AS BIGINT) AS rev_micros,
               CAST(prev_rev AS BIGINT) AS prev_rev_micros,
               CAST((CAST(rev_micros AS HUGEINT) - prev_rev) * 1000000
                    // prev_rev AS BIGINT) AS growth_ppm
        FROM lagged
        WHERE prev_m = m - 1 AND prev_rev >= {GROWTH_MIN_BASE}
        ORDER BY growth_ppm DESC, l_partkey, m
        LIMIT {GROWTH_TOP_K}
    """,
    "q_revenue_gini": """
        WITH rev AS (
            SELECT c.c_nationkey, o.o_custkey,
                   SUM(CAST(FLOOR(o.o_totalprice * 1000000) AS BIGINT)) AS y
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2),
        ranked AS (
            SELECT c_nationkey, y,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_nationkey ORDER BY y, o_custkey) AS i
            FROM rev),
        g AS (
            SELECT c_nationkey,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(y) AS BIGINT) AS sum_y,
                   SUM(CAST(i AS HUGEINT) * y) AS sum_iy
            FROM ranked GROUP BY c_nationkey)
        SELECT c_nationkey, n, sum_y AS sum_micros,
               CAST((2 * sum_iy - (n + 1) * CAST(sum_y AS HUGEINT))
                    * 1000000 // (CAST(n AS HUGEINT) * sum_y) AS BIGINT)
                   AS gini_ppm
        FROM g
        ORDER BY c_nationkey
    """,
    "q_customer_rfm": """
        WITH per AS (
            SELECT o.o_custkey, c.c_nationkey,
                   MAX(o.o_orderdate) AS last_order,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(FLOOR(o.o_totalprice * 1000000) AS BIGINT))
                        AS BIGINT) AS monetary_micros
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2),
        ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
        based AS (
            SELECT c_nationkey, o_custkey,
                   CAST(date_diff('day', CAST(last_order AS DATE),
                                  CAST(ref_date AS DATE)) AS INTEGER)
                       AS recency_days,
                   CAST(frequency AS BIGINT) AS frequency,
                   monetary_micros
            FROM per, ref)
        SELECT c_nationkey, o_custkey, recency_days, frequency,
               monetary_micros,
               CAST(NTILE(5) OVER (PARTITION BY c_nationkey
                   ORDER BY recency_days, o_custkey) AS INTEGER) AS r_score,
               CAST(NTILE(5) OVER (PARTITION BY c_nationkey
                   ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score,
               CAST(NTILE(5) OVER (PARTITION BY c_nationkey
                   ORDER BY monetary_micros DESC, o_custkey) AS INTEGER)
                   AS m_score,
               CAST(NTILE(5) OVER (PARTITION BY c_nationkey
                   ORDER BY recency_days, o_custkey) * 100
                   + NTILE(5) OVER (PARTITION BY c_nationkey
                     ORDER BY frequency DESC, o_custkey) * 10
                   + NTILE(5) OVER (PARTITION BY c_nationkey
                     ORDER BY monetary_micros DESC, o_custkey) AS INTEGER)
                   AS rfm_code
        FROM based
        ORDER BY c_nationkey, o_custkey
    """,
    "events_anomaly_mad": f"""
        WITH q AS (
            SELECT event_id, user_id,
                   CAST(FLOOR(value * 1000000) AS BIGINT) AS v_micro
            FROM events),
        r1 AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY v_micro, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM q),
        med AS (
            SELECT user_id,
                   MAX(CASE WHEN rn = (n + 1) // 2 THEN v_micro END)
                       AS med_micro
            FROM r1 GROUP BY user_id),
        devs AS (
            SELECT q.event_id, q.user_id, q.v_micro, m.med_micro,
                   ABS(q.v_micro - m.med_micro) AS dev_micro
            FROM q JOIN med m ON m.user_id = q.user_id),
        r2 AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY dev_micro, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM devs),
        mad AS (
            SELECT user_id,
                   MAX(CASE WHEN rn = (n + 1) // 2 THEN dev_micro END)
                       AS mad_micro
            FROM r2 GROUP BY user_id)
        SELECT d.event_id, d.user_id, d.v_micro, d.med_micro, a.mad_micro,
               d.dev_micro > {K_MAD} * a.mad_micro AS is_outlier
        FROM devs d JOIN mad a ON a.user_id = d.user_id
        ORDER BY d.event_id
    """,
    "q_price_histogram": f"""
        WITH v AS (
            SELECT CAST(FLOOR(o_totalprice * 1000000) AS BIGINT) AS v
            FROM orders)
        SELECT CAST(LEAST(v // {HIST_WIDTH_MICROS}, {HIST_BINS - 1})
                    AS INTEGER) AS bin,
               COUNT(*) AS n_orders,
               CAST(SUM(v) AS BIGINT) AS sum_micros,
               MIN(v) AS min_micros,
               MAX(v) AS max_micros
        FROM v
        GROUP BY 1
        ORDER BY bin
    """,
}
