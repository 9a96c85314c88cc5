"""distributed_rank must reproduce the single-partition window results
bit-exactly — rank, running DECIMAL sums, and closed-form NTILE, in both
the global and the keyed (partition_by) form — on data with heavy ties
(the case that breaks naive range binning)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql.window import Window as W

from db_migrator_spark.operators.distributed_rank import (
    ntile_expr,
    quantile_cuts,
    with_global_rank,
)


def _fixture(spark):
    # 997 rows, values with many ties (mod 37), negatives, and a skewed
    # hot value; key column for tiebreak; group column for keyed tests.
    return spark.range(0, 997).select(
        F.col("id").alias("k"),
        (F.when(F.col("id") % 5 == 0, 7).otherwise(F.col("id") % 37 - 11))
        .cast("bigint")
        .alias("v"),
        (F.col("id") % 4).alias("g"),
        (F.col("id") * 13 % 101).cast("bigint").alias("amt"),
    )


def test_global_rank_and_cumsum_match_window(spark):
    df = _fixture(spark)
    cuts = quantile_cuts(df, ["v"], n_bins=8)["v"]
    true_tot = df.select(F.sum("amt")).first()[0]
    for desc in (False, True):
        got = with_global_rank(
            df, "v", ["k"], cuts=cuts, descending=desc, cum_cols=("amt",)
        )
        order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
        w = W.orderBy(*order)
        want = df.select(
            "k",
            F.row_number().over(w).alias("rn_ref"),
            F.sum(F.col("amt").cast("decimal(38,0)"))
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("cum_ref"),
        )
        j = got.join(want, "k")
        assert (
            j.filter(
                (F.col("rn") != F.col("rn_ref"))
                | (F.col("cum_amt") != F.col("cum_ref"))
            ).count()
            == 0
        ), desc
        assert got.select(F.max("n_total")).first()[0] == 997
        tots = {r[0] for r in got.select("tot_amt").distinct().collect()}
        assert tots == {true_tot}, (desc, tots)


def test_keyed_rank_matches_partitioned_window(spark):
    df = _fixture(spark)
    cuts = quantile_cuts(df, ["v"], n_bins=8)["v"]
    got = with_global_rank(
        df, "v", ["k"], cuts=cuts, descending=True, partition_by=["g"]
    )
    w = W.partitionBy("g").orderBy(F.desc("v"), F.asc("k"))
    want = df.select("k", F.row_number().over(w).alias("rn_ref"))
    assert (
        got.join(want, "k").filter(F.col("rn") != F.col("rn_ref")).count()
        == 0
    )
    # per-group totals, not the global count
    totals = {r.g: r.n_total for r in got.select("g", "n_total").distinct().collect()}
    from collections import Counter

    expect = Counter(r.g for r in df.select("g").collect())
    assert totals == dict(expect)


def test_keyed_plan_mode_with_cum_matches_window(spark):
    """The keyed + cum_cols path — exactly what the
    production share-of-total queries use (q_abc_classification,
    eval_average_precision) — must match the partitioned window's rank,
    running sum, and group total."""
    df = _fixture(spark)
    cuts = quantile_cuts(df, ["v"], n_bins=8)["v"]
    got = with_global_rank(
        df, "v", ["k"], cuts=cuts, descending=True, partition_by=["g"],
        cum_cols=("amt",),
    )
    w = W.partitionBy("g").orderBy(F.desc("v"), F.asc("k"))
    want = df.select(
        "k",
        "g",
        F.row_number().over(w).alias("rn_ref"),
        F.sum(F.col("amt").cast("decimal(38,0)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_ref"),
        F.sum(F.col("amt").cast("decimal(38,0)"))
        .over(W.partitionBy("g"))
        .alias("tot_ref"),
    )
    j = got.join(want.drop("g"), "k")
    bad = j.filter(
        (F.col("rn") != F.col("rn_ref"))
        | (F.col("cum_amt") != F.col("cum_ref"))
        | (F.col("tot_amt") != F.col("tot_ref"))
    ).count()
    assert bad == 0


def test_null_values_rank_like_window(spark):
    """NULL value rows must neither vanish nor shift ranks: bin -1
    reproduces Spark's ASC NULLS FIRST / DESC NULLS LAST window
    defaults (the round-10 review's confirmed silent-drop bug)."""
    rows = [(1, 10), (2, None), (3, 5), (4, None), (5, 7)]
    df = spark.createDataFrame(rows, "k long, v long")
    for desc in (False, True):
        got = with_global_rank(df, "v", ["k"], cuts=[6.0], descending=desc)
        assert got.count() == 5, desc  # nothing dropped
        order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
        want = df.select("k", F.row_number().over(W.orderBy(*order)).alias("r"))
        bad = got.join(want, "k").filter(F.col("rn") != F.col("r")).count()
        assert bad == 0, desc


def test_ntile_expr_matches_builtin_ntile(spark):
    df = _fixture(spark)
    cuts = quantile_cuts(df, ["v"], n_bins=8)["v"]
    ranked = with_global_rank(df, "v", ["k"], cuts=cuts)
    for n in (2, 3, 5, 7, 1000, 2000):
        got = ranked.select("k", ntile_expr("rn", "n_total", n).alias("q"))
        want = df.select(
            "k", F.ntile(n).over(W.orderBy("v", "k")).alias("q_ref")
        )
        bad = got.join(want, "k").filter(F.col("q") != F.col("q_ref")).count()
        assert bad == 0, n  # incl. n > rows (each row its own bucket)


def test_no_unpartitioned_window_in_helper_plan(spark):
    from db_migrator_spark.plans.inspect import unbounded_global_windows

    df = _fixture(spark)
    cuts = quantile_cuts(df, ["v"], n_bins=8)["v"]
    out = with_global_rank(df, "v", ["k"], cuts=cuts, cum_cols=("amt",))
    assert unbounded_global_windows(out) == []


def test_property_rank_matches_window_on_random_data(spark):
    """Hypothesis sweep: arbitrary tie-heavy integer data, random bin
    counts, both directions, keyed and global, single and nested (rank
    -> lazy checkpoint -> rank) — the helper's ranks must equal
    row_number() over the equivalent windows every time."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vals=st.lists(
            st.integers(min_value=-50, max_value=50), min_size=1, max_size=120
        ),
        n_bins=st.integers(min_value=1, max_value=9),
        desc=st.booleans(),
        keyed=st.booleans(),
        nested=st.booleans(),
    )
    def run(vals, n_bins, desc, keyed, nested):
        df = spark.createDataFrame(
            [(i, v, i % 3, v * 7 % 13) for i, v in enumerate(vals)],
            "k long, v long, g long, w long",
        )
        cuts = quantile_cuts(df, ["v", "w"], n_bins=n_bins)
        keys = ["g"] if keyed else []
        spec = W.partitionBy(*keys) if keys else W
        got = with_global_rank(
            df, "v", ["k"], cuts=cuts["v"], descending=desc, partition_by=keys
        )
        order = [F.desc("v") if desc else F.asc("v"), F.asc("k")]
        want = df.select(
            "k", F.row_number().over(spec.orderBy(*order)).alias("rn_ref")
        )
        bad = F.col("rn") != F.col("rn_ref")
        if nested:
            # Second rank over the checkpointed first level, opposite
            # direction, against the second window over the raw input.
            got = with_global_rank(
                got.localCheckpoint(eager=False), "w", ["k"],
                cuts=cuts["w"], descending=not desc, partition_by=keys,
                rank_col="rn2", total_col="n2",
            )
            order2 = [F.asc("w") if desc else F.desc("w"), F.asc("k")]
            want = want.join(
                df.select(
                    "k",
                    F.row_number().over(spec.orderBy(*order2)).alias("rn2_ref"),
                ),
                "k",
            )
            bad = bad | (F.col("rn2") != F.col("rn2_ref"))
        assert got.count() == len(vals)
        assert got.join(want, "k").filter(bad).count() == 0

    run()


def test_keyed_rank_keeps_null_key_groups(spark):
    """r10 ADVICE: a NULL partition key is a real group under a keyed
    window (NULLs group together); the offsets equi-joins must be
    null-safe or those rows silently vanish. Pin bit-exact parity with
    the keyed window on a fixture whose key column contains NULLs."""
    df = _fixture(spark).withColumn(
        "gn", F.when(F.col("g") == 2, None).otherwise(F.col("g"))
    )
    cuts = quantile_cuts(df, ["v"], n_bins=8)["v"]
    got = with_global_rank(
        df, "v", ["k"], cuts=cuts, partition_by=["gn"], cum_cols=("amt",)
    )
    assert got.count() == df.count(), "rows dropped"
    w = W.partitionBy("gn").orderBy(F.asc("v"), F.asc("k"))
    want = df.select(
        "k",
        F.row_number().over(w).alias("rn_ref"),
        F.sum(F.col("amt").cast("decimal(38,0)"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_ref"),
    )
    bad = (
        got.join(want, "k")
        .filter(
            (F.col("rn") != F.col("rn_ref"))
            | (F.col("cum_amt") != F.col("cum_ref"))
        )
        .count()
    )
    assert bad == 0, "keyed NULL-group mismatch"
