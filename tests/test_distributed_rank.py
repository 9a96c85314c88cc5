"""distributed_rank must reproduce the single-partition window results
bit-exactly — rank, running DECIMAL sums, and closed-form NTILE, in both
the global and the keyed (partition_by) form — on data with heavy ties
(the case that breaks naive range binning)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window as W

from db_migrator_spark.operators.distributed_rank import (
    ntile_expr,
    quantile_cuts,
    with_global_rank,
    with_global_ranks,
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


_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def test_property_stacked_ranks_match_windows(spark):
    """Hypothesis sweep of ``with_global_ranks``: one to four orderings
    of one relation (the same column may appear in both directions)
    must each equal ROW_NUMBER() over its own keyed window under Spark's
    defaults — on NULL-heavy, tie-heavy integral data with Long.MIN and
    Long.MAX, one-row groups and a NULL partition key."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    value = st.one_of(
        st.none(),
        st.integers(min_value=-3, max_value=3),
        st.sampled_from([_LONG_MIN, _LONG_MAX]),
    )
    small = st.one_of(st.none(), st.integers(min_value=-2**31, max_value=2**31 - 1))

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @example(  # every edge at once, whatever the random draws hit
        rows=[
            (10, None, None, 0),
            (None, 3, 1, 0),
            (5, _LONG_MIN, -1, 0),
            (None, _LONG_MAX, 0, 1),
            (7, None, None, None),
            (10, 3, 1, 1),
            (_LONG_MIN, _LONG_MAX, 2**31 - 1, None),
            (_LONG_MAX, _LONG_MIN, -2**31, 2),
        ],
        orderings=[("a", False), ("b", True), ("a", True), ("c", True)],
        keyed=True,
    )
    @given(
        rows=st.lists(
            st.tuples(value, value, small, st.one_of(st.none(), st.integers(0, 3))),
            min_size=1,
            max_size=60,
        ),
        orderings=st.lists(
            st.tuples(st.sampled_from(["a", "b", "c"]), st.booleans()),
            min_size=1,
            max_size=3,
            unique=True,
        ),
        keyed=st.booleans(),
    )
    def run(rows, orderings, keyed):
        df = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)],
            "k long, a long, b long, c int, g long",
        )
        keys = ["g"] if keyed else []
        spec = W.partitionBy(*keys)
        named = [
            (col, desc, f"rn{i}", f"n{i}")
            for i, (col, desc) in enumerate(orderings)
        ]
        got = with_global_ranks(df, named, ["k"], partition_by=keys)
        assert got.columns == [*df.columns, *[c for _, _, r, n in named for c in (r, n)]]
        want = df.select(
            "*",
            *[
                F.row_number()
                .over(spec.orderBy(F.desc(c) if d else F.asc(c), "k"))
                .alias(r)
                for c, d, r, _ in named
            ],
            *[F.count(F.lit(1)).over(spec).alias(n) for _, _, _, n in named],
        )
        got_rows = sorted(got.collect(), key=lambda r: r.k)
        want_rows = sorted(want.collect(), key=lambda r: r.k)
        assert [r.asDict() for r in got_rows] == [
            r.asDict() for r in want_rows
        ]

    run()


def test_stacked_ranks_reject_non_integral_orderings(spark):
    df = spark.createDataFrame([(1, 1.5)], "k long, x double")
    with pytest.raises(TypeError, match="x is double"):
        with_global_ranks(df, [("x", False, "r", "n")], ["k"], partition_by=[])


def _py4j_commands(fn):
    """py4j commands the driver sends while ``fn`` runs, less the object
    deletes that Python's garbage collector sends whenever it runs."""
    from py4j.clientserver import ClientServerConnection

    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent[0] += not command.startswith("m\nd\n")
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        fn()
    finally:
        ClientServerConnection.send_command = send
    return sent[0]


def test_rank_bin_costs_constant_py4j_commands(spark):
    """The n_bins-term bin is one SQL expression: building the rank with
    31 cuts sends about as many py4j commands as with 1 cut (a per-cut
    Column chain sends several per cut)."""
    df = _fixture(spark)

    def build(cuts):
        return lambda: with_global_rank(df, "v", ["k"], cuts=cuts)

    build([0.5])()  # warm: first-call lookups are not the bin's cost
    one = _py4j_commands(build([0.5]))
    many = _py4j_commands(build([float(c) for c in range(31)]))
    assert many - one <= 5, (one, many)


def test_customer_rfm_build_jobs(spark):
    """``q_customer_rfm`` ranks its three orderings in one stacked pass:
    building it starts 10 Spark jobs on sf0.01 (the checkpointed
    customer aggregate, the quantile action, the bin-count checkpoint),
    where three nested rank levels started 33."""
    from test_byte_budget_oracle import SF

    from db_migrator_spark.operators.quality import q_customer_rfm

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    q_customer_rfm(spark, SF)
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 10
