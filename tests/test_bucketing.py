"""Bucketed join: the Exchange must disappear when both sides are bucketed
on the join key with the same bucket count."""

import pyspark.sql.functions as F
import pytest

from db_migrator_spark.io import load_table
from db_migrator_spark.plans import plan_string
from db_migrator_spark.sinks.bucketing import write_bucketed

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark):
    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    write_bucketed(orders, "orders_b", ["o_orderkey"], 4, sort_by=["o_orderkey"])
    write_bucketed(li, "lineitem_b", ["l_orderkey"], 4, sort_by=["l_orderkey"])
    yield
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def _shuffle_exchanges(df) -> int:
    """Count shuffle exchanges (hashpartitioning), excluding broadcasts.
    Simple explain mode inlines the partitioning on the Exchange line."""
    plan = plan_string(df, "simple")
    return sum(1 for line in plan.splitlines() if "Exchange hashpartitioning" in line)


@pytest.fixture
def no_broadcast(spark):
    """Force a shuffle-family join so bucketing is observable on tiny data."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_shuffle(spark, bucketed, no_broadcast):
    o = spark.table("orders_b")
    l = spark.table("lineitem_b")
    joined = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
    plan = plan_string(joined)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Bucketed: true" in plan
    # co-located join: the ONLY shuffle is the final low-cardinality agg
    assert _shuffle_exchanges(joined) == 1, plan

    # and the result matches the unbucketed join
    o2 = load_table(spark, SF, "orders")
    l2 = load_table(spark, SF, "lineitem")
    want = sorted(
        map(tuple, l2.join(o2, l2.l_orderkey == o2.o_orderkey).groupBy("o_orderstatus").count().collect())
    )
    assert sorted(map(tuple, joined.collect())) == want


def test_unbucketed_join_has_shuffles(spark, no_broadcast):
    o = load_table(spark, SF, "orders")
    l = load_table(spark, SF, "lineitem")
    j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
    # baseline sanity: the plain join shuffles both sides + the agg
    assert _shuffle_exchanges(j) >= 3
