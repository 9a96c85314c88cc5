"""Skew utilities + layout writers: result-equivalence and pruning."""

import pyspark.sql.functions as F

from db_migrator_spark.io import load_table
from db_migrator_spark.operators.skew import salted_join, two_phase_agg
from db_migrator_spark.plans.inspect import plan_string
from db_migrator_spark.sinks.layout import write_partitioned

SF = "/root/testdata/sf0.01"


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF, "lineitem").limit(5000)
    part = load_table(spark, SF, "part").select("p_partkey", "p_brand")
    li = li.withColumnRenamed("l_partkey", "p_partkey")
    plain = li.join(part, "p_partkey").groupBy("p_brand").count()
    salted = salted_join(li, part, "p_partkey").groupBy("p_brand").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_spreads_hot_key(spark):
    # one key holds 90% of rows -> salted big side spreads it over salts
    hot = spark.range(0, 9000).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    cold = spark.range(0, 1000).select((F.col("id") % 50 + 2).alias("k"), F.col("id").alias("v"))
    big = hot.unionByName(cold)
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(1, 52)], "k long, name string")
    out = salted_join(big, small, "k")
    assert out.count() == 10000
    # equivalence with the plain join
    plain = big.join(small, "k")
    assert out.groupBy("k").count().orderBy("k").collect() == \
        plain.groupBy("k").count().orderBy("k").collect()


def test_two_phase_agg_matches_direct(spark):
    orders = load_table(spark, SF, "orders")
    direct = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("total"),
             F.count(F.lit(1)).alias("n"))
    )
    salted = two_phase_agg(orders, "o_custkey", "o_totalprice")
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, salted.collect()))


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF, "orders")
    write_partitioned(orders, path, partition_by=["o_orderstatus"], sort_by=["o_orderdate"])

    back = spark.read.parquet(path)
    assert back.count() == orders.count()

    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = plan_string(pruned)
    # partition filter is applied at planning time, not as a data filter
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan, plan
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert pruned.count() == want

    # partition dirs exist
    import os

    dirs = {d for d in os.listdir(path) if d.startswith("o_orderstatus=")}
    assert dirs == {"o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"}


def test_compact_dataset_merges_small_files(spark, tmp_path):
    """200 tiny files -> bytes-derived file count; rows survive; with
    sort_by the output files hold non-overlapping key ranges."""
    import os

    from db_migrator_spark.sinks.layout import compact_dataset

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    spark.range(20_000).selectExpr("id", "id % 97 AS k").repartition(200).write.parquet(src)
    n_in = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_in == 200

    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src) if f.endswith(".parquet")
    )
    target = max(1, total // 4)
    n_req = compact_dataset(spark, src, dst, sort_by=["id"], target_file_bytes=target)
    out_files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert len(out_files) == n_req <= 6
    back = spark.read.parquet(dst)
    assert back.count() == 20_000
    assert back.agg({"id": "sum"}).collect()[0][0] == sum(range(20_000))
    # non-overlapping ranges: per-file min/max from footers must not overlap
    import pyarrow.parquet as pq

    spans = []
    for f in out_files:
        md = pq.read_metadata(os.path.join(dst, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (spans,)
