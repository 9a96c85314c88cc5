"""Parquet table loading for the synthetic TPC-H-ish corpus.

The fixture tables (see TESTDATA.md) live as one parquet file per table in a
scale-factor directory. ``load_table`` is the single normalization point:

- ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark cannot
  represent natively; with ``spark.sql.legacy.parquet.nanosAsLong`` it reads
  as nanoseconds-since-epoch (bigint) and is converted here to a microsecond
  ``timestamp_ntz`` — identical truncation to DuckDB's ``CAST(ts AS
  TIMESTAMP)``.

Scale notes: a plain ``spark.read.parquet`` keeps every Catalyst scan
optimization on the table (column pruning, predicate pushdown into the
parquet footer, partition-file splitting by ``maxPartitionBytes``), so the
same loader serves sf0.001 and 100 TB — only the file listing grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing physical quirks.

    Dimension tables (region/nation) are tiny at every scale factor — join
    sides coming from here should be wrapped in ``F.broadcast`` by callers.
    """
    if name == "events":
        configure(spark)  # ensure nanosAsLong before schema resolution
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns -> us truncating division, matching DuckDB CAST(ts AS TIMESTAMP).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return df


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Guarantee at least the cluster's parallelism ahead of CPU-heavy
    map work (guide §2.5 input parallelism).

    A fixture-scale base table arrives as ONE scan task (one small
    parquet file holding one row group — no file-split config can break
    a single row group apart), so everything fused into the scan stage
    (word/shingle explodes, per-word md5, vectorized-UDF matmuls,
    decode) runs serially regardless of core count. One hash
    repartition on the table's unique key spreads the narrow base rows
    across ``defaultParallelism`` partitions for the price of shuffling
    the (small) base table once. Scale-adaptive by construction: when
    the scan already carries >= defaultParallelism partitions — any
    production-sized input — this is the identity and adds nothing to
    the plan. Callers apply it ONLY where the pre-shuffle map work is
    the measured wall (see OPTIMIZATION_r14.md); a cheap scan->filter->
    aggregate pipeline is faster without the extra exchange."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *keys) if keys else df.repartition(target)


def ngram_explode(
    df: DataFrame, ws_col: str, n: int, out: str, *keep: str
) -> DataFrame:
    """One row per word n-gram POSITION (duplicates kept): ``(keep...,
    out)`` where ``out`` is the space-joined length-``n`` window of the
    array column ``ws_col``; rows with fewer than ``n`` words emit
    nothing.

    Round 15 (guide §1.2 per-task work): built with ``arrays_zip`` over
    ``n`` shifted ``slice``s + one codegen'd Generate — NOT a
    higher-order ``transform`` lambda, which Spark evaluates INTERPRETED
    per element (and which re-evaluates non-trivial child expressions
    like ``split(text)`` per element when referenced inside the lambda).
    Identical value multiset to the lambda form (count + checksum
    parity, -30% wall at sf0.1 on the 3-gram build; OPTIMIZATION_r15.md,
    "io.ngram_explode")."""
    size = F.size(F.col(ws_col))
    zipped = F.arrays_zip(
        *[
            F.slice(F.col(ws_col), k + 1, size - (n - 1)).alias(f"w{k}")
            for k in range(n)
        ]
    )
    return (
        df.filter(size >= n)
        .select(*keep, F.explode(zipped).alias("_zg"))
        .select(
            *keep,
            F.concat_ws(" ", *[f"_zg.w{k}" for k in range(n)]).alias(out),
        )
    )


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views for the SQL API path."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
