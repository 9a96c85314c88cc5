"""Output-layout writers: partitioned and sorted parquet datasets.

At 100 TB the write layout IS the read performance of every downstream
query: partition directories give free partition pruning on the partition
key; per-file sorting gives parquet min/max row-group skipping on the sort
key; controlled file counts avoid the small-file problem.

``write_partitioned`` = repartition on the partition columns (one shuffle,
one file per partition-dir per task) + ``sortWithinPartitions`` +
``partitionBy``. The reader-side payoff (partition pruning) is asserted in
tests/test_skew_layout.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    files_per_partition: int = 1,
) -> None:
    """Partition-pruned, row-group-skippable parquet dataset.

    repartition on the partition key routes each output directory's rows to
    a bounded number of tasks (avoids the every-task-writes-every-partition
    small-file explosion); ``files_per_partition > 1`` adds a row-fingerprint
    salt to the repartition key so a hot partition value genuinely splits
    across that many tasks/files (hashing only the partition columns would
    still send each value to a single task). sortWithinPartitions orders
    rows so parquet row-group stats are tight on the sort key.
    """
    from pyspark.sql import functions as F

    if files_per_partition == 1:
        out = df.repartition(*partition_by)
        drop_cols: list[str] = []
    else:
        salt = (
            F.abs(F.xxhash64(*[F.col(c) for c in df.columns])) % files_per_partition
        ).alias("__file_split")
        out = df.withColumn("__file_split", salt).repartition(*partition_by, "__file_split")
        drop_cols = ["__file_split"]
    if sort_by:
        out = out.sortWithinPartitions(*partition_by, *sort_by)
    if drop_cols:
        out = out.drop(*drop_cols)
    out.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def compact_dataset(
    spark: SparkSession,
    src: str,
    dst: str,
    sort_by: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ~``target_file_bytes`` files, optionally range-sorted.

    The small-file problem is the classic streaming/incremental-sink
    pathology (a foreachBatch or per-batch append leaves thousands of tiny
    files; driver memory and scan planning both degrade with file count).
    Compaction = one distributed read + one write with a file count sized
    from the dataset's actual on-disk bytes:

    - file count = ceil(input_bytes / target); input bytes come from the
      source file listing (driver-side metadata, no data read).
    - with ``sort_by``: ``repartitionByRange`` on the sort key, so output
      files are non-overlapping key ranges and parquet min/max row-group
      stats give read-side range pruning (poor man's clustering).
    - without: round-robin ``repartition(n)`` for even file sizes.

    Returns the number of output files requested. Runs as a plain batch
    job — on a real deployment this is the maintenance task scheduled
    between streaming micro-batches (Delta OPTIMIZE's moral equivalent,
    expressed with stock Spark).
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src)
    if sort_by:
        out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst)
    return n_files
