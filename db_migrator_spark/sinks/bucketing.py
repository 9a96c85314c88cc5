"""Bucketed-table writes: shuffle-free co-located joins for repeated keys.

``bucketBy(n, key)`` + ``saveAsTable`` hashes rows into a fixed number of
buckets per key at WRITE time; any later equi-join or aggregation on that
key between tables bucketed the same way needs NO exchange — the classic
pre-shuffle investment for fact tables joined on the same key every day.
(tests/test_bucketing.py asserts the Exchange disappears from the plan.)

At 100 TB: bucket count should be sized so bucket_size ≈ 100-500 MB
(buckets are the unit of read parallelism for bucketed scans), and both
sides of the recurring join must use the same count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
) -> None:
    """Persist as a bucketed (optionally bucket-sorted) managed table."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)
