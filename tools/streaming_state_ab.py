"""A/B: HDFS-backed (in-JVM map) vs RocksDB state store provider for the
bounded streaming-dedup replay — the state-write-bound query identified in
docs/SCALING.md ("streaming at 10x": ~42k rows/s sustained, state-store
writes dominate).

Usage: python tools/streaming_state_ab.py [sf_dir] [repeats]

Each run replays the events fixture twice through
dropDuplicatesWithinWatermark (second pass 100% duplicates) and reports
wall seconds + rows/s per provider, interleaved, warm session.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_migrator_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from db_migrator_spark.io import load_table
    from db_migrator_spark.streaming.windows import streaming_dedup_events

    spark = get_spark("streaming-state-ab")
    n_events = load_table(spark, sf_dir, "events").count()
    rows_in = 2 * n_events  # fixture replayed twice

    # Warm-up (JVM + file listing) outside the measurement.
    streaming_dedup_events(spark, sf_dir).count()

    results: dict[str, list[float]] = {"hdfs": [], "rocksdb": []}
    for _ in range(repeats):
        for provider in ("hdfs", "rocksdb"):
            arg = None if provider == "hdfs" else provider
            t0 = time.time()
            out_rows = streaming_dedup_events(spark, sf_dir, state_store=arg).count()
            dt = time.time() - t0
            results[provider].append(dt)
            print(
                f"{provider:8s} {dt:6.2f}s  {rows_in / dt / 1000:8.1f}k rows/s"
                f"  (out={out_rows})",
                flush=True,
            )
    for provider, times in results.items():
        best = min(times)
        print(
            f"BEST {provider:8s} {best:6.2f}s  {rows_in / best / 1000:8.1f}k rows/s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
