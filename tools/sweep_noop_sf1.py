"""Round-15 sweep-mining pass (VERDICT r14 #6): Spark-side-only noop
walls for EVERY declared query at a given SF — no DuckDB oracle in the
number, so a Spark-side scale problem cannot hide behind a slow oracle
(the r14 lesson; its three biggest real finds were all outside the
bench surface).

Usage: python tools/sweep_noop_sf1.py [sf_dir] [out_json]
Prints "name seconds" per query (cold within a shared warm session) and
writes a JSON {name: sec} table sorted descending.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sweep_noop_sf1.json"
    import __spark_entry__ as em
    from db_migrator_spark.session import get_spark

    spark = get_spark("sweep-noop")
    qs = em.queries()
    # generic warm-up
    qs["q6_forecast_revenue"](spark, sf_dir).count()
    walls: dict[str, float] = {}
    for name in sorted(qs):
        spark.sparkContext.setJobDescription(f"sweep {name}")
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            walls[name] = round(dt, 2)
            print(f"{name} {dt:.2f}", flush=True)
        except Exception as exc:
            print(f"{name} ERROR {type(exc).__name__}: {exc}", flush=True)
            walls[name] = -1.0
    with open(out_path, "w") as fh:
        json.dump(
            dict(sorted(walls.items(), key=lambda kv: -kv[1])), fh, indent=1
        )
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
