"""Per-query wall-time comparison: Spark (our engine) vs DuckDB running the
oracle SQL, on the same parquet at the same scale factor.

    python tools/compare_duckdb.py [sf_dir] [query ...]

DuckDB is the strongest available single-node columnar baseline, far above
the reference's ~15k rows/s ETL anchor — queries within ~2x of DuckDB on
one node while being horizontally scalable are exactly where we want to be.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry_mod
    from db_migrator_spark.io import TABLES
    from db_migrator_spark.session import get_spark

    spark = get_spark("compare-duckdb")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # warm both engines
    qs["q6_forecast_revenue"](spark, sf_dir).collect()
    con.execute(oracles["q6_forecast_revenue"]).fetchall()

    rows = []
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        n_s = qs[name](spark, sf_dir).count()
        t_spark = time.perf_counter() - t0
        t0 = time.perf_counter()
        n_d = len(con.execute(sql).fetchall())
        t_duck = time.perf_counter() - t0
        rows.append((name, t_spark, t_duck, t_spark / max(t_duck, 1e-9), n_s, n_d))

    rows.sort(key=lambda r: -r[3])
    print(f"{'query':38s} {'spark':>7s} {'duck':>7s} {'ratio':>6s}")
    for name, ts, td, ratio, n_s, n_d in rows:
        flag = " <-- " if ratio > 3 else ""
        print(f"{name:38s} {ts:7.2f} {td:7.2f} {ratio:6.1f}{flag}")
    total_s = sum(r[1] for r in rows)
    total_d = sum(r[2] for r in rows)
    print(f"{'TOTAL':38s} {total_s:7.2f} {total_d:7.2f} {total_s/total_d:6.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
