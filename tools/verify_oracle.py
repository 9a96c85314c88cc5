"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive value hash (rows stringified, columns sorted by
name, rows sorted). Usage:

    python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

# This file's own checkout: perfbench imports this module from the checkout
# it measures, which need not be the only copy of the package on the machine.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def normalize(val) -> str:
    import datetime
    import math

    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(val)
    if isinstance(val, (datetime.datetime, datetime.date)):
        return val.isoformat()
    if isinstance(val, list):
        return "[" + ",".join(normalize(v) for v in val) + "]"
    if isinstance(val, (bytes, bytearray)):
        return val.hex()
    return str(val)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    strs = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for s in strs:
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry_mod
    from db_migrator_spark.session import get_spark

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # A requested name that is not declared (a typo) must fail the run,
    # not shrink it to "0/0 passed"; checked before the JVM starts.
    unknown = sorted(only - set(qs))
    for name in unknown:
        print(f"FAIL  {name}: not a declared query")
    if unknown:
        return 1

    spark = get_spark("verify-oracle")
    con = duckdb.connect()
    # Spills land in a bounded scratch dir, never the repo cwd (a
    # runaway oracle plan once left 38 GB in ./.tmp — round 11b).
    con.execute("SET temp_directory = '/tmp/duckdb_spill'")
    con.execute("SET max_temp_directory_size = '30GB'")
    from db_migrator_spark.io import TABLES

    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written datasets are directories
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    # Oracle-loss guard: a query that EVER hash-checked in a driver
    # CORRECTNESS artifact must still declare an oracle. Without this, a
    # silently-dropped ORACLES entry (a bad patch, a refactor) degrades
    # to the weaker rows-only check and still "passes" — exactly how
    # five analytics oracles went missing mid-round-7.
    import glob
    import json

    ever_oracled: set[str] = set()
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for k, v in data.items():
            if isinstance(v, dict) and v.get("err") != "no_oracle" and v.get("hash_match"):
                ever_oracled.add(k)
    lost = sorted(ever_oracled & set(qs) - set(oracles))

    failed = list(lost)
    for name in lost:
        print(f"FAIL  {name}: oracle REGRESSED to rows-only (previously hash-checked)")
    ran = len(lost)  # guard failures count as executed checks
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} != {sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if not problems:
            sh, dh = table_hash(scols, srows), table_hash(dcols, drows)
            if sh != dh:
                problems.append(f"hash {sh} != {dh}")
                for a, b in list(zip(sorted(map(str, srows)), sorted(map(str, drows))))[:200]:
                    if a != b:
                        problems.append(f"  first diff:\n  spark: {a}\n  duck : {b}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:3]))
            failed.append(name)
        else:
            print(f"OK    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    # Summary counts only queries actually executed this invocation — a
    # filtered run must not claim full-surface coverage (r7 ADVICE).
    suffix = "" if not only else f" (filtered; {len(qs)} declared)"
    print(f"\n{ran - len(failed)}/{ran} passed{suffix}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
