"""Output-type audit across every declared query/oracle pair.

Theory under test (round 9): the external driver's 8 deterministic
hash-red rows are exactly the queries whose ORACLE result carries a
column DuckDB types as HUGEINT or DECIMAL (SUM(BIGINT) -> HUGEINT,
``x // HUGEINT`` -> HUGEINT), or whose output column types differ
between the Spark and DuckDB sides. A pandas/arrow-based comparator
degrades those asymmetrically (HUGEINT -> float64/decimal object on
the oracle side while Spark stays int64), flipping the value hash
while row counts and column names still match.

Usage: python tools/type_scan.py [sf_dir]

Prints one line per query with a RISK flag, then the cross-reference
against the driver's CORRECTNESS_r*.json history: theory holds iff
{risk} ∩ {driver-checked} == {driver-red}.
"""

from __future__ import annotations

import glob
import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

# Arrow type names as rendered by str(pa.DataType).
SAFE_DUCK = {"INT64", "INT32", "INT16", "INT8", "STRING", "LARGE_STRING",
             "BOOL", "DOUBLE", "FLOAT", "DATE32[DAY]"}

SPARK_EQ = {
    "INT64": {"bigint"},
    "INT32": {"int"},
    "INT16": {"smallint"},
    "INT8": {"tinyint"},
    "STRING": {"string"},
    "LARGE_STRING": {"string"},
    "BOOL": {"boolean"},
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "DATE32[DAY]": {"date"},
}


def driver_history() -> dict[str, tuple[int, bool]]:
    last: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
        rnd = int("".join(c for c in os.path.basename(path) if c.isdigit()))
        try:
            data = json.load(open(path))
        except Exception:
            continue
        for k, v in data.items():
            if not isinstance(v, dict) or v.get("err") == "no_oracle":
                continue
            green = bool(v.get("rows_match")) and bool(v.get("schema_match")) \
                and v.get("hash_match") is not False
            prev = last.get(k)
            if prev is None or rnd >= prev[0]:
                last[k] = (rnd, green)
    return last


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import duckdb

    import __spark_entry__ as entry_mod
    from db_migrator_spark.io import TABLES
    from db_migrator_spark.session import get_spark

    spark = get_spark("type-scan")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    risky: dict[str, list[str]] = {}
    for name in qs:
        if name not in oracles:
            continue
        flags: list[str] = []
        try:
            tab = con.execute(oracles[name]).fetch_arrow_table()
            dtypes = {f.name: str(f.type) for f in tab.schema}
            nullcols = [c for c in tab.column_names
                        if tab.column(c).null_count > 0]
        except Exception as e:
            flags.append(f"duck_error:{e}")
            dtypes, nullcols = {}, []
        try:
            scm = {f.name: f.dataType.simpleString()
                   for f in qs[name](spark, sf_dir).schema.fields}
        except Exception as e:
            flags.append(f"spark_error:{e}")
            scm = {}
        for col, dt in dtypes.items():
            base = dt.upper()
            if base not in SAFE_DUCK:
                flags.append(f"duck:{col}:{dt}")
            elif col in scm and base in SPARK_EQ \
                    and scm[col] not in SPARK_EQ[base]:
                flags.append(f"xtype:{col}:{dt}!={scm[col]}")
        for col, st in scm.items():
            if st.startswith("decimal"):
                flags.append(f"spark:{col}:{st}")
        for col in nullcols:
            flags.append(f"null:{col}")
        if flags:
            risky[name] = flags
            print(f"RISK  {name}: {'; '.join(flags)}")
        else:
            print(f"clean {name}")

    hist = driver_history()
    risk_hard = {n for n, fl in risky.items()
                 if any(f.startswith(("duck:", "spark:", "xtype:")) for f in fl)}
    reds = {n for n, (_r, g) in hist.items() if not g}
    checked = set(hist)
    print("\n=== cross-reference ===")
    print(f"hard-risk (type asymmetry): {len(risk_hard)}")
    print(f"driver-checked: {len(checked)}, driver-red: {sorted(reds)}")
    print(f"risk ∩ checked: {sorted(risk_hard & checked)}")
    print(f"red - risk (theory misses): {sorted(reds - risk_hard)}")
    print(f"(risk ∩ checked) - red (theory overshoots): "
          f"{sorted((risk_hard & checked) - reds)}")
    print(f"never-checked risk (future reds if unfixed): "
          f"{sorted(risk_hard - checked)}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
