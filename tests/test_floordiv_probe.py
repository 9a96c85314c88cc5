"""Pin the r14 oracle integer-division convention mechanically.

DuckDB 1.0 truncates negative integer ``//`` toward zero; later versions
floor. Spark's ``div`` truncates always. The r14 rule (docs/SCALE.md):
no oracle may let a negative-capable numerator reach bare ``//``/``%`` —
sign-factor into positive-operand division instead.
``tools/floordiv_probe.py`` audits this by rewriting every ``//``/``%``
to an exact FLOOR emulation and hash-diffing. These tests pin (a) the
emulation itself and (b) the seven oracles fixed in r14 staying
floor-insensitive on the fixture data that exposed them.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.floordiv_probe import floored_sql  # noqa: E402
from tools.verify_oracle import table_hash  # noqa: E402

SF = "/root/testdata/sf0.01"

# The oracles the r14 sf0.01 probe flagged and fixed — a regression here
# means someone reintroduced a negative-operand // or %.
FIXED = [
    "q_feature_correlations",
    "events_user_trend",
    "events_autocorrelation",
    "events_ab_significance",
    "q_column_profile_drift",
    "q_drift_effect_size",
    # graph_modularity is also fixed but its DuckDB side is the
    # heaviest in the set — the per-round tool run covers it.
]


def test_floor_emulation_matches_floor_semantics():
    """The rewrite turns trunc-division results into floor-division
    results under DuckDB 1.0's trunc semantics — exactly what a
    floor-division DuckDB would compute natively."""
    con = duckdb.connect()
    sql = "SELECT (-7) // 2 AS d, (-7) % 2 AS m, 7 // 2 AS pd, 7 % 2 AS pm"
    fsql = floored_sql(con, sql)
    assert fsql is not None and fsql != sql
    orig = con.execute(sql).fetchone()
    floor = con.execute(fsql).fetchone()
    # native 1.0 semantics: trunc
    assert orig == (-3, -1, 3, 1)
    # emulated floor semantics: floor div, floor mod
    assert floor == (-4, 1, 3, 1)


def test_no_op_when_no_integer_division():
    con = duckdb.connect()
    assert floored_sql(con, "SELECT 1 AS x") is None


@pytest.fixture(scope="module")
def oracles():
    import __spark_entry__ as entry_mod

    return entry_mod.oracle_sql()


@pytest.mark.skipif(
    not os.path.isdir(SF) and not os.path.exists(SF),
    reason="sf0.01 fixtures absent",
)
def test_fixed_oracles_floor_insensitive(oracles):
    """The r14-fixed oracles produce identical hashes under trunc
    and floor ``//`` on the sf0.01 data that originally exposed them."""
    from db_migrator_spark.io import TABLES
    parse_con = duckdb.connect()
    for name in FIXED:
        sql = oracles[name]
        fsql = floored_sql(parse_con, sql)
        assert fsql is not None, f"{name}: expected //-bearing oracle"
        hashes = {}
        for tag, q in (("orig", sql), ("floor", fsql)):
            con = duckdb.connect()
            for t in TABLES:
                p = f"{SF}/{t}.parquet"
                if os.path.isdir(p):
                    p = f"{p}/*.parquet"
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            cur = con.execute(q)
            cols = [d[0] for d in cur.description]
            hashes[tag] = table_hash(cols, cur.fetchall())
            con.close()
        assert hashes["orig"] == hashes["floor"], (
            f"{name} is floor-sensitive again — a negative-capable "
            "numerator reached bare // or % (see docs/SCALE.md r14 rule)"
        )
