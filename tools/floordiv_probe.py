"""Probe every oracle for sensitivity to DuckDB's ``//`` / ``%``
floor-vs-truncate semantics drift (VERDICT r13 #5).

DuckDB 1.0.0 (this sandbox) truncates integer ``//`` toward zero
(``(-7)//2 == -3``); other versions floor (``-4``) — the driver
environment has drifted before (r7/r8 reds, and the q1 r13 red is the
same failure class). The Spark side of every oracle-paired query uses
``div`` (documented truncation), so any oracle whose result depends on
the ``//``/``%`` semantics of the *negative-operand* case will go
driver-red the moment the driver's DuckDB floors.

Method: parse each oracle with ``json_serialize_sql``, rewrite every
``//`` node to an exact *floor*-division emulation (computable under
trunc semantics: ``(a - (((a % b) + b) % b)) // b``) and every ``%``
node to floor-mod (``((a % b) + b) % b``), deserialize, run both
versions at sf0.01, and hash-compare. A differing hash == the query
would change results under a floor-division DuckDB == driver-red risk.

Usage: python tools/floordiv_probe.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.verify_oracle import table_hash  # noqa: E402


def _wrap(fn: str, a: dict, b: dict) -> dict:
    """Build the floor-emulation AST node for ``a <fn> b``."""

    def op(name: str, x: dict, y: dict) -> dict:
        return {
            "class": "FUNCTION",
            "type": "FUNCTION",
            "alias": "",
            "query_location": 4294967295,
            "function_name": name,
            "schema": "",
            "children": [x, y],
            "filter": None,
            "order_bys": {"type": "ORDER_MODIFIER", "orders": []},
            "distinct": False,
            "is_operator": True,
            "export_state": False,
            "catalog": "",
        }

    # floor-mod: ((a % b) + b) % b  — exact under trunc-% for b > 0.
    fmod = op("%", op("+", op("%", a, b), json.loads(json.dumps(b))), json.loads(json.dumps(b)))
    if fn == "%":
        return fmod
    # floor-div: (a - fmod(a, b)) // b — the numerator is exactly
    # divisible, so trunc-// returns the floor quotient.
    return op("//", op("-", json.loads(json.dumps(a)), fmod), json.loads(json.dumps(b)))


def _transform(node):
    """Post-order rewrite of every // and % into floor emulation."""
    if isinstance(node, list):
        return [_transform(v) for v in node]
    if not isinstance(node, dict):
        return node
    out = {k: _transform(v) for k, v in node.items()}
    if out.get("class") == "FUNCTION" and out.get("function_name") in ("//", "%") \
            and len(out.get("children") or []) == 2:
        a, b = out["children"]
        repl = _wrap(out["function_name"], a, b)
        repl["alias"] = out.get("alias", "")
        return repl
    return out


def floored_sql(con, sql: str) -> str | None:
    """Return the floor-emulated rewrite of ``sql``, or None if it has no
    //, %, or can't be parsed (multi-statement pieces pass through)."""
    if "//" not in sql and "%" not in sql:
        return None

    def one(stmt: str) -> str | None:
        try:
            ast = json.loads(con.execute(
                "SELECT json_serialize_sql(?::VARCHAR)", [stmt]).fetchone()[0])
        except Exception:
            return None
        if ast.get("error"):
            return None
        ast2 = _transform(ast)
        if json.dumps(ast2) == json.dumps(ast):
            return stmt  # no // or % nodes — unchanged
        try:
            return con.execute(
                "SELECT json_deserialize_sql(?::JSON)", [json.dumps(ast2)]
            ).fetchone()[0]
        except Exception:
            return None

    whole = one(sql)
    if whole is not None:
        return whole
    # Multi-statement oracle (CREATE MACRO/TABLE + SELECT): split on ';'
    # at top level (our own SQL — no ';' inside string literals).
    pieces = [p for p in sql.split(";") if p.strip()]
    if len(pieces) <= 1:
        return None
    out = []
    for p in pieces:
        t = one(p)
        out.append(t if t is not None else p)
    return ";".join(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entry_mod
    from db_migrator_spark.io import TABLES

    oracles = entry_mod.oracle_sql()
    names = [n for n in oracles if not only or n in only]

    parse_con = duckdb.connect()
    sensitive, errors, clean = [], [], 0
    for name in names:
        sql = oracles[name]
        fsql = floored_sql(parse_con, sql)
        if fsql is None:
            clean += 1
            continue
        res = {}
        for tag, q in (("orig", sql), ("floor", fsql)):
            con = duckdb.connect()
            con.execute("SET temp_directory = '/tmp/duckdb_spill'")
            con.execute("SET max_temp_directory_size = '30GB'")
            for t in TABLES:
                path = f"{sf_dir}/{t}.parquet"
                if os.path.isdir(path):
                    path = f"{path}/*.parquet"
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            try:
                cur = con.execute(q)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                res[tag] = table_hash(cols, rows)
            except Exception as ex:
                res[tag] = f"ERR:{str(ex)[:90]}"
            con.close()
        if res["orig"] != res["floor"]:
            if res["floor"].startswith("ERR") or res["orig"].startswith("ERR"):
                errors.append((name, res))
                print(f"ERR   {name}: {res}")
            else:
                sensitive.append(name)
                print(f"DRIFT {name}: orig={res['orig']} floor={res['floor']}")
        else:
            print(f"ok    {name}")
    print(f"\n{len(sensitive)} floor-sensitive, {len(errors)} probe errors, "
          f"{clean} with no integer-div ops, {len(names)} total")
    if sensitive:
        print("sensitive:", sorted(sensitive))
    return 1 if sensitive else 0


if __name__ == "__main__":
    raise SystemExit(main())
