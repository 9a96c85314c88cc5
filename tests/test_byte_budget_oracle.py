"""Byte-budget sink VALUE-level oracle: execute the rendered INSERT packets
in DuckDB and compare the reassembled table against DuckDB's own read of the
source parquet.

The packet-splitting rules are pinned in tests/test_byte_budget.py
(reference mock parity); this file checks the *rendered literals* — every
value that ``common.rendering.render_literal`` emits must parse back in a
second engine to exactly the value the migration cast plan produced.
"""

import os
import uuid

import duckdb

SF = "/root/testdata/sf0.01"


def _collect_packets(spark, tmp_path, table):
    from db_migrator_spark.migrate.queries import _migration_select
    from db_migrator_spark.migrate.schema_mapper import map_schema
    from db_migrator_spark.migrate.type_registry import TypeRegistry
    from db_migrator_spark.sinks.byte_budget import write_with_byte_budget
    from db_migrator_spark.sources.parquet_source import ParquetExtractor

    df = _migration_select(spark, SF, table)
    extractor = ParquetExtractor(spark, SF)
    target = map_schema(
        TypeRegistry.with_defaults(), table, extractor.get_table_schema(table), True
    )
    out = tmp_path / f"stmts_{table}"
    out.mkdir()
    out_dir = str(out)

    def execute(stmt: str) -> None:
        with open(os.path.join(out_dir, f"{uuid.uuid4().hex}.sql"), "w") as f:
            f.write(stmt)

    write_with_byte_budget(df, table, target, 64_000, execute)
    return [p.read_text() for p in sorted(out.iterdir())]


def _replay_and_compare(packets, create_sql, got_select, oracle_select):
    con = duckdb.connect()
    con.execute(create_sql)
    for stmt in packets:
        # translate only the identifier-bearing prefix (MySQL backticks ->
        # standard double quotes); VALUES literals are engine-portable
        head, sep, vals = stmt.partition(" VALUES ")
        con.execute(head.replace("`", '"') + sep + vals)
    got = con.execute(got_select + " ORDER BY ALL").fetchall()
    want = con.execute(oracle_select + " ORDER BY ALL").fetchall()
    assert len(got) == len(want) and got == want


# Float columns replay into DOUBLE and compare as REAL (the target MySQL
# column's own precision). A MySQL server parses an unquoted float literal
# as a C double, preserving the rendered float32 value exactly; DuckDB
# instead types bare numeric literals as DECIMAL, whose conversions wobble
# ~1e-14 relative (decimal mantissa > 2^53) — far below a float32 ulp, so
# casting both sides to REAL compares the faithful values while any real
# rendering bug (>= 1 float32 ulp) still fails.


def test_customer_packets_replay_exactly(spark, tmp_path):
    packets = _collect_packets(spark, tmp_path, "customer")
    assert packets and all(10 + len(p.encode()) <= 64_000 for p in packets)
    _replay_and_compare(
        packets,
        "CREATE TABLE customer (c_custkey BIGINT, c_name VARCHAR, "
        "c_nationkey BIGINT, c_acctbal DOUBLE, c_mktsegment VARCHAR)",
        "SELECT c_custkey, c_name, c_nationkey, CAST(c_acctbal AS REAL), "
        "c_mktsegment FROM customer",
        "SELECT c_custkey, c_name, c_nationkey, CAST(c_acctbal AS REAL), "
        f"c_mktsegment FROM read_parquet('{SF}/customer.parquet')",
    )


def test_orders_packets_replay_exactly(spark, tmp_path):
    packets = _collect_packets(spark, tmp_path, "orders")
    assert packets
    _replay_and_compare(
        packets,
        "CREATE TABLE orders (o_orderkey BIGINT, o_custkey BIGINT, "
        "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
        "o_orderpriority VARCHAR)",
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CAST(o_totalprice AS REAL), o_orderdate, o_orderpriority FROM orders",
        "SELECT o_orderkey, o_custkey, o_orderstatus, "
        "CAST(o_totalprice AS REAL), o_orderdate, o_orderpriority "
        f"FROM read_parquet('{SF}/orders.parquet')",
    )
