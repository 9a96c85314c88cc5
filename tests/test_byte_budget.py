"""Byte-budget batching — reference scenarios src/migrate/tests.rs:474-592 —
plus the column renderers and the distributed write, pinned against the
per-value spec (``common.rendering.render_literal`` / ``render_row``)."""

import datetime as dt
import itertools
import os
import time
from decimal import Decimal
from pathlib import Path
from zoneinfo import ZoneInfo

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from db_migrator_spark.common.mssql_types import MssqlType
from db_migrator_spark.common.mysql_types import MySqlBaseType, MySqlType
from db_migrator_spark.common.rendering import render_literal
from db_migrator_spark.common.schema import ColumnSchema, TargetColumn
from db_migrator_spark.migrate.ddl import build_insert_statement
from db_migrator_spark.migrate.migrator import DatabaseMigrator
from db_migrator_spark.migrate.schema_mapper import map_schema
from db_migrator_spark.migrate.type_registry import TypeRegistry
from db_migrator_spark.sinks.byte_budget import (
    assemble_batches,
    render_column,
    render_row,
    write_with_byte_budget,
)
from db_migrator_spark.sources.parquet_source import ParquetExtractor
from test_byte_budget_oracle import SF


def test_empty_input_yields_nothing():
    assert list(assemble_batches("INSERT INTO `t` (`x`) VALUES", [], 100)) == []


def test_single_batch_content():
    rows = [render_row([1, "alice"]), render_row([2, "o'brien"])]
    batches = list(assemble_batches("INSERT INTO `Users` (`id`, `name`) VALUES", rows, 1_000_000))
    assert batches == [
        ("INSERT INTO `Users` (`id`, `name`) VALUES (1, 'alice'), (2, 'o''brien')", 2)
    ]


def test_multi_batch_split_at_tiny_budget():
    """The reference's tiny-budget scenario: rows split across multiple
    packets, all rows delivered, order preserved, and every multi-row
    packet's FULL statement (prefix included, reference parity) fits the
    budget."""
    prefix = "INSERT INTO `t` (`x`) VALUES"
    budget = len(prefix) + 1 + 10 + 12  # room for ~2 tiny rows of values
    rows = [render_row([i]) for i in range(10)]
    batches = list(assemble_batches(prefix, rows, budget))
    assert len(batches) > 1
    assert sum(n for _, n in batches) == 10
    for stmt, n in batches:
        assert 10 + len(stmt.encode()) <= budget or n == 1
    # reassembled order preserved
    joined = ", ".join(s.removeprefix(prefix + " ") for s, _ in batches)
    assert joined == ", ".join(f"({i})" for i in range(10))


def test_oversized_single_row_still_flushes():
    prefix = "INSERT INTO `t` (`x`) VALUES"
    big = render_row(["x" * 200])
    batches = list(assemble_batches(prefix, [big], 50))
    assert len(batches) == 1 and batches[0][1] == 1


def test_distributed_write(spark, tmp_path):
    """Distributed path: every row lands in some packet; packets execute
    per partition (collected via files, since executors can't append to a
    driver list)."""
    out = tmp_path / "stmts"
    out.mkdir()
    df = spark.createDataFrame([(i, f"name{i}") for i in range(100)], "id int, name string")
    df = df.repartition(4)
    registry = TypeRegistry.with_defaults()
    cols = [
        ColumnSchema("id", MssqlType.INT, is_nullable=False),
        ColumnSchema("name", MssqlType.VARCHAR, character_maximum_length=50),
    ]
    target = map_schema(registry, "t", cols, False)

    out_dir = str(out)

    def execute(stmt: str) -> None:
        import os
        import uuid

        with open(os.path.join(out_dir, f"{uuid.uuid4().hex}.sql"), "w") as f:
            f.write(stmt)

    write_with_byte_budget(df, "t", target, 200, execute)

    import re

    rows_seen = set()
    for p in out.iterdir():
        stmt = p.read_text()
        assert stmt.startswith("INSERT INTO `t` (`id`, `name`) VALUES ")
        assert 10 + len(stmt.encode()) <= 200  # full statement fits the budget
        rows_seen.update(int(m) for m in re.findall(r"\((\d+), ", stmt))
    assert rows_seen == set(range(100))


@pytest.mark.parametrize("budget, rows_per_packet", [(90, [1, 1, 1]), (130, [2, 1])])
def test_budget_counts_utf8_bytes(budget, rows_per_packet):
    """``max_allowed_packet`` counts bytes: each ``('é' * 20)`` row is 24
    characters but 44 UTF-8 bytes. Counting characters put two rows (79
    characters, 119 bytes) into a 90-byte packet."""
    prefix = "INSERT INTO `t` (`x`) VALUES"
    rows = [render_row(["é" * 20])] * 3
    batches = list(assemble_batches(prefix, rows, budget))
    assert [n for _, n in batches] == rows_per_packet
    for stmt, n in batches:
        assert 10 + len(stmt.encode()) <= budget or n == 1


# ------------------------------------------------------- column renderers
def _decimal_column():
    """A ``decimal(p,s)`` type with values of exactly scale ``s``."""

    def values(ps):
        p, s = ps
        digits = st.integers(-(10**p - 1), 10**p - 1)
        return st.tuples(
            st.just(pa.decimal128(p, s)),
            st.lists(st.none() | digits.map(lambda n: Decimal(f"{n}E-{s}"))),
        )

    precision_scale = st.integers(1, 38).flatmap(lambda p: st.tuples(st.just(p), st.integers(0, p)))
    return precision_scale.flatmap(values)


def _column(arrow_type, values):
    return st.tuples(st.just(arrow_type), st.lists(st.none() | values))


_TIMESTAMPS = st.datetimes(min_value=dt.datetime(1, 1, 1))
_TIMESTAMPS = _TIMESTAMPS | _TIMESTAMPS.map(lambda d: d.replace(microsecond=0))
_AWARE = st.datetimes(dt.datetime(2, 1, 1), dt.datetime(9998, 12, 31), timezones=st.just(dt.timezone.utc))

# Every Arrow type Spark hands ``mapInArrow`` for a cast-plan type
# (``schema_mapper._SPARK_CAST`` values, ``decimal(p,s)``, ``decimal(20,0)``),
# plus the other Spark types the renderer takes; each with the values that
# break naive forms.
RENDER_CASES = {
    "smallint": (_column(pa.int16(), st.integers(-(2**15), 2**15 - 1)), [-(2**15), 0]),
    "int": (_column(pa.int32(), st.integers(-(2**31), 2**31 - 1)), [2**31 - 1]),
    "bigint": (_column(pa.int64(), st.integers(-(2**63), 2**63 - 1)), [-(2**63), 2**63 - 1]),
    "tinyint": (_column(pa.int8(), st.integers(-128, 127)), [-128]),
    "float": (
        _column(pa.float32(), st.floats(width=32)),
        [1e-5, 9.5e-5, 1e16, 3.4e38, -0.0, float("inf"), float("nan")],
    ),
    "double": (_column(pa.float64(), st.floats()), [1e-5, 1e16, 1.5e300, 5e-324]),
    "string": (_column(pa.string(), st.text()), ["o'brien", "''", "é€𝄞", "", "\\'"]),
    "large_string": (_column(pa.large_string(), st.text()), ["it's é"]),
    "binary": (_column(pa.binary(), st.binary()), [b"", b"\x00\xff"]),
    "large_binary": (_column(pa.large_binary(), st.binary()), [b""]),
    "date": (_column(pa.date32(), st.dates()), [dt.date(1, 1, 1), dt.date(9999, 12, 31)]),
    "timestamp_ntz": (
        _column(pa.timestamp("us"), _TIMESTAMPS),
        [
            dt.datetime(1, 1, 1),
            dt.datetime(2023, 1, 1, 12, 0, 0, 100000),
            dt.datetime(2023, 1, 1, 12, 0, 10),
            dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
            dt.datetime(2000, 1, 1, 0, 0, 0, 120),
        ],
    ),
    "timestamp": (
        _column(pa.timestamp("us", tz="UTC"), _AWARE),
        [dt.datetime(2023, 1, 1, 0, 30, 0, 500000, tzinfo=dt.timezone.utc)],
    ),
    "boolean": (_column(pa.bool_(), st.booleans()), [True, False]),
    "void": (_column(pa.null(), st.none()), []),
    "decimal(p,s)": (_decimal_column(), []),
    "decimal(20,0)": (
        _column(pa.decimal128(20, 0), st.integers(0, 2**64 - 1).map(Decimal)),
        [Decimal(0), Decimal(2**64 - 1)],
    ),
    "decimal(38,10)": (
        _column(
            pa.decimal128(38, 10),
            st.integers(-(10**38) + 1, 10**38 - 1).map(lambda n: Decimal(f"{n}E-10")),
        ),
        [Decimal("0E-10"), Decimal("1.5000000000")],
    ),
}


def _row_path_values(col):
    """The values ``render_literal`` is the spec for: a timestamp with a
    time zone renders as its naive wall time in the column's zone (Spark
    tags it with ``spark.sql.session.timeZone``)."""
    values = col.to_pylist()
    if pa.types.is_timestamp(col.type) and col.type.tz is not None:
        zone = ZoneInfo(col.type.tz)
        return [v and v.astimezone(zone).replace(tzinfo=None) for v in values]
    return values


@pytest.mark.parametrize("kind", list(RENDER_CASES))
@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_render_column_matches_render_literal(kind, data):
    column, edges = RENDER_CASES[kind]
    arrow_type, values = data.draw(column)
    col = pa.array(edges + [None] + values, arrow_type)
    rendered = render_column(col)
    assert rendered.type == pa.string()
    assert rendered.to_pylist() == [render_literal(v) for v in _row_path_values(col)]


def test_render_timestamp_with_time_zone_uses_column_zone_wall_time(monkeypatch):
    """The wall time is the one in the column's zone (the session time
    zone), never the Python worker's OS time zone: with ``TZ`` at
    UTC+05:30, a UTC-tagged instant still renders its UTC wall time."""
    instant = dt.datetime(2023, 1, 1, 0, 30, tzinfo=dt.timezone.utc)
    monkeypatch.setenv("TZ", "XST-05:30")
    time.tzset()
    try:
        for zone, want in (("UTC", "'2023-01-01 00:30:00'"), ("Asia/Kolkata", "'2023-01-01 06:00:00'")):
            col = pa.array([instant, None], pa.timestamp("us", tz=zone))
            assert render_column(col).to_pylist() == [want, "NULL"]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_render_column_rejects_types_without_a_literal():
    with pytest.raises(TypeError, match="list"):
        render_column(pa.array([[1]]))


# ----------------------------------------------------- distributed writes
def _packet_files(out_dir):
    """``execute``: append each packet, length-prefixed, to its partition's
    file (executors cannot append to a driver list)."""

    def execute(stmt: str) -> None:
        from pyspark import TaskContext

        data = stmt.encode()
        with open(os.path.join(out_dir, f"{TaskContext.get().partitionId():05d}.pkt"), "ab") as f:
            f.write(b"%d\n" % len(data) + data)

    return execute


def _read_packets(out_dir) -> list[str]:
    out = []
    for name in sorted(os.listdir(out_dir)):
        data = (Path(out_dir) / name).read_bytes()
        pos = 0
        while pos < len(data):
            nl = data.index(b"\n", pos)
            end = nl + 1 + int(data[pos:nl])
            out.append(data[nl + 1 : end].decode())
            pos = end
    return out


def _write_packets(df, table, budget, tmp_path) -> list[str]:
    out = tmp_path / f"packets_{table}"
    out.mkdir()
    write_with_byte_budget(df, table, _named(df), budget, _packet_files(str(out)))
    return _read_packets(str(out))


def _driver_packets(df, table, budget) -> list[str]:
    """The per-value spec on the driver: ``render_row`` over the collected
    rows, packets assembled per partition in row order."""
    prefix = build_insert_statement(table, _named(df))
    rows = df.select("*", F.spark_partition_id().alias("_pid")).collect()
    return [
        stmt
        for _, part in itertools.groupby(rows, key=lambda r: r[-1])
        for stmt, _ in assemble_batches(prefix, (render_row(r[:-1]) for r in part), budget)
    ]


def _named(df):
    """Target columns for the INSERT prefix, which uses only the names."""
    return [TargetColumn(c, MySqlType(MySqlBaseType.LONGTEXT)) for c in df.columns]


SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents"]


@pytest.mark.parametrize("table", SF_TABLES)
def test_packets_equal_driver_render_row_on_sf001(spark, tmp_path, table):
    """The migration cast plan of every relational sf0.01 table at a small
    budget: the distributed packets equal the per-value spec's."""
    extractor = ParquetExtractor(spark, SF)
    source = extractor.get_table_schema(table)
    target = map_schema(TypeRegistry.with_defaults(), table, source, True)
    df = DatabaseMigrator._apply_cast_plan(extractor.read_table(table), source, target)
    packets = _write_packets(df, table, 4_096, tmp_path)
    assert len(packets) > 1 or table in ("region", "nation")
    assert packets == _driver_packets(df, table, 4_096)


@pytest.mark.parametrize("large_var_types", ["false", "true"])
def test_packets_equal_driver_render_row_on_every_cast_type(spark, tmp_path, large_var_types):
    """Every type the cast plan emits, with NULLs, quotes, non-ASCII text,
    empty binary, year-1 dates, fractional timestamps, extreme floats and a
    38-digit decimal, over 4 partitions: the same packets as the per-value
    spec, with Spark's regular and large Arrow string/binary types."""
    utc = dt.timezone.utc
    schema = (
        "i16 smallint, i32 int, i64 bigint, f float, s string, b binary, "
        "ntz timestamp_ntz, ts timestamp, d date, dec decimal(12,4), u decimal(20,0), "
        "z decimal(38,10)"
    )
    rows = [
        (-(2**15), 2**31 - 1, -(2**63), 1e-5, "o'brien é", b"", dt.datetime(1, 1, 1),
         dt.datetime(1, 1, 2, tzinfo=utc), dt.date(1, 1, 1), Decimal("-12345678.1234"),
         Decimal(2**64 - 1), Decimal("0E-10")),
        (None,) * 12,
        (7, 0, 42, 3.4e38, "", b"\x00\xff", dt.datetime(2023, 1, 1, 12, 0, 0, 100000),
         dt.datetime(2023, 6, 1, 23, 59, 59, 1, tzinfo=utc), dt.date(9999, 12, 31),
         Decimal("0.0000"), Decimal(0), Decimal("9" * 28 + "." + "9" * 10)),
    ] * 5
    df = spark.createDataFrame(rows, schema)
    assert df.rdd.getNumPartitions() == 4
    spark.conf.set("spark.sql.execution.arrow.useLargeVarTypes", large_var_types)
    try:
        packets = _write_packets(df, "zoo", 300, tmp_path)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.useLargeVarTypes")
    assert len(packets) > 4
    assert packets == _driver_packets(df, "zoo", 300)


def test_distributed_write_renders_timestamps_in_the_session_time_zone(spark, tmp_path):
    """Executors render a zoned ``timestamp`` in ``spark.sql.session.timeZone``,
    whatever their OS time zone."""
    df = spark.createDataFrame([(dt.datetime(2023, 1, 1, 0, 30, tzinfo=dt.timezone.utc),)], "ts timestamp")
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        packets = _write_packets(df, "t", 1_000, tmp_path)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert packets == ["INSERT INTO `t` (`ts`) VALUES ('2023-01-01 06:00:00')"]


def test_write_is_one_spark_job(spark, tmp_path):
    df = spark.createDataFrame([(i, f"name{i}") for i in range(100)], "id int, name string")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    packets = _write_packets(df, "t", 200, tmp_path)
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    assert len(packets) > 1


def test_failing_execute_fails_the_write(spark):
    df = spark.createDataFrame([(i, f"name{i}") for i in range(10)], "id int, name string")

    def execute(stmt: str) -> None:
        raise RuntimeError("target refused the packet")

    with pytest.raises(PythonException, match="target refused the packet"):
        write_with_byte_budget(df, "t", _named(df), 1_000, execute)
