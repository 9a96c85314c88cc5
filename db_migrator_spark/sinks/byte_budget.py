"""Byte-budget batched INSERT assembly — exact parity with the reference's
packet batching, distributed via ``mapInArrow``.

The reference accumulates rendered rows into one buffer and flushes when
``RESERVED_BYTES(10) + buffered + next_row`` would exceed ``max_packet_bytes``
(``/root/reference/src/migrate/table_migrator.rs:19,116-167``); each flush
executes transactionally with FK checks toggled off
(``src/insert/inserter.rs:88-111``). Spark's JDBC writer normally replaces
all of this (row-count ``batchsize`` + server-side packet rewriting), but
when byte-exact packet control matters (strict ``max_allowed_packet``
targets), this sink reproduces it:

- ``assemble_batches`` is the pure, unit-testable core (mirrors the mock
  scenario splitting at max_packet_bytes=50, ``src/migrate/tests.rs:474-592``).
  It counts UTF-8 bytes, as MySQL's ``max_allowed_packet`` and the
  reference's ``String::len()`` do;
- ``write_with_byte_budget`` runs it inside ``mapInArrow``: each partition
  renders its Arrow batches a column at a time (``render_column``), joins
  the columns into ``(v1, v2, ...)`` groups, assembles packets across the
  partition's batches and hands them to an executor callback (a JDBC
  connection per partition in production, a collector in tests).

``common.rendering.render_literal`` stays the one spec of a SQL literal.
``render_column`` has a vectorized form only for the types where a test
(``tests/test_byte_budget.py``) pins it equal to ``render_literal``; every
other type it renders per value through ``render_literal``.

Scale: the driver never sees a row; per-partition memory is one Arrow batch
plus one packet buffer (= max_packet_bytes). Parallelism = partition count,
exactly like the stock JDBC writer.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

from ..common.rendering import NULL, render_literal
from ..common.schema import TargetColumn
from ..migrate.ddl import build_insert_statement

if TYPE_CHECKING:  # the functions import pyarrow, so importing this module does not
    import pyarrow as pa

RESERVED_BYTES = 10  # reference: table_migrator.rs:19

# ``_fmt_hmsf`` on Arrow's ``%Y-%m-%d %H:%M:%S.ffffff`` text: a zero fraction
# goes, other fractions lose their trailing zeros.
_TRIM_FRACTION = r"(\.\d*[1-9])0+$|\.0+$"


def render_row(row: Iterable[object]) -> str:
    """One ``(v1, v2, ...)`` values group."""
    return "(" + ", ".join(render_literal(v) for v in row) + ")"


def render_column(col: pa.Array) -> pa.Array:
    """SQL literals for one Arrow column of a Spark batch, as a
    ``pa.string()`` array equal to ``render_literal`` over the values the
    row path (``Row`` objects) would see; NULLs render as ``NULL``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = col.type
    if pa.types.is_timestamp(t) and t.tz is not None:
        # Arrow tags a Spark ``timestamp`` with spark.sql.session.timeZone:
        # render the wall time in that zone, then as a timestamp_ntz.
        col = pc.local_timestamp(col)
        t = col.type
    if pa.types.is_integer(t):
        out = pc.cast(col, pa.string())
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        # large_string (``spark.sql.execution.arrow.useLargeVarTypes``) joins
        # only with its own type; one batch's strings fit 32-bit offsets.
        out = _quote(pc.replace_substring(col.cast(pa.string()), "'", "''"))
    elif pa.types.is_date32(t):
        out = _quote(pc.cast(col, pa.string()))
    elif pa.types.is_timestamp(t):  # timestamp_ntz, or zoned made local above
        out = _quote(pc.replace_substring_regex(pc.cast(col, pa.string()), _TRIM_FRACTION, r"\1"))
    elif pa.types.is_boolean(t):
        out = pc.if_else(col, "1", "0")
    elif (
        # float/double: Python's shortest-repr ``repr`` is the spec, and no
        # Arrow or JVM (17: Double.toString is not shortest) form equals it.
        pa.types.is_floating(t)
        # decimal: Arrow's string cast gives ``0.E-10`` for ``'0E-10'``.
        or pa.types.is_decimal(t)
        # binary: pyarrow.compute has no hex kernel.
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_null(t)
    ):
        return pa.array([render_literal(v) for v in col.to_pylist()], pa.string())
    else:
        raise TypeError(f"no SQL literal rendering for Arrow type {t}")
    return pc.fill_null(out, NULL)


def _quote(strings: pa.Array) -> pa.Array:
    import pyarrow.compute as pc

    return pc.binary_join_element_wise("'", strings, "'", "")


def _render_rows(batch: pa.RecordBatch) -> list[str]:
    """``render_row`` for every row of an Arrow batch."""
    import pyarrow.compute as pc

    values = pc.binary_join_element_wise(*map(render_column, batch.columns), ", ")
    return pc.binary_join_element_wise("(", values, ")", "").to_pylist()


def assemble_batches(
    insert_prefix: str,
    rendered_rows: Iterable[str],
    max_packet_bytes: int,
) -> Iterator[tuple[str, int]]:
    """Yield ``(statement, n_rows)`` packets.

    Flush rule (reference parity): the byte count is seeded with the INSERT
    prefix length — the reference initializes ``total_bytes`` with
    ``insert_statement.len()`` (table_migrator.rs:128-144) — and a packet
    flushes when ``RESERVED_BYTES + total + len(next_row) > max_packet_bytes``;
    a final partial packet is always flushed. A single row that alone busts
    the budget still goes out (as the reference does). Lengths are UTF-8
    bytes, not characters.
    """
    base = len(insert_prefix.encode()) + 1  # prefix + the space before the values
    buffer: list[str] = []
    total = base
    for row in rendered_rows:
        size = len(row) if row.isascii() else len(row.encode())
        extra = size + (2 if buffer else 0)  # ", " separator
        if buffer and RESERVED_BYTES + total + extra > max_packet_bytes:
            yield insert_prefix + " " + ", ".join(buffer), len(buffer)
            buffer, total = [], base
            extra = size
        buffer.append(row)
        total += extra
    if buffer:
        yield insert_prefix + " " + ", ".join(buffer), len(buffer)


def write_with_byte_budget(
    df: DataFrame,
    table: str,
    schema: list[TargetColumn],
    max_packet_bytes: int,
    execute: Callable[[str], None],
) -> None:
    """Distributed byte-budget write: render, assemble and execute per
    partition, in one Spark job.

    ``execute`` runs on executors, once per packet in row order — it must
    be picklable and open its own connection (e.g. a closure building a
    mysql connection from config). An error it raises fails the call.
    """
    prefix = build_insert_statement(table, schema)

    def handle_partition(batches):
        rows = (row for batch in batches for row in _render_rows(batch))
        for statement, _ in assemble_batches(prefix, rows, max_packet_bytes):
            execute(statement)
        return iter(())

    df.mapInArrow(handle_partition, "done boolean").write.format("noop").mode("overwrite").save()
