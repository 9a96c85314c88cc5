"""Schema mapping: source columns -> target columns (pure function).

Semantics mirror ``/root/reference/src/migrate/table_schema_mapper.rs:13-117``:

- resolve the mapping rule against *source* names (pre-snake_case);
- MAX length (-1): varchar -> longtext, varbinary -> longblob, any other
  length-carrying target is an error suggesting an override;
- carried length above the MySQL cap is an error;
- precision carried from source or default; scale carried with a safe
  int -> u8-range conversion falling back to the default (scale 300 ->
  default 2);
- unsigned/zerofill come from the rule;
- FK targets are snake_cased when formatting is on.

Also provides the Spark side the reference doesn't need: the Spark type
each mapped column is cast to in flight (``spark_cast_type``).
"""

from __future__ import annotations

from ..common.constraints import ForeignKey
from ..common.mysql_types import MySqlBaseType, MySqlType
from ..common.naming import format_snake_case
from ..common.schema import ColumnSchema, TargetColumn
from .type_registry import TypeRegistry


class SchemaMappingError(ValueError):
    pass


def map_schema(
    registry: TypeRegistry,
    table_name: str,
    source_schema: list[ColumnSchema],
    format_names: bool,
) -> list[TargetColumn]:
    out: list[TargetColumn] = []
    for column in source_schema:
        entry = registry.resolve(table_name, column.column_name, column.data_type)
        column_name = format_snake_case(column.column_name) if format_names else column.column_name
        base_type = entry.mysql_type

        length: int | None = None
        if entry.carry_length:
            src_len = column.character_maximum_length
            if src_len == -1:
                if entry.mysql_type is MySqlBaseType.VARCHAR:
                    base_type = MySqlBaseType.LONGTEXT
                elif entry.mysql_type is MySqlBaseType.VARBINARY:
                    base_type = MySqlBaseType.LONGBLOB
                else:
                    raise SchemaMappingError(
                        f"Column '{column.column_name}' has MAX length (-1) but is mapped to "
                        f"'{entry.mysql_type.as_str()}' which requires a fixed length. Use an "
                        f"override to map '{column.data_type.as_str()}' to longtext or longblob instead."
                    )
            elif src_len is not None and src_len > 0:
                cap = entry.mysql_type.max_length()
                if cap is not None and src_len > cap:
                    raise SchemaMappingError(
                        f"Column '{column.column_name}' length {src_len} exceeds MySQL "
                        f"{entry.mysql_type.as_str()} max length {cap}. Use an override to map to "
                        "longtext/longblob."
                    )
                length = src_len
            else:
                length = entry.default_length

        precision: int | None = None
        scale: int | None = None
        if entry.carry_precision:
            precision = (
                column.numeric_precision
                if column.numeric_precision is not None
                else entry.default_precision
            )
            src_scale = column.numeric_scale
            if src_scale is not None and 0 <= src_scale <= 255:
                scale = src_scale
            else:
                scale = entry.default_scale
            # scale > precision is invalid DDL in MySQL (and an invalid
            # DecimalType in Spark) — can't come from a real MSSQL source,
            # but degrade safely for hand-written sidecar metadata.
            if precision is not None and scale is not None and scale > precision:
                scale = min(entry.default_scale or 0, precision)

        constraint = column.constraint
        if isinstance(constraint, ForeignKey) and format_names:
            constraint = ForeignKey(
                referenced_table=format_snake_case(constraint.referenced_table),
                referenced_column=format_snake_case(constraint.referenced_column),
            )

        out.append(
            TargetColumn(
                column_name=column_name,
                data_type=MySqlType(
                    base_type=base_type,
                    length=length,
                    precision=precision,
                    scale=scale,
                    unsigned=entry.unsigned,
                    zerofill=entry.zerofill,
                ),
                is_nullable=column.is_nullable,
                constraint=constraint,
            )
        )
    return out


# ---------------------------------------------------------------------------
# Spark-side projections of a mapped schema
# ---------------------------------------------------------------------------

_SPARK_CAST: dict[MySqlBaseType, str] = {
    MySqlBaseType.TINYINT: "smallint",  # MySQL tinyint range fits; Spark has no 1-byte unsigned
    MySqlBaseType.SMALLINT: "smallint",
    MySqlBaseType.INT: "int",
    MySqlBaseType.BIGINT: "bigint",
    MySqlBaseType.FLOAT: "float",
    MySqlBaseType.REAL: "float",
    MySqlBaseType.CHAR: "string",
    MySqlBaseType.VARCHAR: "string",
    MySqlBaseType.TEXT: "string",
    MySqlBaseType.LONGTEXT: "string",
    MySqlBaseType.BINARY: "binary",
    MySqlBaseType.VARBINARY: "binary",
    MySqlBaseType.LONGBLOB: "binary",
    MySqlBaseType.DATETIME: "timestamp_ntz",
    MySqlBaseType.TIMESTAMP: "timestamp",
    MySqlBaseType.DATE: "date",
    MySqlBaseType.TIME: "string",
}


def spark_cast_type(t: MySqlType) -> str:
    """Spark SQL type string a mapped column should be cast to in flight."""
    if t.base_type is MySqlBaseType.DECIMAL:
        return f"decimal({t.precision or 10},{t.scale if t.scale is not None else 0})"
    if t.base_type is MySqlBaseType.BIGINT and t.unsigned:
        # Spark has no unsigned; decimal(20,0) holds the full u64 range.
        return "decimal(20,0)"
    return _SPARK_CAST[t.base_type]
