"""Schema mapping — reference: table_schema_mapper.rs:120-392 scenarios +
FIXTURES.md A.3/A.5."""

import pytest

from db_migrator_spark.common.constraints import Default, ForeignKey, PrimaryKey
from db_migrator_spark.common.mssql_types import MssqlType
from db_migrator_spark.common.mysql_types import MySqlBaseType
from db_migrator_spark.common.schema import ColumnSchema
from db_migrator_spark.migrate.schema_mapper import (
    SchemaMappingError,
    map_schema,
    spark_cast_type,
)
from db_migrator_spark.migrate.type_registry import TypeRegistry


@pytest.fixture
def registry():
    return TypeRegistry.with_defaults()


def col(name, t, length=None, prec=None, scale=None, nullable=True, constraint=None):
    return ColumnSchema(
        column_name=name,
        data_type=t,
        character_maximum_length=length,
        numeric_precision=prec,
        numeric_scale=scale,
        is_nullable=nullable,
        constraint=constraint,
    )


def test_basic_mapping(registry):
    out = map_schema(
        registry,
        "Users",
        [
            col("id", MssqlType.INT, nullable=False, constraint=PrimaryKey()),
            col("name", MssqlType.VARCHAR, length=100),
        ],
        format_names=False,
    )
    assert [(c.column_name, c.data_type.to_sql(), c.is_nullable) for c in out] == [
        ("id", "int", False),
        ("name", "varchar(100)", True),
    ]
    assert out[0].constraint == PrimaryKey()


def test_snake_case_applied_to_columns(registry):
    out = map_schema(
        registry,
        "UserAccounts",
        [col("AccountId", MssqlType.INT), col("HTMLParser", MssqlType.BIT)],
        format_names=True,
    )
    assert [c.column_name for c in out] == ["account_id", "html_parser"]


def test_varchar_max_becomes_longtext(registry):
    out = map_schema(registry, "Orders", [col("Notes", MssqlType.VARCHAR, length=-1)], True)
    assert out[0].data_type.base_type is MySqlBaseType.LONGTEXT
    assert out[0].data_type.length is None


def test_varbinary_max_becomes_longblob(registry):
    out = map_schema(registry, "T", [col("Blob", MssqlType.VARBINARY, length=-1)], True)
    assert out[0].data_type.base_type is MySqlBaseType.LONGBLOB


def test_char_max_is_error(registry):
    with pytest.raises(SchemaMappingError, match="MAX length"):
        map_schema(registry, "T", [col("C", MssqlType.CHAR, length=-1)], True)


def test_length_over_cap_is_error(registry):
    with pytest.raises(SchemaMappingError, match="exceeds MySQL"):
        map_schema(registry, "T", [col("V", MssqlType.VARCHAR, length=70000)], True)


def test_missing_length_falls_back_to_default(registry):
    out = map_schema(registry, "T", [col("V", MssqlType.VARCHAR)], True)
    assert out[0].data_type.to_sql() == "varchar(255)"


def test_precision_scale_carry(registry):
    out = map_schema(registry, "T", [col("D", MssqlType.DECIMAL, prec=12, scale=3)], True)
    assert out[0].data_type.to_sql() == "decimal(12, 3)"


def test_scale_overflow_falls_back_to_default(registry):
    # scale 300 does not fit u8 -> default scale 2 (reference WeirdScale case)
    out = map_schema(registry, "T", [col("D", MssqlType.DECIMAL, prec=10, scale=300)], True)
    assert out[0].data_type.to_sql() == "decimal(10, 2)"


def test_money_default(registry):
    out = map_schema(registry, "Orders", [col("TotalAmount", MssqlType.MONEY, prec=19, scale=4)], True)
    assert out[0].data_type.to_sql() == "decimal(19, 4)"


def test_fk_references_snake_cased_when_formatting(registry):
    fk = ForeignKey("UserAccounts", "AccountId")
    out = map_schema(registry, "Orders", [col("UserId", MssqlType.INT, constraint=fk)], True)
    assert out[0].constraint == ForeignKey("user_accounts", "account_id")
    # not formatted when format_names=False
    out = map_schema(registry, "Orders", [col("UserId", MssqlType.INT, constraint=fk)], False)
    assert out[0].constraint == fk


def test_default_constraint_carried(registry):
    out = map_schema(
        registry, "Orders",
        [col("CreatedAt", MssqlType.DATETIME2, constraint=Default("getdate()"))], True,
    )
    assert out[0].constraint == Default("getdate()")


def test_column_override_applies(registry):
    from db_migrator_spark.common.type_mapping import simple

    registry.set_column_override("Orders.ID", simple(MySqlBaseType.INT, unsigned=True))
    out = map_schema(registry, "Orders", [col("ID", MssqlType.INT, nullable=False)], True)
    assert out[0].data_type.to_sql() == "int unsigned"
    assert out[0].column_name == "id"


def test_spark_cast_types(registry):
    out = map_schema(
        registry, "Z",
        [
            col("d", MssqlType.DECIMAL, prec=12, scale=3),
            col("rv", MssqlType.ROWVERSION),
            col("s", MssqlType.NVARCHAR, length=-1),
            col("ts", MssqlType.DATETIME2),
        ],
        False,
    )
    assert spark_cast_type(out[0].data_type) == "decimal(12,3)"
    assert spark_cast_type(out[1].data_type) == "decimal(20,0)"  # unsigned bigint
    assert spark_cast_type(out[2].data_type) == "string"
    assert spark_cast_type(out[3].data_type) == "timestamp_ntz"
