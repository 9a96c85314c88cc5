"""Parquet-backed extractor: the test/local stand-in for a live MSSQL source.

Catalog = ``*.parquet`` files in a directory; schema = parquet footer schema
plus an optional sidecar ``<table>.constraints.json`` (``TableConstraints``
serialization) carrying the MSSQL types + PK/FK/CHECK/DEFAULT metadata a
real INFORMATION_SCHEMA scan would return (reference:
``src/extract/extractor.rs:25-94``). Without a sidecar, MSSQL types are
derived from the physical Spark types.

Scale: the catalog/schema work is tiny driver-side metadata; the data scan
is ``spark.read.parquet`` with full Catalyst pushdown, so reading a 100 TB
table through this extractor parallelizes over the cluster exactly like any
parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..common.mssql_types import MssqlType
from ..common.schema import ColumnSchema, TableConstraints

_SPARK_TO_MSSQL: list[tuple[type, MssqlType]] = [
    (T.BooleanType, MssqlType.BIT),
    (T.ByteType, MssqlType.TINYINT),
    (T.ShortType, MssqlType.SMALLINT),
    (T.IntegerType, MssqlType.INT),
    (T.LongType, MssqlType.BIGINT),
    (T.FloatType, MssqlType.REAL),
    (T.DoubleType, MssqlType.FLOAT),
    (T.StringType, MssqlType.NVARCHAR),
    (T.BinaryType, MssqlType.VARBINARY),
    (T.DateType, MssqlType.DATE),
    (T.TimestampType, MssqlType.DATETIMEOFFSET),
    (T.TimestampNTZType, MssqlType.DATETIME2),
]


def _mssql_type_for(dt: T.DataType) -> tuple[MssqlType, int | None, int | None]:
    """(mssql_type, precision, scale) for a physical Spark type."""
    if isinstance(dt, T.DecimalType):
        return MssqlType.DECIMAL, dt.precision, dt.scale
    for cls, ms in _SPARK_TO_MSSQL:
        if isinstance(dt, cls):
            return ms, None, None
    raise ValueError(f"No MSSQL analog for Spark type {dt.simpleString()}")


class ParquetExtractor:
    def __init__(self, spark: SparkSession, source_dir: str):
        self.spark = spark
        self.source_dir = source_dir
        self._frames: dict[str, DataFrame] = {}

    def fetch_tables(self) -> list[str]:
        return sorted(
            f.removesuffix(".parquet")
            for f in os.listdir(self.source_dir)
            if f.endswith(".parquet")
        )

    def _sidecar(self, table: str) -> TableConstraints | None:
        path = os.path.join(self.source_dir, f"{table}.constraints.json")
        if os.path.exists(path):
            with open(path) as f:
                return TableConstraints.from_json(f.read())
        return None

    def get_table_schema(self, table: str) -> list[ColumnSchema]:
        sidecar = self._sidecar(table)
        if sidecar is not None:
            return sidecar.columns
        schema = self.read_table(table).schema
        out = []
        for f in schema.fields:
            ms, prec, scale = _mssql_type_for(f.dataType)
            out.append(
                ColumnSchema(
                    column_name=f.name,
                    data_type=ms,
                    numeric_precision=prec,
                    numeric_scale=scale,
                    is_nullable=f.nullable,
                )
            )
        return out

    def read_table(self, table: str) -> DataFrame:
        # Resolved once per extractor: schema and scan share one inference.
        if table not in self._frames:
            self._frames[table] = self._load(table)
        return self._frames[table]

    def _load(self, table: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.source_dir, f"{table}.parquet"))
