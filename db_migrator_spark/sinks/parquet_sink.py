"""Parquet-backed inserter: local/test stand-in for a live MySQL target.

Tables are ``<dir>/<table>/`` parquet datasets. Every DDL statement the
live sink would execute (CREATE TABLE, resets, constraint ALTERs) is built
with the same builders and appended to ``<dir>/_ddl.log`` — so tests can
assert the exact DDL the reference would emit while the data path stays a
distributed ``df.write.parquet``.

Scale: the write is partition-parallel; rows never pass through the driver.
"""

from __future__ import annotations

import logging
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..common.schema import TargetColumn
from ..migrate import ddl
from ..migrate.ddl import TableAction

log = logging.getLogger(__name__)


class ParquetInserter:
    def __init__(self, spark: SparkSession, target_dir: str, max_packet: int | None = None):
        self.spark = spark
        self.target_dir = target_dir
        self._max_packet = max_packet
        os.makedirs(target_dir, exist_ok=True)
        self.executed_ddl: list[str] = []

    # -- DDL log ------------------------------------------------------------
    def _record(self, statement: str) -> None:
        self.executed_ddl.append(statement)
        with open(os.path.join(self.target_dir, "_ddl.log"), "a") as f:
            f.write(statement + "\n")

    def _path(self, table: str) -> str:
        return os.path.join(self.target_dir, table)

    # -- Inserter protocol --------------------------------------------------
    def list_tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.target_dir)
            if os.path.isdir(self._path(d))
        )

    def table_exists(self, table: str) -> bool:
        return os.path.isdir(self._path(table))

    def table_rows_count(self, table: str) -> int:
        path = self._path(table)
        # Spark skips ``_*`` and ``.*`` names; with no data file left the
        # table is empty. Any other read error is real and propagates.
        if all(name.startswith(("_", ".")) for name in os.listdir(path)):
            return 0
        return self.spark.read.parquet(path).count()

    def reset_tables(self, tables: list[str], action: TableAction) -> None:
        if not tables:
            return
        self._record(ddl.build_reset_query(tables, action))
        for t in tables:
            if action is TableAction.DROP:
                shutil.rmtree(self._path(t), ignore_errors=True)
            else:  # TRUNCATE keeps the "table" (directory) but drops rows
                shutil.rmtree(self._path(t), ignore_errors=True)
                os.makedirs(self._path(t), exist_ok=True)

    def create_table(self, table: str, schema: list[TargetColumn]) -> None:
        self._record(ddl.build_create_table_query(table, schema))
        os.makedirs(self._path(table), exist_ok=True)

    def write_table(self, df: DataFrame, table: str, schema: list[TargetColumn]) -> None:
        self._record(ddl.build_insert_statement(table, schema))
        df.write.mode("append").parquet(self._path(table))

    def create_constraints(self, table: str, schema: list[TargetColumn],
                           migrated_tables: list[str]) -> None:
        stmt = ddl.build_create_constraints(table, schema, migrated_tables)
        if stmt is not None:
            self._record(stmt)

    def max_allowed_packet(self) -> int | None:
        return self._max_packet
