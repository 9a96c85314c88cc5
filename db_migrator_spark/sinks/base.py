"""Inserter protocol — the target-side seam (reference:
``src/insert/inserter.rs`` public surface + ``src/migrate/tests.rs:92-182``
MockInserter)."""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame

from ..common.schema import TargetColumn
from ..migrate.ddl import TableAction


@runtime_checkable
class Inserter(Protocol):
    def list_tables(self) -> list[str]:
        """Existing target tables (SHOW TABLES analog)."""
        ...

    def table_exists(self, table: str) -> bool: ...

    def table_rows_count(self, table: str) -> int: ...

    def reset_tables(self, tables: list[str], action: TableAction) -> None:
        """DROP or TRUNCATE the given existing tables."""
        ...

    def create_table(self, table: str, schema: list[TargetColumn]) -> None: ...

    def write_table(self, df: DataFrame, table: str, schema: list[TargetColumn]) -> None:
        """Append df's rows by running ``df`` in exactly one action: the
        migrator counts the rows with an observation on ``df`` and waits
        for that action to fire it."""
        ...

    def create_constraints(self, table: str, schema: list[TargetColumn],
                           migrated_tables: list[str]) -> None:
        """Post-data constraint DDL; best-effort (failure logs, never raises)."""
        ...

    def max_allowed_packet(self) -> int | None:
        """Target's max packet budget, if it has one (None = unlimited)."""
        ...
