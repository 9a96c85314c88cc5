"""Live MySQL sink over Spark's JDBC writer + driver-side DDL.

Data path: ``df.write.format("jdbc")`` per table — each Spark partition
opens its own connection and streams parameter-bound batched INSERTs
(``batchsize`` rows, ``rewriteBatchedStatements=true`` collapses them into
multi-row packets server-side). This replaces the reference's hand-rolled
byte-budget batch assembly (``src/migrate/table_migrator.rs:116-200``):
Spark's writer is already transactional per partition and parallel across
partitions, where the reference streams each table over one connection.

DDL path (CREATE TABLE with PK, constraint ALTERs, resets) cannot be
expressed through the writer, so it executes driver-side over a raw JDBC
connection obtained from the JVM's DriverManager — same two-phase shape as
the reference (DDL -> data -> best-effort constraints,
``src/insert/inserter.rs:33-111``).

No MySQL server / JDBC jar exists in this container, so this class is
SQL-surface-tested only — but the wire protocol itself (FK-bracketed
transaction, rollback-with-preview, best-effort constraints) is factored
into ``sinks/dbapi_sink.py`` and fully tested there: statement ordering
against a recording fake connection, and end-to-end through
``df.foreachPartition`` into sqlite3 (a real PEP 249 driver). This sink
does not use it: its data path is the JDBC writer above.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from ..common.schema import TargetColumn
from ..migrate import ddl
from ..migrate.ddl import TableAction

log = logging.getLogger(__name__)


class MySqlJdbcInserter:
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        user: str,
        password: str,
        database: str,
        *,
        batchsize: int = 10_000,
    ):
        self.spark = spark
        # rewriteBatchedStatements turns row batches into multi-row INSERT
        # packets — the moral equivalent of the reference's byte-budget
        # batches, sized server-side against max_allowed_packet.
        sep = "&" if "?" in url else "?"
        self.url = url + sep + "rewriteBatchedStatements=true"
        self.user = user
        self.password = password
        self.database = database
        self.batchsize = batchsize

    # -- driver-side statement execution ------------------------------------
    def _execute(self, statements: str | list[str]) -> None:
        """Run statements on one driver-side JDBC connection (DDL and
        session toggles — never row data). Pass a LIST for multiple
        statements; splitting SQL text on ';' would corrupt statements
        containing literal semicolons (e.g. CHECK (x IN ('a;b')))."""
        if isinstance(statements, str):
            statements = [statements]
        jvm = self.spark._jvm  # public py4j gateway to java.sql
        conn = jvm.java.sql.DriverManager.getConnection(self.url, self.user, self.password)
        try:
            stmt = conn.createStatement()
            for part in statements:
                stmt.execute(part)
            stmt.close()
        finally:
            conn.close()

    def _query_scalar(self, sql: str):
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url, self.user, self.password)
        try:
            stmt = conn.createStatement()
            try:
                rs = stmt.executeQuery(sql)
                try:
                    return rs.getLong(1) if rs.next() else None
                finally:
                    rs.close()
            finally:
                stmt.close()
        finally:
            conn.close()

    # -- Inserter protocol --------------------------------------------------
    def list_tables(self) -> list[str]:
        from ..common.sqlgen import escape_sql_string

        df = (
            self.spark.read.format("jdbc")
            .option("url", self.url).option("user", self.user)
            .option("password", self.password)
            .option(
                "dbtable",
                f"(SELECT TABLE_NAME FROM information_schema.tables "
                f"WHERE TABLE_SCHEMA = '{escape_sql_string(self.database)}') q",
            )
            .load()
        )
        return [r[0] for r in df.collect()]

    def table_exists(self, table: str) -> bool:
        from ..common.sqlgen import escape_sql_string

        n = self._query_scalar(
            "SELECT COUNT(*) FROM information_schema.tables "
            f"WHERE TABLE_SCHEMA = '{escape_sql_string(self.database)}'"
            f" AND TABLE_NAME = '{escape_sql_string(table)}'"
        )
        return bool(n)

    def table_rows_count(self, table: str) -> int:
        from ..common.sqlgen import escape_mysql_identifier

        return int(self._query_scalar(f"SELECT COUNT(*) FROM {escape_mysql_identifier(table)}") or 0)

    def reset_tables(self, tables: list[str], action: TableAction) -> None:
        if tables:
            resets = [s for s in ddl.build_reset_query(tables, action).split("\n") if s]
            self._execute(
                ["SET FOREIGN_KEY_CHECKS=0"]
                + [s.rstrip(";") for s in resets]
                + ["SET FOREIGN_KEY_CHECKS=1"]
            )

    def create_table(self, table: str, schema: list[TargetColumn]) -> None:
        self._execute(ddl.build_create_table_query(table, schema))

    def write_table(self, df: DataFrame, table: str, schema: list[TargetColumn]) -> None:
        (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("user", self.user)
            .option("password", self.password)
            .option("dbtable", table)
            .option("batchsize", str(self.batchsize))
            .option("isolationLevel", "READ_COMMITTED")
            # FK checks off inside each writer connection, matching the
            # reference's per-transaction toggle (inserter.rs:88-111).
            .option("sessionInitStatement", "SET FOREIGN_KEY_CHECKS=0")
            .mode("append")
            .save()
        )

    def create_constraints(self, table: str, schema: list[TargetColumn],
                           migrated_tables: list[str]) -> None:
        stmt = ddl.build_create_constraints(table, schema, migrated_tables)
        if stmt is None:
            return
        # The builder emits a known "SET FOREIGN_KEY_CHECKS=0; ALTER ..."
        # pair; split ONCE at that fixed boundary (the ALTER body may
        # contain literal semicolons inside CHECK/DEFAULT text).
        head, _, alter = stmt.partition("; ")
        try:
            self._execute([head, alter])
        except Exception as e:  # best-effort, like inserter.rs:47-86
            log.warning("Constraint creation failed for %s: %s", table, e)

    def max_allowed_packet(self) -> int | None:
        try:
            return int(self._query_scalar("SELECT @@max_allowed_packet") or 0) or None
        except Exception:
            return None
