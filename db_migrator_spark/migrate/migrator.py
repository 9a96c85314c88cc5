"""Migration orchestration: whitelist, guards, fan-out, constraint phase.

Control-flow semantics mirror ``/root/reference/src/migrate/migrator.rs`` and
``table_migrator.rs``:

- packet pre-flight: configured byte budget must not exceed the target's
  ``max_allowed_packet`` (:213-228);
- catalog: warn for whitelisted-but-missing tables, filter to whitelist,
  empty result is an error (:99-119, :230-244);
- reset: DROP (``drop=True``) or TRUNCATE existing targets, case-insensitive
  intersect with the whitelist (:60-68; inserter.rs:121-150);
- per-table guards: non-empty target table is a hard error
  (``TableAlreadyHasRows``), an existing *empty* table is reused without
  CREATE (table_migrator.rs:76-93);
- fan-out: one task per table capped at ``parallelism``; first failure
  cancels not-yet-started tables (in-flight tables finish) and the skipped
  set is reported (:121-210);
- constraints phase: after all data lands, only for *newly created* tables,
  FKs to non-migrated tables skipped, failures logged not raised
  (constraints_creator.rs:18-47);
- unused column overrides reported at the end (:80-86).

The per-table data path is where Spark replaces the reference wholesale:
``read_table -> cast plan + snake_case rename -> write_table`` is a single
declarative plan per table — partition-parallel scan and write, no
driver-side row handling (SURVEY.md §3.4). Rows are counted as the
reference counts them, in the table migrator (table_migrator.rs:161-166):
an ``Observation`` on the cast-plan DataFrame, fired by the sink's write.

Scale: table-level parallelism multiplies Spark's intra-table parallelism;
on a cluster, run with scheduler pools (one job group per table) and set
``parallelism`` to keep the cluster saturated without queue thrash.
"""

from __future__ import annotations

import logging
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F

from ..common.naming import format_snake_case
from ..common.schema import TargetColumn
from ..sinks.base import Inserter
from ..sources.base import Extractor
from .ddl import TableAction
from .schema_mapper import map_schema, spark_cast_type
from .type_registry import TypeRegistry

log = logging.getLogger(__name__)

DEFAULT_MAX_PACKET_BYTES = 1_048_576  # reference: src/config.rs:5


class MigrationRunError(RuntimeError):
    def __init__(self, message: str, skipped_tables: list[str] | None = None):
        super().__init__(message)
        self.skipped_tables = skipped_tables or []


class NoTablesToMigrate(MigrationRunError):
    pass


class TableAlreadyHasRows(MigrationRunError):
    def __init__(self, table: str, rows: int):
        super().__init__(
            f"Target table '{table}' already contains {rows} rows; "
            "refusing to append. Reset the table or drop it first."
        )
        self.table = table
        self.rows = rows


class PacketSizeExceeded(MigrationRunError):
    def __init__(self, configured: int, allowed: int):
        super().__init__(
            f"Configured max_packet_bytes {configured} exceeds the target's "
            f"max_allowed_packet {allowed}."
        )


@dataclass
class MigrationOptions:
    whitelisted_tables: list[str] = field(default_factory=list)
    #: Explicit opt-in for migrating the whole catalog. The reference always
    #: filters to the whitelist and errors when nothing remains
    #: (migrator.rs:107-111) — silently treating an empty whitelist as
    #: "everything" would make a config typo TRUNCATE every target table.
    all_tables: bool = False
    format_names: bool = True
    create_constraints: bool = False
    drop: bool = False
    parallelism: int = 4
    max_packet_bytes: int = DEFAULT_MAX_PACKET_BYTES


@dataclass
class MigrationResult:
    table_name: str  # output (possibly snake_cased) name
    source_table: str
    schema: list[TargetColumn]
    created: bool
    rows_migrated: int


class DatabaseMigrator:
    def __init__(
        self,
        extractor: Extractor,
        inserter: Inserter,
        registry: TypeRegistry | None = None,
        options: MigrationOptions | None = None,
    ):
        self.extractor = extractor
        self.inserter = inserter
        self.registry = registry or TypeRegistry.with_defaults()
        self.options = options or MigrationOptions()

    # ------------------------------------------------------------------ run
    def run(self) -> list[MigrationResult]:
        self._check_packet_size()
        tables = self._fetch_and_format_tables()
        self._reset_existing_targets(tables)
        results = self._run_migration(tables)
        if self.options.create_constraints:
            self._constraints_phase(results)
        unused = self.registry.unused_column_overrides()
        if unused:
            log.warning("Unused column overrides (typo'd or stale?): %s", ", ".join(unused))
        total = sum(r.rows_migrated for r in results)
        log.info("Migrated %d tables, %d rows total", len(results), total)
        return results

    # ----------------------------------------------------------- pre-flight
    def _check_packet_size(self) -> None:
        allowed = self.inserter.max_allowed_packet()
        if allowed is not None and self.options.max_packet_bytes > allowed:
            raise PacketSizeExceeded(self.options.max_packet_bytes, allowed)

    def _fetch_and_format_tables(self) -> dict[str, str]:
        """source table -> output table name (whitelist applied)."""
        available = self.extractor.fetch_tables()
        wl = self.options.whitelisted_tables
        if wl:
            missing = [t for t in wl if t not in available]
            for t in missing:
                log.warning("Whitelisted table '%s' does not exist in the source", t)
            selected = [t for t in available if t in wl]
        elif self.options.all_tables:
            selected = list(available)
        else:
            raise NoTablesToMigrate(
                "No tables whitelisted. Pass whitelisted_tables, or set "
                "all_tables=True to migrate the entire catalog explicitly."
            )
        if not selected:
            raise NoTablesToMigrate("No tables to migrate (empty catalog or whitelist mismatch)")
        return {
            t: (format_snake_case(t) if self.options.format_names else t) for t in selected
        }

    def _reset_existing_targets(self, tables: dict[str, str]) -> None:
        existing = {t.lower(): t for t in self.inserter.list_tables()}
        to_reset = [existing[o.lower()] for o in tables.values() if o.lower() in existing]
        if to_reset:
            action = TableAction.DROP if self.options.drop else TableAction.TRUNCATE
            log.info("%sing %d existing target tables", action.value.capitalize(), len(to_reset))
            self.inserter.reset_tables(to_reset, action)

    # -------------------------------------------------------------- fan-out
    def _run_migration(self, tables: dict[str, str]) -> list[MigrationResult]:
        """One task per table under a bounded pool; first failure cancels all
        not-yet-started tables (in-flight ones finish) and the skipped set is
        reported in the raised error."""
        results: list[MigrationResult] = []
        with ThreadPoolExecutor(max_workers=self.options.parallelism) as pool:
            futures = {
                pool.submit(self._migrate_table, src, out): src for src, out in tables.items()
            }
            done, not_done = wait(futures, return_when=FIRST_EXCEPTION)
            first_error: BaseException | None = None
            for fut in done:
                exc = fut.exception()
                if exc is not None and first_error is None:
                    first_error = exc
            if first_error is not None:
                skipped = sorted(futures[f] for f in not_done if f.cancel())
                for f in not_done:  # in-flight tables run to completion
                    if not f.cancelled():
                        f.exception()
                if skipped:
                    log.warning("Skipped due to earlier failure: %s", ", ".join(skipped))
                if isinstance(first_error, MigrationRunError):
                    first_error.skipped_tables = skipped
                    raise first_error
                raise MigrationRunError(str(first_error), skipped) from first_error
            for fut in done:
                results.append(fut.result())
        results.sort(key=lambda r: r.source_table)
        return results

    # ------------------------------------------------------ per-table path
    def _migrate_table(self, source_table: str, out_table: str) -> MigrationResult:
        source_schema = self.extractor.get_table_schema(source_table)
        target_schema = map_schema(
            self.registry, source_table, source_schema, self.options.format_names
        )

        created = False
        if self.inserter.table_exists(out_table):
            rows = self.inserter.table_rows_count(out_table)
            if rows > 0:
                raise TableAlreadyHasRows(out_table, rows)
            log.info("Reusing existing empty table '%s'", out_table)
        else:
            self.inserter.create_table(out_table, target_schema)
            created = True

        df = self.extractor.read_table(source_table)
        df = self._apply_cast_plan(df, source_schema, target_schema)
        written = Observation()
        self.inserter.write_table(
            df.observe(written, F.count(F.lit(1)).alias("rows")), out_table, target_schema
        )
        rows_migrated = written.get["rows"]
        log.info("Migrated %s -> %s (%d rows)", source_table, out_table, rows_migrated)
        return MigrationResult(
            table_name=out_table,
            source_table=source_table,
            schema=target_schema,
            created=created,
            rows_migrated=rows_migrated,
        )

    @staticmethod
    def _apply_cast_plan(
        df: DataFrame, source_schema, target_schema: list[TargetColumn]
    ) -> DataFrame:
        """Project source columns to target names/types in one select —
        Catalyst folds the casts into the scan (no extra pass)."""
        cols = []
        for src, tgt in zip(source_schema, target_schema):
            cols.append(
                F.col(src.column_name).cast(spark_cast_type(tgt.data_type)).alias(tgt.column_name)
            )
        return df.select(*cols)

    # --------------------------------------------------- constraints phase
    def _constraints_phase(self, results: list[MigrationResult]) -> None:
        migrated_names = [r.table_name for r in results]
        created = [r for r in results if r.created]
        with ThreadPoolExecutor(max_workers=self.options.parallelism) as pool:
            futs = [
                pool.submit(
                    self.inserter.create_constraints, r.table_name, r.schema, migrated_names
                )
                for r in created
            ]
            for f in futs:
                exc = f.exception()
                if exc is not None:  # best-effort: log, don't propagate
                    log.warning("Constraint creation failed: %s", exc)
