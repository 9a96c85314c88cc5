"""End-to-end migration pipeline tests over Parquet source/sink.

Scenario coverage ports the reference's mock-based integration suite
(/root/reference/src/migrate/tests.rs:219-592) onto the Extractor/Inserter
seams, plus a real migration of the driver-generated testdata.
"""

import json
import os

import pytest

from db_migrator_spark.common.schema import TableConstraints
from db_migrator_spark.migrate.ddl import TableAction
from db_migrator_spark.migrate.migrator import (
    DatabaseMigrator,
    MigrationOptions,
    MigrationRunError,
    NoTablesToMigrate,
    PacketSizeExceeded,
    TableAlreadyHasRows,
)
from db_migrator_spark.migrate.type_registry import TypeRegistry
from db_migrator_spark.sinks.parquet_sink import ParquetInserter
from db_migrator_spark.sources.parquet_source import ParquetExtractor


def write_source(spark, d, name, rows, schema, constraints=None):
    spark.createDataFrame(rows, schema=schema).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, f"{name}.parquet")
    )
    if constraints is not None:
        with open(os.path.join(d, f"{name}.constraints.json"), "w") as f:
            f.write(json.dumps(constraints))


def users_sidecar(table="Users"):
    return {
        "table_name": table,
        "columns": [
            {"column_name": "id", "data_type": "int", "is_nullable": False,
             "constraint": "PRIMARY KEY"},
            {"column_name": "name", "data_type": "varchar",
             "character_maximum_length": 100, "is_nullable": True, "constraint": ""},
        ],
    }


@pytest.fixture
def dirs(tmp_path):
    src = tmp_path / "src"
    tgt = tmp_path / "tgt"
    src.mkdir()
    return str(src), str(tgt)


def migrate(spark, src, tgt, **opts):
    extractor = ParquetExtractor(spark, src)
    inserter = ParquetInserter(spark, tgt)
    options = MigrationOptions(**{"format_names": False, "parallelism": 2, "all_tables": True, **opts})
    migrator = DatabaseMigrator(extractor, inserter, TypeRegistry.with_defaults(), options)
    return migrator.run(), inserter


def test_single_table_migration(spark, dirs):
    src, tgt = dirs
    write_source(spark, src, "Users", [(1, "alice"), (2, "o'brien")], "id int, name string",
                 users_sidecar())
    results, inserter = migrate(spark, src, tgt)
    assert len(results) == 1
    r = results[0]
    assert (r.table_name, r.created, r.rows_migrated) == ("Users", True, 2)
    assert inserter.executed_ddl[0] == (
        "CREATE TABLE `Users` (`id` int PRIMARY KEY NOT NULL, `name` varchar(100) NULL)"
    )
    got = spark.read.parquet(os.path.join(tgt, "Users"))
    assert sorted((row.id, row.name) for row in got.collect()) == [(1, "alice"), (2, "o'brien")]


def test_multi_table_and_whitelist(spark, dirs):
    src, tgt = dirs
    for name in ["Alpha", "Beta", "Gamma"]:
        write_source(spark, src, name, [(1,)], "x int")
    results, _ = migrate(spark, src, tgt, whitelisted_tables=["Alpha", "Gamma", "Missing"])
    assert [r.source_table for r in results] == ["Alpha", "Gamma"]


def test_empty_whitelist_result_is_error(spark, dirs):
    src, tgt = dirs
    write_source(spark, src, "Alpha", [(1,)], "x int")
    with pytest.raises(NoTablesToMigrate):
        migrate(spark, src, tgt, whitelisted_tables=["Nope"])


def test_empty_catalog_is_error(spark, dirs):
    src, tgt = dirs
    with pytest.raises(NoTablesToMigrate):
        migrate(spark, src, tgt)


def test_packet_size_abort(spark, dirs):
    src, tgt = dirs
    write_source(spark, src, "Users", [(1, "a")], "id int, name string")
    extractor = ParquetExtractor(spark, src)
    inserter = ParquetInserter(spark, tgt, max_packet=1024)
    with pytest.raises(PacketSizeExceeded):
        DatabaseMigrator(extractor, inserter, options=MigrationOptions(all_tables=True)).run()


def test_nonempty_target_is_error(spark, dirs):
    src, tgt = dirs
    write_source(spark, src, "Users", [(1, "a")], "id int, name string")
    # pre-populate target with rows
    os.makedirs(tgt, exist_ok=True)
    spark.createDataFrame([(9, "x")], "id int, name string").write.parquet(
        os.path.join(tgt, "Users")
    )
    extractor = ParquetExtractor(spark, src)
    inserter = ParquetInserter(spark, tgt)
    # no reset applies because drop/truncate resets it; simulate the guard by
    # pointing at a non-whitelisted existing table: use reset with empty list
    migrator = DatabaseMigrator(extractor, inserter, options=MigrationOptions(format_names=False, all_tables=True))
    migrator._reset_existing_targets = lambda tables: None  # keep rows in place
    with pytest.raises(TableAlreadyHasRows):
        migrator.run()


def test_unreadable_target_part_file_is_error(spark, dirs):
    """A target holding one real row and one corrupt part file is not an
    empty table: the row-count guard's read error fails the run instead of
    letting the migrator append."""
    src, tgt = dirs
    write_source(spark, src, "Users", [(1, "a")], "id int, name string")
    users = os.path.join(tgt, "Users")
    spark.createDataFrame([(9, "x")], "id int, name string").coalesce(1).write.parquet(users)
    with open(os.path.join(users, "part-99999-corrupt.snappy.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    before = sorted(os.listdir(users))
    migrator = DatabaseMigrator(
        ParquetExtractor(spark, src), ParquetInserter(spark, tgt),
        options=MigrationOptions(format_names=False, all_tables=True),
    )
    migrator._reset_existing_targets = lambda tables: None  # keep the files in place
    with pytest.raises(MigrationRunError):
        migrator.run()
    assert sorted(os.listdir(users)) == before  # nothing was appended


def test_existing_empty_table_reused(spark, dirs):
    src, tgt = dirs
    write_source(spark, src, "Users", [(1, "a")], "id int, name string")
    os.makedirs(os.path.join(tgt, "Users"))  # empty existing table
    results, inserter = migrate(spark, src, tgt)
    assert results[0].created is False
    assert not any(d.startswith("CREATE TABLE") for d in inserter.executed_ddl)
    assert results[0].rows_migrated == 1


def test_truncate_vs_drop_reset(spark, dirs):
    src, tgt = dirs
    write_source(spark, src, "Users", [(1, "a")], "id int, name string")
    os.makedirs(os.path.join(tgt, "Users"))
    spark.createDataFrame([(5, "old")], "id int, name string").write.mode("append").parquet(
        os.path.join(tgt, "Users")
    )
    results, inserter = migrate(spark, src, tgt)  # default: truncate
    assert "TRUNCATE TABLE `Users`;" in inserter.executed_ddl[0]
    assert results[0].rows_migrated == 1  # old row gone
    assert results[0].created is False  # truncated table is reused

    results2, inserter2 = migrate(spark, src, str(tgt) + "2", drop=True)
    assert inserter2.executed_ddl == [
        s for s in inserter2.executed_ddl if "DROP" not in s
    ] or any("DROP TABLE" in s for s in inserter2.executed_ddl) is False
    # fresh target dir: nothing to drop, table created
    assert results2[0].created is True


def test_fail_fast_reports_skipped(spark, dirs):
    src, tgt = dirs
    for name in ["A1", "A2", "A3", "A4"]:
        write_source(spark, src, name, [(1,)], "x int")

    extractor = ParquetExtractor(spark, src)
    boom_schema = extractor.get_table_schema

    def failing_schema(table):
        if table == "A1":
            raise RuntimeError("boom on A1")
        return boom_schema(table)

    extractor.get_table_schema = failing_schema
    inserter = ParquetInserter(spark, tgt)
    migrator = DatabaseMigrator(
        extractor, inserter,
        options=MigrationOptions(format_names=False, parallelism=1, all_tables=True),
    )
    with pytest.raises(MigrationRunError, match="boom on A1") as ei:
        migrator.run()
    # parallelism=1 and A1 fails first -> the rest were never started
    assert set(ei.value.skipped_tables) <= {"A2", "A3", "A4"}
    assert len(ei.value.skipped_tables) >= 1


def test_snake_case_table_and_columns(spark, dirs):
    src, tgt = dirs
    sidecar = {
        "table_name": "UserAccounts",
        "columns": [
            {"column_name": "AccountId", "data_type": "int", "is_nullable": False,
             "constraint": "PRIMARY KEY"},
            {"column_name": "UserName", "data_type": "varchar",
             "character_maximum_length": 50, "is_nullable": True, "constraint": ""},
            {"column_name": "HTMLParser", "data_type": "bit", "is_nullable": True,
             "constraint": ""},
        ],
    }
    write_source(
        spark, src, "UserAccounts",
        [(1, "u", True)], "AccountId int, UserName string, HTMLParser boolean", sidecar,
    )
    results, inserter = migrate(spark, src, tgt, format_names=True)
    assert results[0].table_name == "user_accounts"
    got = spark.read.parquet(os.path.join(tgt, "user_accounts"))
    assert got.columns == ["account_id", "user_name", "html_parser"]
    assert "CREATE TABLE `user_accounts`" in inserter.executed_ddl[0]


def test_constraints_phase_with_fk_skipping(spark, dirs):
    src, tgt = dirs
    orders_sidecar = {
        "table_name": "Orders",
        "columns": [
            {"column_name": "ID", "data_type": "int", "is_nullable": False,
             "constraint": "PRIMARY KEY"},
            {"column_name": "UserId", "data_type": "int", "is_nullable": False,
             "constraint": "FOREIGN KEY,UserAccounts,AccountId"},
            {"column_name": "ExternalRef", "data_type": "int", "is_nullable": True,
             "constraint": "FOREIGN KEY,NotMigrated,Id"},
            {"column_name": "Quantity", "data_type": "int", "is_nullable": False,
             "constraint": "CHECK (Quantity > 0)"},
        ],
    }
    ua_sidecar = {
        "table_name": "UserAccounts",
        "columns": [
            {"column_name": "AccountId", "data_type": "int", "is_nullable": False,
             "constraint": "PRIMARY KEY"},
        ],
    }
    write_source(spark, src, "Orders", [(1, 1, 7, 2)],
                 "ID int, UserId int, ExternalRef int, Quantity int", orders_sidecar)
    write_source(spark, src, "UserAccounts", [(1,)], "AccountId int", ua_sidecar)
    results, inserter = migrate(
        spark, src, tgt, format_names=True, create_constraints=True,
    )
    alters = [d for d in inserter.executed_ddl if "ALTER TABLE" in d]
    assert len(alters) == 1
    a = alters[0]
    assert "ALTER TABLE `orders`" in a
    assert "ADD FOREIGN KEY(`user_id`) REFERENCES `user_accounts`(`account_id`) ON DELETE CASCADE" in a
    assert "not_migrated" not in a  # FK to non-migrated table skipped
    assert "ADD CHECK (Quantity > 0)" in a


def test_cast_plan_money_to_decimal(spark, dirs):
    src, tgt = dirs
    sidecar = {
        "table_name": "Pay",
        "columns": [
            {"column_name": "amount", "data_type": "money",
             "numeric_precision": 19, "numeric_scale": 4, "is_nullable": True,
             "constraint": ""},
        ],
    }
    write_source(spark, src, "Pay", [(12.5,), (None,)], "amount double", sidecar)
    results, _ = migrate(spark, src, tgt)
    got = spark.read.parquet(os.path.join(tgt, "Pay"))
    assert got.schema["amount"].dataType.simpleString() == "decimal(19,4)"
    vals = sorted([r.amount for r in got.collect() if r.amount is not None])
    assert str(vals[0]) == "12.5000"


def test_unused_override_reported(spark, dirs, caplog):
    src, tgt = dirs
    write_source(spark, src, "Users", [(1, "a")], "id int, name string")
    from db_migrator_spark.common.mysql_types import MySqlBaseType
    from db_migrator_spark.common.type_mapping import simple

    registry = TypeRegistry.with_defaults()
    registry.set_column_override("Ordres.ID", simple(MySqlBaseType.INT))  # typo
    extractor = ParquetExtractor(spark, src)
    inserter = ParquetInserter(spark, tgt)
    with caplog.at_level("WARNING"):
        DatabaseMigrator(extractor, inserter, registry,
                         MigrationOptions(format_names=False, all_tables=True)).run()
    assert any("ordres.id" in rec.message for rec in caplog.records)


def test_real_testdata_migration(spark, tmp_path):
    """Migrate the driver-generated customer+nation tables end-to-end."""
    tgt = str(tmp_path / "tgt")
    extractor = ParquetExtractor(spark, "/root/testdata/sf0.001")
    inserter = ParquetInserter(spark, tgt)
    results, = [DatabaseMigrator(
        extractor, inserter,
        options=MigrationOptions(
            whitelisted_tables=["customer", "nation"], format_names=True, parallelism=2
        ),
    ).run()]
    by_name = {r.source_table: r for r in results}
    assert by_name["customer"].rows_migrated == spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).count()
    assert by_name["nation"].rows_migrated == 25
    got = spark.read.parquet(os.path.join(tgt, "customer"))
    assert set(got.columns) == {"c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"}


def _jobs_started(spark, fn):
    """Spark jobs started while ``fn`` runs, across the migrator's pool
    threads (none of them sets a job group)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    result = fn()
    return len(set(tracker.getJobIdsForGroup(None)) - before), result


def test_one_parquet_table_runs_two_jobs(spark, tmp_path):
    """One schema resolution and one write: the source is resolved once
    per extractor and the rows are counted by observing the write, so
    neither a second read of the source nor a read-back of the target
    starts a job."""
    src = str(tmp_path / "src")
    write_source(spark, src, "Users", [(1, "a"), (2, "b"), (3, "c")], "id int, name string")
    n, (results, _) = _jobs_started(spark, lambda: migrate(spark, src, str(tmp_path / "tgt")))
    assert results[0].rows_migrated == 3
    assert n == 2


def test_one_csv_table_runs_three_jobs(spark, tmp_path):
    """CSV through FileExtractor: the header/inference read (two jobs)
    happens once, then the write."""
    from db_migrator_spark.sources.file_source import FileExtractor

    src = tmp_path / "src"
    src.mkdir()
    (src / "People.csv").write_text("PersonId,FullName\n1,Ada\n2,Edsger\n3,Grace\n")
    inserter = ParquetInserter(spark, str(tmp_path / "tgt"))
    migrator = DatabaseMigrator(
        FileExtractor(spark, str(src)), inserter, options=MigrationOptions(all_tables=True)
    )
    n, results = _jobs_started(spark, migrator.run)
    assert results[0].rows_migrated == 3
    assert n == 3
