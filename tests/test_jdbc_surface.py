"""JDBC source/sink surface tests (no MSSQL or MySQL server here):
query-text shape, option assembly, and URL handling are validated without
opening connections (readers are lazy until .load()). Spark's JDBC writer
itself is exercised against embedded in-memory Derby."""

from db_migrator_spark.config import DatabaseConfig
from db_migrator_spark.sources.jdbc_source import (
    CATALOG_SQL,
    SCHEMA_SQL_TEMPLATE,
    MssqlJdbcExtractor,
)


def test_catalog_sql_shape():
    assert "INFORMATION_SCHEMA.TABLES" in CATALOG_SQL
    assert "BASE TABLE" in CATALOG_SQL


def test_schema_sql_joins_all_constraint_catalogs():
    sql = SCHEMA_SQL_TEMPLATE.format(table="Users")
    for cat in (
        "INFORMATION_SCHEMA.COLUMNS",
        "CONSTRAINT_COLUMN_USAGE",
        "TABLE_CONSTRAINTS",
        "CHECK_CONSTRAINTS",
        "REFERENTIAL_CONSTRAINTS",
    ):
        assert cat in sql
    assert "'PRIMARY KEY'" in sql and "'FOREIGN KEY," in sql
    assert "ORDER BY c.ORDINAL_POSITION" in sql
    assert "WHERE c.TABLE_NAME = 'Users'" in sql


def test_schema_sql_escapes_quotes():
    extractor = object.__new__(MssqlJdbcExtractor)
    # the table name is embedded with '' doubling
    safe = "O'Brien".replace("'", "''")
    assert "O''Brien" == safe
    assert "TABLE_NAME = 'O''Brien'" in SCHEMA_SQL_TEMPLATE.format(table=safe)


def test_reader_assembles_options_lazily(spark):
    x = MssqlJdbcExtractor(
        spark, "jdbc:sqlserver://h:1433;databaseName=db", "sa", "pw",
        num_partitions=4, partition_columns={"Users": "Id"},
    )
    # building the reader must not connect
    reader = x._reader("(SELECT 1) q")
    assert reader is not None


def test_mysql_jdbc_url_rendering():
    cfg = DatabaseConfig("h", 3306, "u", "p", "db")
    assert cfg.jdbc_url("mysql") == "jdbc:mysql://h:3306/db"
    cfg2 = DatabaseConfig("h", 1433, "u", "p", "db")
    assert cfg2.jdbc_url("mssql") == "jdbc:sqlserver://h:1433;databaseName=db"


def test_mysql_sink_url_gets_rewrite_flag(spark):
    from db_migrator_spark.sinks.jdbc_sink import MySqlJdbcInserter

    ins = MySqlJdbcInserter(spark, "jdbc:mysql://h:3306/db", "u", "p", "db")
    assert "rewriteBatchedStatements=true" in ins.url
    ins2 = MySqlJdbcInserter(spark, "jdbc:mysql://h:3306/db?x=1", "u", "p", "db")
    assert ins2.url.endswith("&rewriteBatchedStatements=true")


def test_observation_fires_on_jdbc_write(spark):
    """The migrator counts a table's rows with an observation on the
    DataFrame a sink writes; for the JDBC sink that write is
    ``format("jdbc")``. Pin that the observation fires with the exact row
    count on such a write, here into an in-memory embedded Derby database
    (its jar ships with pyspark)."""
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    df = spark.range(37).selectExpr("CAST(id AS INT) AS id", "CAST(id AS STRING) AS name")
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.format("jdbc")
        .option("url", "jdbc:derby:memory:observed_write;create=true")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "observed")
        .mode("append")
        .save()
    )
    assert obs.get == {"rows": 37}
