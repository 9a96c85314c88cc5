"""The benchmark's workloads: what one pass does and how its output is checked.

Each workload has a fixed list of operations. One pass runs every
operation once, in order; ``run.py`` times each operation. ``check`` runs
one untimed pass and verifies every output against an independent reading
of the source (DuckDB), and ``after_op`` runs a cheap check after every
timed operation.
"""

from __future__ import annotations

import importlib
import math
import os
import shutil
import statistics
import sys
import time

import duckdb
import pyarrow.parquet as pq
from pyspark import cloudpickle

# The packet callback below runs on Python workers, which cannot import this
# file; ship its functions by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Spark SQL type -> DuckDB type, for the types the registry maps to.
_DUCK_TYPE = {
    "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INTEGER",
    "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
    "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp": "TIMESTAMP WITH TIME ZONE", "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}


def duck_type(spark_type: str) -> str:
    if spark_type.startswith("decimal"):
        return spark_type.upper()
    return _DUCK_TYPE[spark_type]


def _mods():
    names = {
        "entry": "__spark_entry__",
        "source": "db_migrator_spark.sources.parquet_source",
        "sink": "db_migrator_spark.sinks.parquet_sink",
        "migrator": "db_migrator_spark.migrate.migrator",
        "mapper": "db_migrator_spark.migrate.schema_mapper",
        "registry": "db_migrator_spark.migrate.type_registry",
        "budget": "db_migrator_spark.sinks.byte_budget",
    }
    return {k: importlib.import_module(v) for k, v in names.items()}


def _source_rows(cat: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(cat, f"{table}.parquet")).metadata.num_rows


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs)


def _duck(ctx) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(ctx.work, 'duckdb')}'")
    con.execute("SET threads = 2")
    return con


def _checksum_sql(select_list: list[str], source: str) -> str:
    return f"SELECT count(*), sum(hash({', '.join(select_list)})::HUGEINT) FROM {source}"


class Workload:
    name = ""
    scale = 1.0

    def setup_tables(self, ctx) -> None:
        """Bind to the current session; called after every session start."""

    def ops(self) -> list[str]:
        raise NotImplementedError

    def run_op(self, ctx, op: str) -> None:
        raise NotImplementedError

    def after_op(self, ctx, op: str) -> list[str]:
        return []

    def check(self, ctx) -> tuple[int, list[str]]:
        """Untimed pass plus output checks: (checks attempted, failures)."""
        raise NotImplementedError

    def extra_summary(self, ctx, pass_s: float) -> dict[str, tuple[float, str]]:
        return {}


# ---------------------------------------------------------------- migrate
class Migrate(Workload):
    """DatabaseMigrator.run(): ParquetExtractor -> ParquetInserter."""

    name = "migrate"
    scale = 1.0
    # Every relational table of the catalog. ``embeddings`` stays out on
    # purpose: its ``array<float>`` column has no MSSQL analog, so
    # ``ParquetExtractor.get_table_schema`` raises ValueError and the
    # fan-out aborts the whole run.
    TABLES = ["customer", "documents", "events", "lineitem", "nation",
              "orders", "part", "region", "supplier"]

    def setup_tables(self, ctx) -> None:
        self.m = _mods()
        self.counts = {t: _source_rows(ctx.catalog, t) for t in self.TABLES}
        self.rows_per_pass = sum(self.counts.values())
        self.pass_no = 0

    def ops(self) -> list[str]:
        return ["run"]

    def _target(self, ctx) -> str:
        return os.path.join(ctx.work, "target", f"p{self.pass_no}")

    def _migrator(self, ctx, target: str):
        mig = self.m["migrator"]
        return mig.DatabaseMigrator(
            self.m["source"].ParquetExtractor(ctx.spark, ctx.catalog),
            self.m["sink"].ParquetInserter(ctx.spark, target),
            options=mig.MigrationOptions(
                whitelisted_tables=list(self.TABLES), format_names=True,
                create_constraints=True, parallelism=ctx.cores,
            ),
        )

    def run_op(self, ctx, op: str) -> None:
        self.pass_no += 1
        self.results = self._migrator(ctx, self._target(ctx)).run()

    def _count_problems(self) -> list[str]:
        got = {r.source_table: r.rows_migrated for r in self.results}
        return [f"migrate: {t} has {got.get(t)} target rows, source has {n}"
                for t, n in self.counts.items() if got.get(t) != n]

    def after_op(self, ctx, op: str) -> list[str]:
        problems = self._count_problems()
        shutil.rmtree(self._target(ctx), ignore_errors=True)
        return problems

    def check(self, ctx) -> tuple[int, list[str]]:
        self.run_op(ctx, "run")
        target = self._target(ctx)
        problems = self._count_problems()
        with open(os.path.join(target, "_ddl.log")) as fh:
            ddl = fh.read()
        con = _duck(ctx)
        mapper = self.m["mapper"]
        for r in self.results:
            creates = ddl.count(f"CREATE TABLE `{r.table_name}` (")
            if creates != 1:
                problems.append(f"migrate: {creates} CREATE statements for {r.table_name}")
            src = f"read_parquet('{ctx.catalog}/{r.source_table}.parquet')"
            tgt = f"read_parquet('{target}/{r.table_name}/*.parquet')"
            want_types = [duck_type(mapper.spark_cast_type(c.data_type)) for c in r.schema]
            got_types = [row[1] for row in con.execute(f"DESCRIBE SELECT * FROM {tgt}").fetchall()]
            src_cols = [row[0] for row in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
            if got_types != want_types:
                problems.append(f"migrate: {r.table_name} types {got_types} != {want_types}")
                continue
            want = con.execute(_checksum_sql(
                [f'CAST("{s}" AS {t})' for s, t in zip(src_cols, want_types)], src)).fetchone()
            got = con.execute(_checksum_sql(
                [f'"{c.column_name}"' for c in r.schema], tgt)).fetchone()
            if want != got:
                problems.append(f"migrate: {r.table_name} checksum {got} != source {want}")
        con.close()
        source_bytes = sum(os.path.getsize(os.path.join(ctx.catalog, f"{t}.parquet"))
                           for t in self.TABLES)
        self.stored_ratio = _dir_bytes(target) / source_bytes
        shutil.rmtree(target, ignore_errors=True)
        return 3 * len(self.TABLES) + 1, problems

    def extra_summary(self, ctx, pass_s: float) -> dict[str, tuple[float, str]]:
        return {"rows_per_s": (self.rows_per_pass / pass_s, "rows/s"),
                "stored_bytes_ratio": (self.stored_ratio, "ratio")}


# ----------------------------------------------------------- migrate_rows
def packet_writer(out_dir: str, packets, packet_bytes, seconds):
    """``execute`` callback: append each packet, length-prefixed, to a
    per-partition file, and count packets, bytes and time spent here."""

    def execute(statement: str) -> None:
        from pyspark import TaskContext

        t0 = time.perf_counter()
        data = statement.encode()
        path = os.path.join(out_dir, f"part-{TaskContext.get().partitionId():05d}.pkt")
        with open(path, "ab") as fh:
            fh.write(b"%d\n" % len(data))
            fh.write(data)
        packets.add(1)
        packet_bytes.add(len(statement))
        seconds.add(time.perf_counter() - t0)

    return execute


def read_packets(table_dir: str) -> list[str]:
    out = []
    for name in sorted(os.listdir(table_dir)):
        with open(os.path.join(table_dir, name), "rb") as fh:
            data = fh.read()
        pos = 0
        while pos < len(data):
            nl = data.index(b"\n", pos)
            size = int(data[pos:nl])
            out.append(data[nl + 1:nl + 1 + size].decode())
            pos = nl + 1 + size
    return out


class MigrateRows(Workload):
    """The reference's row path: migration cast plan, per-row rendering and
    byte-budget packets via ``sinks.byte_budget.write_with_byte_budget``."""

    name = "migrate_rows"
    scale = 0.1
    TABLES = ["customer", "part", "orders", "lineitem"]
    BUDGET = 1_048_576  # the reference's default max packet bytes
    SAMPLE_ROWS = 2_000

    def setup_tables(self, ctx) -> None:
        self.m = _mods()
        sc = ctx.spark.sparkContext
        self.acc = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0))
        self.counts = {t: _source_rows(ctx.catalog, t) for t in self.TABLES}
        self.rows_per_pass = sum(self.counts.values())
        self.pass_no = 0

    def ops(self) -> list[str]:
        return list(self.TABLES)

    def _out(self, ctx, table: str) -> str:
        return os.path.join(ctx.work, "packets", f"p{self.pass_no}", table)

    def _plan(self, ctx, table: str):
        """The same steps as ``DatabaseMigrator._migrate_table``."""
        m = self.m
        extractor = m["source"].ParquetExtractor(ctx.spark, ctx.catalog)
        source_schema = extractor.get_table_schema(table)
        target = m["migrator"].map_schema(
            m["registry"].TypeRegistry.with_defaults(), table, source_schema, True)
        df = extractor.read_table(table)
        return m["migrator"].DatabaseMigrator._apply_cast_plan(df, source_schema, target), target

    def run_op(self, ctx, table: str) -> None:
        if table == self.TABLES[0]:
            self.pass_no += 1
        out = self._out(ctx, table)
        os.makedirs(out)
        df, target = self._plan(ctx, table)
        self.m["budget"].write_with_byte_budget(
            df, table, target, self.BUDGET, packet_writer(out, *self.acc))

    def after_op(self, ctx, table: str) -> list[str]:
        out = self._out(ctx, table)
        ok = os.path.isdir(out) and _dir_bytes(out) > 0
        shutil.rmtree(out, ignore_errors=True)
        return [] if ok else [f"migrate_rows: no packets written for {table}"]

    def check(self, ctx) -> tuple[int, list[str]]:
        problems = []
        con = _duck(ctx)
        mapper = self.m["mapper"]
        for table in self.TABLES:
            self.run_op(ctx, table)
            packets = read_packets(self._out(ctx, table))
            _df, target = self._plan(ctx, table)
            types = [duck_type(mapper.spark_cast_type(c.data_type)) for c in target]
            cols = [c.column_name for c in target]
            # DuckDB reads bare float literals as DECIMAL, and DECIMAL ->
            # FLOAT rounds differently from a C parser. Replay float columns
            # into DOUBLE and compare them as FLOAT, the target's precision.
            con.execute(f'CREATE TABLE "{table}" (' + ", ".join(
                f'"{c}" {"DOUBLE" if t == "FLOAT" else t}' for c, t in zip(cols, types)) + ")")
            for p in packets:
                head, sep, vals = p.partition(" VALUES ")
                before = con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
                con.execute(head.replace("`", '"') + sep + vals)
                added = con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0] - before
                if 10 + len(p) > self.BUDGET and added != 1:
                    problems.append(f"migrate_rows: {table} packet of {len(p)} chars "
                                    f"holds {added} rows, over the budget")
            n = con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
            if n != self.counts[table]:
                problems.append(f"migrate_rows: {table} packets hold {n} rows, "
                                f"source has {self.counts[table]}")
            src = f"read_parquet('{ctx.catalog}/{table}.parquet')"
            src_cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
            want = con.execute(_checksum_sql(
                [f'CAST("{s}" AS {t})' for s, t in zip(src_cols, types)], src)).fetchone()
            got = con.execute(_checksum_sql(
                [f'CAST("{c}" AS {t})' for c, t in zip(cols, types)], f'"{table}"')).fetchone()
            if want != got:
                problems.append(f"migrate_rows: {table} replay checksum {got} != source {want}")
            shutil.rmtree(self._out(ctx, table), ignore_errors=True)
        con.close()
        return 3 * len(self.TABLES), problems

    def render_sample(self, ctx) -> tuple[float, float]:
        """Driver-side ``render_row`` over a fixed lineitem sample:
        (median microseconds per row, mean rendered bytes per row)."""
        df, _target = self._plan(ctx, "lineitem")
        rows = [tuple(r) for r in df.limit(self.SAMPLE_ROWS).collect()]
        render = self.m["budget"].render_row
        per_row = []
        for _ in range(5):
            t0 = time.perf_counter()
            rendered = [render(r) for r in rows]
            per_row.append((time.perf_counter() - t0) / len(rows) * 1e6)
        return statistics.median(per_row), sum(map(len, rendered)) / len(rendered)

    def extra_summary(self, ctx, pass_s: float) -> dict[str, tuple[float, str]]:
        return {"rows_per_s": (self.rows_per_pass / pass_s, "rows/s")}


# ---------------------------------------------------------------- queries
class Queries(Workload):
    """Oracle-backed queries, each built and then run with a ``noop`` sink.

    The catalog is small (0.1x sf0.1), so planning, job scheduling and the
    eager jobs that run while a query is built dominate.
    """

    name = "queries"
    scale = 0.1
    MEMBERS = [
        "q1_pricing_summary", "q_customer_rfm", "dedup_ngram_jaccard",
        "events_sessionization", "q_table_checksum",
    ]

    def setup_tables(self, ctx) -> None:
        entry = importlib.import_module("__spark_entry__")
        registry = entry.queries()
        self.fns = {q: registry[q] for q in self.MEMBERS}
        self.oracles = entry.oracle_sql()

    def ops(self) -> list[str]:
        return list(self.MEMBERS)

    def run_op(self, ctx, q: str) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with ctx.span("operators.build", q):
            df = self.fns[q](ctx.spark, ctx.catalog)
        obs = Observation(f"rows_{q}")
        with ctx.span("operators.action", q):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite").save()
        self.last_rows = obs.get["rows"]

    def after_op(self, ctx, q: str) -> list[str]:
        if self.last_rows != self.rows[q]:
            return [f"queries: {q} returned {self.last_rows} rows, "
                    f"{self.rows[q]} in the checked pass"]
        return []

    def check(self, ctx) -> tuple[int, list[str]]:
        verify = importlib.import_module("tools.verify_oracle")
        con = _duck(ctx)
        for t in os.listdir(ctx.catalog):
            if t.endswith(".parquet"):
                con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                            f"read_parquet('{ctx.catalog}/{t}')")
        problems, self.rows = [], {}
        for q in self.MEMBERS:
            df = self.fns[q](ctx.spark, ctx.catalog)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            self.rows[q] = len(rows)
            if q not in self.oracles:
                continue  # rows-only member: its row count is pinned per pass
            res = con.execute(self.oracles[q])
            dcols, drows = [d[0] for d in res.description], res.fetchall()
            if sorted(cols) != sorted(dcols) or len(rows) != len(drows):
                problems.append(f"queries: {q} shape {sorted(cols)}x{len(rows)} "
                                f"!= oracle {sorted(dcols)}x{len(drows)}")
            elif verify.table_hash(cols, rows) != verify.table_hash(dcols, drows):
                problems.append(f"queries: {q} result hash differs from its oracle")
        con.close()
        return len(self.MEMBERS), problems


WORKLOADS = {w.name: w for w in (Migrate, MigrateRows, Queries)}


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))

