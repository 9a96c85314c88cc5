"""Benchmark driver: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 15 --trace 0

Run from the repository root. The program is driven from outside through
its public functions; nothing here changes it. Steps:

1. stage the seeded input catalog (``gen.py``) under ``perfbench/.work``;
2. set the program up three times (session, query registry, warm-up) and
   keep the median as ``setup_s``;
3. run one untimed pass and check every output against DuckDB;
4. run whole timed passes until ``--seconds`` have gone by (at least two),
   checking each operation's output, and sample the memory of the whole
   process tree meanwhile;
5. with ``--trace 1``, half the time runs untraced, then the session
   restarts with Spark's event log on and the other half runs traced; the
   log and the spans reduce to per-layer metrics.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
Any failed check makes the exit code 1. Without the program beside the
benchmark, the exit code is 2 and nothing is measured.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 5

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ memory
def _tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB."""
    parent, rss = {}, {}
    page = os.sysconf("SC_PAGE_SIZE")
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / 2**20


class PeakRss:
    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ----------------------------------------------------------------- session
class Ctx:
    """What a workload sees: the session, its catalog and a span hook."""

    def __init__(self, workload, catalog: str, work: str, cores: int):
        self.workload, self.catalog, self.work, self.cores = workload, catalog, work, cores
        self.spark = None
        self.tracer = None

    def span(self, name, request_id=None):
        return self.tracer.span(name, request_id) if self.tracer else contextlib.nullcontext()


def _base_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }


def _trace_conf(work: str) -> dict[str, str]:
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _purge_program_modules() -> None:
    """Forget the program's modules so the next set-up imports them again.

    ``get_spark`` ships the package with ``addPyFile``, which also puts the
    session's copy of the zip on ``sys.path``; that copy is gone once the
    session stops.
    """
    for name in list(sys.modules):
        if name == "__spark_entry__" or name.split(".")[0] == "db_migrator_spark":
            del sys.modules[name]
    sys.path[:] = [p for p in sys.path if "/userFiles-" not in p]
    sys.path_importer_cache.clear()


def set_up(ctx: Ctx, conf: dict[str, str]) -> dict[str, float]:
    """One program set-up: fresh package import, session, registry, warm-up."""
    t0 = time.perf_counter()
    if ctx.spark is not None:
        ctx.spark.stop()
        _purge_program_modules()
    session = importlib.import_module("db_migrator_spark.session")
    ctx.spark = session.get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    importlib.import_module("__spark_entry__").queries()
    t2 = time.perf_counter()
    ctx.spark.read.parquet(os.path.join(ctx.catalog, "nation.parquet")).count()
    t3 = time.perf_counter()
    return {"total": t3 - t0, "get_spark": t1 - t0, "registry": t2 - t1}


def shut_down(ctx: Ctx) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ passes
def run_passes(ctx: Ctx, wl, seconds: float, min_passes: int, tally: dict) -> dict[str, list[float]]:
    """Whole passes until ``seconds`` are spent; per-op wall times."""
    times: dict[str, list[float]] = {op: [] for op in wl.ops()}
    start = time.perf_counter()
    passes = 0
    while passes < min_passes or time.perf_counter() - start < seconds:
        for op in wl.ops():
            tally["attempted"] += 1
            t0 = time.perf_counter()
            try:
                with ctx.span(f"{wl.name}.op", op):
                    wl.run_op(ctx, op)
            except Exception as exc:  # a failed operation is counted, not fatal
                tally["failed"] += 1
                tally["problems"].append(f"{wl.name}: {op} raised {exc!r}"[:500])
                continue
            times[op].append(time.perf_counter() - t0)
            problems = wl.after_op(ctx, op)
            tally["attempted"] += 1
            if problems:
                tally["failed"] += 1
                tally["problems"].extend(problems)
        passes += 1
    return times


def summarize(times: dict[str, list[float]]) -> tuple[float, float]:
    from workloads import geomean

    medians = [statistics.median(v) for v in times.values() if v]
    return sum(medians), geomean(medians)


# ---------------------------------------------------------------- per layer
def layer_metrics(wl, spans_rows, passes: int, extra: dict) -> dict[str, float]:
    from workloads import Queries

    def rows(name):
        return [r for r in spans_rows if r["name"] == name]

    def tot(name, key="s"):
        return sum(r.get(key, 0.0) for r in rows(name)) / passes

    ops = rows(f"{wl.name}.op")
    op_tot = lambda key: sum(r.get(key, 0.0) for r in ops) / passes  # noqa: E731
    fanout = tot("migrate.fanout")
    per_pass_slowest = {}
    for r in rows("migrate.table"):
        p = r["parent"]
        per_pass_slowest[p] = max(per_pass_slowest.get(p, 0.0), r["s"])
    write_jobs = sum(r.get("jobs", 0.0) for r in rows("sinks.write_table"))
    m = {
        "sources.fetch_tables_s": tot("sources.fetch_tables"),
        "sources.get_table_schema_s": tot("sources.get_table_schema"),
        "sources.scan_bytes": op_tot("input_bytes"),
        "sources.scan_rows": op_tot("input_records"),
        "migrate.map_schema_s": tot("migrate.map_schema"),
        "migrate.reset_s": tot("migrate.reset"),
        "migrate.fanout_s": fanout,
        "migrate.table_overlap": tot("sinks.write_table") / fanout if fanout else 0.0,
        "migrate.slowest_table_s": sum(per_pass_slowest.values()) / passes,
        "migrate.constraints_s": tot("migrate.constraints"),
        "sinks.create_table_s": tot("sinks.create_table"),
        "sinks.write_table_s": tot("sinks.write_table"),
        "sinks.write_table_jobs": write_jobs / passes,
        "sinks.useful_job_ratio": (
            sum(r.get("write_jobs", 0.0) for r in rows("sinks.write_table")) / write_jobs
            if write_jobs else 0.0),
        "sinks.bytes_written": op_tot("output_bytes"),
        "sinks.byte_budget_s": tot("sinks.byte_budget"),
        "operators.build_s": tot("operators.build"),
        "operators.action_s": tot("operators.action"),
        "operators.build_jobs": tot("operators.build", "jobs"),
        "operators.action_jobs": tot("operators.action", "jobs"),
    }
    for key in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_bytes"):
        m[f"operators.{key}"] = tot("operators.build", key) + tot("operators.action", key)
    for q in Queries.MEMBERS:
        b = [r for r in rows("operators.build") if r["request_id"] == q]
        a = [r for r in rows("operators.action") if r["request_id"] == q]
        m[f"operators.{q}.build_s"] = sum(r["s"] for r in b) / passes
        m[f"operators.{q}.action_s"] = sum(r["s"] for r in a) / passes
        m[f"operators.{q}.build_jobs"] = sum(r.get("jobs", 0.0) for r in b) / passes
    m.update(extra)
    return m


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in ``BENCHMARK.json`` order, with its unit."""
    from workloads import Queries

    units = {
        "session.get_spark_s": "s", "session.registry_s": "s",
        "sources.fetch_tables_s": "s", "sources.get_table_schema_s": "s",
        "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
        "migrate.map_schema_s": "s", "migrate.reset_s": "s", "migrate.fanout_s": "s",
        "migrate.table_overlap": "ratio", "migrate.slowest_table_s": "s",
        "migrate.constraints_s": "s",
        "sinks.create_table_s": "s", "sinks.write_table_s": "s",
        "sinks.write_table_jobs": "count", "sinks.useful_job_ratio": "ratio",
        "sinks.bytes_written": "bytes", "sinks.byte_budget_s": "s",
        "sinks.packets": "count", "sinks.packet_fill": "ratio", "sinks.execute_s": "s",
        "common.render_row_us": "us", "common.rendered_bytes_per_row": "bytes",
        "operators.build_s": "s", "operators.action_s": "s",
        "operators.build_jobs": "count", "operators.action_jobs": "count",
        "operators.stages": "count", "operators.tasks": "count",
        "operators.executor_run_s": "s", "operators.executor_cpu_s": "s",
        "operators.gc_s": "s", "operators.shuffle_read_bytes": "bytes",
        "operators.shuffle_write_bytes": "bytes", "operators.spill_bytes": "bytes",
        "operators.python_bytes": "bytes", "operators.output_rows": "count",
    }
    for q in Queries.MEMBERS:
        units.update({f"operators.{q}.build_s": "s", f"operators.{q}.action_s": "s",
                      f"operators.{q}.build_jobs": "count"})
    units.update({"trace.untraced_pass_s": "s", "trace.traced_pass_s": "s",
                  "trace.overhead_s": "s"})
    return units


def traced_half(ctx: Ctx, wl, conf: dict, seconds: float, tally: dict, out_dir: str):
    import tracing as tr

    set_up(ctx, {**conf, **_trace_conf(ctx.work)})
    m = importlib.import_module
    src = m("db_migrator_spark.sources.parquet_source").ParquetExtractor
    mig = m("db_migrator_spark.migrate.migrator")
    sink = m("db_migrator_spark.sinks.parquet_sink").ParquetInserter
    budget = m("db_migrator_spark.sinks.byte_budget")
    wl.setup_tables(ctx)
    run_passes(ctx, wl, 0, 1, {"attempted": 0, "failed": 0, "problems": []})  # warm
    ctx.tracer = tr.Tracer(ctx.spark.sparkContext, wl.name)
    undo = tr.patch(ctx.tracer, [
        (src, "fetch_tables", "sources.fetch_tables", None),
        (src, "get_table_schema", "sources.get_table_schema", 1),
        (src, "read_table", "sources.read_table", 1),
        (mig, "map_schema", "migrate.map_schema", 1),
        (mig.DatabaseMigrator, "_reset_existing_targets", "migrate.reset", None),
        (mig.DatabaseMigrator, "_run_migration", "migrate.fanout", None),
        (mig.DatabaseMigrator, "_migrate_table", "migrate.table", 1),
        (mig.DatabaseMigrator, "_constraints_phase", "migrate.constraints", None),
        (sink, "create_table", "sinks.create_table", 1),
        (sink, "write_table", "sinks.write_table", 2),
        (sink, "create_constraints", "sinks.create_constraints", 1),
        (budget, "write_with_byte_budget", "sinks.byte_budget", 1),
    ])
    extra = {}
    if hasattr(wl, "acc"):
        for a in wl.acc:
            a.value = type(a.value)(0)
    times = run_passes(ctx, wl, seconds, 1, tally)
    passes = len(next(iter(times.values())))
    tr.unpatch(undo)
    if hasattr(wl, "acc"):
        packets, packet_bytes, exec_s = (a.value for a in wl.acc)
        extra["sinks.packets"] = packets / passes
        extra["sinks.packet_fill"] = packet_bytes / packets / wl.BUDGET if packets else 0.0
        extra["sinks.execute_s"] = exec_s / passes
    if hasattr(wl, "render_sample"):
        extra["common.render_row_us"], extra["common.rendered_bytes_per_row"] = \
            wl.render_sample(ctx)
    app_id = ctx.spark.sparkContext.applicationId
    ctx.spark.stop()
    ctx.spark = None
    log_path = os.path.join(ctx.work, "eventlog", app_id)
    with open(log_path) as fh:
        totals = tr.reduce_log(fh)
    ctx.tracer.dump(os.path.join(out_dir, f"spans_{wl.name}.json"))
    rows = tr.rollup(ctx.tracer.spans, totals)
    ctx.tracer = None
    return times, rows, passes, extra


# -------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "db_migrator_spark")) or not os.path.isfile(
            os.path.join(ROOT, "__spark_entry__.py")):
        _fail(f"the program (db_migrator_spark/, __spark_entry__.py) is not beside {HERE}")
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    for d in ("tmp", "local", "duckdb"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Everything the program and Spark write goes inside the run directory.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_NO_DIAG"] = "1"
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    import gen

    catalog = gen.stage(os.path.join(WORK, "data"), args.seed, wl.scale)
    ctx = Ctx(wl, catalog, run_dir, cores)
    conf = _base_conf(run_dir)
    tally = {"attempted": 0, "failed": 0, "problems": []}
    try:
        setups = [set_up(ctx, conf) for _ in range(SETUPS)]
        wl.setup_tables(ctx)
        n_checks, problems = wl.check(ctx)
        tally["attempted"] += n_checks
        tally["failed"] += len(problems)
        tally["problems"].extend(problems)
        seconds = args.seconds / 2 if args.trace else args.seconds
        with PeakRss() as rss:
            times = run_passes(ctx, wl, seconds, 1 if args.trace else 2, tally)
        pass_s, op_geomean_s = summarize(times)
        if args.trace:
            ttimes, rows, passes, extra = traced_half(ctx, wl, conf, seconds, tally, out_dir)
            traced_pass_s, _ = summarize(ttimes)
            extra.update({
                "session.get_spark_s": statistics.median(s["get_spark"] for s in setups),
                "session.registry_s": statistics.median(s["registry"] for s in setups),
                "operators.output_rows": float(sum(getattr(wl, "rows", {}).values())),
                "trace.untraced_pass_s": pass_s,
                "trace.traced_pass_s": traced_pass_s,
                "trace.overhead_s": traced_pass_s - pass_s,
            })
            layers = layer_metrics(wl, rows, passes, extra)
    finally:
        shut_down(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)

    end_to_end = {
        "setup_s": statistics.median(s["total"] for s in setups),
        "pass_s": pass_s,
        "op_geomean_s": op_geomean_s,
    }
    summary = {n: (v, END_TO_END[n]) for n, v in end_to_end.items()}
    summary["peak_rss_mb"] = (rss.peak, "MB")
    summary.update(wl.extra_summary(ctx, pass_s))
    summary["failed_ratio"] = (tally["failed"] / max(1, tally["attempted"]), "ratio")
    summary["first_setup_s"] = (setups[0]["total"], "s")
    for p in tally["problems"]:
        print(f"FAILED  {p}")
    for op, v in times.items():
        print(f"{args.workload:<14} op {op:<28} median {statistics.median(v):.4f} s of "
              + " ".join(f"{t:.3f}" for t in v))
    for name, (value, unit) in summary.items():
        print(f"{args.workload:<14} {name:<20} {value:>14.6g} {unit}")
    if args.trace:
        # A layer the workload does not use reads 0.
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in per_layer_units().items()}
        with open(os.path.join(out_dir, f"layers_{args.workload}.json"), "w") as fh:
            json.dump(metrics, fh, indent=1)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}
    ok = tally["failed"] == 0
    print(json.dumps({"correct": ok, "attempted": tally["attempted"],
                      "failed": tally["failed"], "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
