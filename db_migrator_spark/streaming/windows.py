"""Structured Streaming: windowed aggregation, watermark late-data
handling, sessionization, and custom stateful processing over ``events``.

The reference has no stream semantics at all (its "streaming" is a
pull-based row iterator, SURVEY.md §2.9); this module supplies the
streaming operator surface Spark-natively:

- ``stream_events``   — file-source stream with the ns-timestamp decode;
- ``tumbling_counts`` — windowed agg, complete/update modes;
- ``tumbling_with_watermark`` — append mode: a window emits only once the
  watermark (max event time - delay) passes its end; later-than-delay
  events are dropped. Scale: the watermark bounds state size — without it
  windowed state grows forever on an unbounded stream;
- ``session_windows`` — native ``session_window`` gap sessionization;
- ``user_milestones`` — ``applyInPandasWithState``: arbitrary per-key
  state (running per-user totals emitting threshold crossings).

The batch twins in ``operators/events.py`` are the ground truth these are
tested against (tests/test_streaming.py): one-batch complete-mode runs must
equal the batch results exactly.

Scale notes: streaming state lives in the state store keyed by
(group, window); shuffle partitioning rules match batch groupBy. On a real
cluster use RocksDB state store + checkpointing to object storage; file
sources here stand in for Kafka — swap ``readStream.format``.
"""

from __future__ import annotations

import itertools
import math
import os
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from ..session import configure

_mem_counter = itertools.count()

# Raw file-source schema: ts kept as nanosecond bigint (what the parquet
# holds under nanosAsLong) and decoded after load, so hand-written late
# batches in tests can use plain longs.
RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def decode_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to microsecond TimestampType, whatever the source
    physically holds: ns-since-epoch bigint (TIMESTAMP(NANOS) parquet read
    under nanosAsLong, or hand-written long test batches) gets the same
    truncating ``div 1000`` the batch loader uses; native parquet
    TIMESTAMP(MICROS) (read as timestamp/timestamp_ntz) is cast through.

    The target is TimestampType, NOT timestamp_ntz like the batch loader:
    Spark watermarks/session windows require TimestampType
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). Stream/batch result
    parity therefore relies on the session timezone being UTC —
    ``configure()`` pins it (and the driver-contract wrapper always calls
    configure), making LTZ wall times equal NTZ ones.
    """
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp")
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _probe_ts_is_long(base: str, glob: str | None) -> bool:
    """Read one parquet footer under ``base`` to learn how ``ts`` is stored.

    Driver-side metadata read (no Spark job): the fixture has shipped
    ``ts`` both as TIMESTAMP(NANOS) — which Spark can only read as bigint —
    and as plain TIMESTAMP(MICROS); the stream schema must match the file,
    so schema-on-read is decided per source directory, exactly like the
    batch loader's dtype guard (io.py).
    """
    import glob as globmod
    import os

    import pyarrow.parquet as pq
    import pyarrow.types as patypes

    pattern = os.path.join(base, glob) if glob else os.path.join(base, "*.parquet")
    files = sorted(globmod.glob(pattern)) or sorted(
        globmod.glob(os.path.join(base, "*"))
    )
    for f in files:
        if not os.path.isfile(f):
            continue
        try:
            field = pq.ParquetFile(f).schema_arrow.field("ts")
        except Exception:
            continue
        return not patypes.is_timestamp(field.type)
    return True


def stream_events(spark: SparkSession, source: str) -> DataFrame:
    """File-source stream of events (one file per micro-batch by default).

    ``source`` may be a directory of parquet files or a single ``.parquet``
    file (the file source requires a directory base path, so a file is
    expressed as parent dir + glob filter).
    """
    configure(spark)
    import os

    glob: str | None = None
    if source.endswith(".parquet") and os.path.isfile(source):
        glob = os.path.basename(source)
        source = os.path.dirname(source)
    schema = RAW_SCHEMA
    if not _probe_ts_is_long(source, glob):
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
                for f in RAW_SCHEMA.fields
            ]
        )
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.parquet(source)
    return decode_ts(raw)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event type (complete/update modes)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "total_value")
    )


def tumbling_with_watermark(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """Append-mode watermarked windows: emitted once closed, late events
    beyond ``delay`` dropped. State is bounded by the watermark horizon."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows: per-user sessions split on inactivity gap."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id: duplicates arriving within the
    watermark horizon are dropped; the watermark bounds the dedup state
    (ids older than it are evicted — an id reappearing later than ``delay``
    would pass, which is the explicit state/completeness trade-off every
    streaming dedup makes)."""
    return events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(["event_id"])


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

MILESTONE_STEP = 10

_MILESTONE_OUT = "user_id bigint, milestone bigint, at_count bigint"
_MILESTONE_STATE = "total bigint"


def _milestones_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit a row each time a user's cumulative event count crosses a
    multiple of MILESTONE_STEP. State = running total per user."""
    (user_id,) = key
    total = state.get[0] if state.exists else 0
    rows: list[dict[str, Any]] = []
    for pdf in batches:
        for _ in range(len(pdf)):
            total += 1
            if total % MILESTONE_STEP == 0:
                rows.append({"user_id": user_id, "milestone": total // MILESTONE_STEP,
                             "at_count": total})
    state.update((total,))
    # Empty per-group DataFrames are pure overhead (one pandas
    # construction per non-emitting group per batch) — yield nothing.
    if rows:
        yield pd.DataFrame(rows, columns=["user_id", "milestone", "at_count"])


def user_milestones(events: DataFrame) -> DataFrame:
    """Arbitrary-state streaming operator (applyInPandasWithState)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _milestones_fn,
            outputStructType=_MILESTONE_OUT,
            stateStructType=_MILESTONE_STATE,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Bounded execution helpers (tests + driver-contract entries)
# ---------------------------------------------------------------------------

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _replay_input_bytes(path: str) -> int:
    """On-disk size of a bounded replay input (file or directory) — a
    pure os.stat read (no Spark job), used to size state partitions."""
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fn in os.walk(path)
            for f in fn
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def run_bounded(
    df: DataFrame,
    output_mode: str = "complete",
    state_store: str | None = None,
    input_bytes: int | None = None,
) -> DataFrame:
    """Run a streaming frame to exhaustion into a memory sink; return the
    result as a static DataFrame. File streams over a finite directory
    terminate once all files are processed.

    ``state_store="rocksdb"`` switches the query to the RocksDB state
    store provider with changelog checkpointing — the production config
    for large state (state no longer bounded by executor heap, commits
    ship only the delta). Default stays the in-JVM HDFS-backed store:
    the bounded-replay A/B at sf1 measured RocksDB SLOWER for this
    fixture-scale state (see docs/SCALING.md round-7 streaming section) —
    its JNI + per-batch snapshot overhead only amortizes when state
    outgrows the heap, exactly the published guidance.
    """
    spark = df.sparkSession
    name = f"stream_out_{next(_mem_counter)}"
    # Stateful operators allocate one state-store instance PER shuffle
    # partition per store (a stream-stream join keeps four stores per
    # partition), and each instance pays checkpoint-delta + maintenance
    # cost every micro-batch. For a bounded fixture replay that fixed cost
    # dominates (measured at sf0.1: 6.5s with 32 partitions vs 3.3s with
    # 4), so the replay pins a small state partition count for the
    # query's lifetime and restores the session conf right after start.
    # A production deployment sizes this by state volume instead — the
    # partition count is baked into the checkpoint at first run.
    restore: dict[str, str | None] = {}

    def _override(key: str, value: str) -> None:
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        restore[key] = prev
        spark.conf.set(key, value)

    # Scale-adaptive state sizing (round 15): with ``input_bytes`` the
    # pin grows with the replay input — ~400 KB of parquet per state
    # partition, floored at the r13-measured sf0.1 optimum (8) and
    # capped at defaultParallelism. At sf0.1 (2 MB events) this derives
    # 8, identical to the old constant, so the driver's bench stays
    # comparable; at sf1 (12 MB) it derives 30 and the Python-state
    # stage parallelizes (conversions: 73s of per-group pandas CPU sat
    # on 8 tasks). ONLY the applyInPandasWithState entries pass
    # input_bytes: their per-group Python CPU parallelizes with
    # partitions, while JVM windowed aggs have trivial per-row CPU and
    # extra partitions only add state-commit fixed cost (measured r15
    # sf1 sweep: conversions/ewma/milestones -39..-46% vs
    # sliding/dedup/tumbling +14..+21% under the same rule — reverted
    # there). A production deployment still sizes by state volume (the
    # count is baked into the checkpoint at first run).
    try:
        cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        target = 8
        if input_bytes:
            target = max(
                8,
                min(
                    spark.sparkContext.defaultParallelism,
                    int(input_bytes) // 400_000,
                ),
            )
        if cur > target:
            _override("spark.sql.shuffle.partitions", str(target))
    except Exception:
        pass
    if state_store == "rocksdb":
        _override("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_PROVIDER)
        _override(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    elif state_store is not None:
        # A typo must not silently benchmark the default provider.
        raise ValueError(f"unknown state_store {state_store!r}; use None or 'rocksdb'")
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
    finally:
        for key, prev in restore.items():
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Materialize and drop the memory-sink view: otherwise every bounded
    # run leaks a full result set in driver memory for the session's life.
    out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    return out


def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the tumbling agg executed AS A STREAM over
    the fixture directory, complete mode — must equal the batch twin
    (events_tumbling_hourly), and is oracle-checked by the same SQL."""
    ev = stream_events(spark, f"{sf_dir}/events.parquet")
    out = run_bounded(tumbling_counts(ev), "complete")
    return out.orderBy("w_start", "event_type")


def streaming_user_milestones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: custom-stateful milestone op over the stream.

    The MECHANISM (arbitrary per-key state in applyInPandasWithState) is
    not SQL-expressible, but the RESULT SET is order-invariant: a user
    with n events crosses a multiple-of-10 cumulative count exactly
    floor(n/10) times, with at_count = milestone*10 — whatever order
    batches arrive in. The oracle pins that closed form, giving the
    custom stateful operator a full hash check instead of rows-only."""
    src_path = f"{sf_dir}/events.parquet"
    ev = stream_events(spark, src_path)
    out = run_bounded(user_milestones(ev), "append",
                      input_bytes=_replay_input_bytes(src_path))
    return out.orderBy("user_id", "milestone")


def streaming_dedup_events(
    spark: SparkSession, sf_dir: str, state_store: str | None = None
) -> DataFrame:
    """Driver-contract entry: streaming exact dedup over a stream that
    replays the fixture TWICE (two hardlinked files -> two micro-batches;
    the second batch is 100% duplicates). Every duplicate is either matched
    against in-state ids (within the watermark horizon) or dropped as
    late data (behind it), so the output equals exactly one copy — which
    is the SQL oracle."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    from .sinks import fixture_state_key

    # Stable key (not hash(): PYTHONHASHSEED randomizes per process),
    # fingerprinted by source size+mtime so stale replay state can
    # never serve a regenerated fixture (sinks.fixture_state_key).
    tag = fixture_state_key(sf_dir)
    replay = os.path.join(
        tempfile.gettempdir(), f"db_migrator_spark_dedup_stream_{tag}"
    )
    if not os.path.isdir(replay):
        os.makedirs(replay, exist_ok=True)
        for name in ("copy1.parquet", "copy2.parquet"):
            dst = os.path.join(replay, name)
            if not os.path.exists(dst):
                os.link(src, dst)
    ev = stream_events(spark, replay)
    out = run_bounded(dedup_stream(ev), "append", state_store=state_store)
    return out.orderBy("event_id")


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: NATIVE ``session_window`` sessionization
    executed AS A STREAM (complete mode over the bounded fixture replay)
    — the streaming twin of ``events3.q_session_window_native``, checked
    by the same gaps-and-islands oracle. The session merge happens in
    the streaming state store keyed by (user, merged window): windows
    that an arriving event bridges are coalesced in state, the exact
    mechanism that serves live session analytics on an unbounded stream.

    Scale notes: in production this runs append-mode with the watermark
    bounding state (sessions older than the horizon are finalized and
    evicted); complete mode here only because the bounded replay must
    surface EVERY session, including each user's last one, which a
    final-watermark append run would hold back in state forever.
    """
    ev = stream_events(spark, f"{sf_dir}/events.parquet")
    sess = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("bigint")).alias(
                "sum_micros"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_micros",
        )
    )
    out = run_bounded(sess, "complete")
    return out.orderBy("user_id", "session_start")


# Sliding-active-users delay: windows whose end the final watermark
# (max event time - this delay) has passed are finalized and emitted;
# the rest stay in state — append-mode semantics the oracle reproduces.
SLIDING_ACTIVES_DELAY_US = 600_000_000  # 10 minutes


def streaming_sliding_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: EXACT distinct users per sliding window
    (1 h length, 15 min step) as TWO CHAINED STATEFUL AGGREGATIONS in
    append mode — (window, user) dedup-count, then a per-window count
    over the first aggregation's output. Chained stateful operators
    are the Spark-4 capability this op pins; exact distinct in
    streaming is otherwise impossible without the dedup stage.

    Append + watermark means the bounded replay emits exactly the
    windows whose END the final watermark (max event time - 10 min)
    passed — the oracle applies the same closure predicate, so the op
    is value-hash-checked INCLUDING the held-back tail (unlike the
    session op, which must run complete mode to surface every row).

    Scale notes: both aggregation states are watermark-bounded; the
    first state is (windows x active users in horizon), the second
    windows-sized. Each event expands to 4 window copies map-side
    (the Expand operator), keyed shuffles on (window, user) then
    (window).
    """
    ev = stream_events(spark, f"{sf_dir}/events.parquet")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(F.col("w.start").alias("w_start"), "n_users")
    )
    out = run_bounded(agg, "append")
    return out.orderBy("w_start")


# ---------------------------------------------------------------------------
# Stateful streaming EWMA — the streaming twin of operators.events2.
# events_ewma (same constants, same integer-micro fold), with bounded
# per-key state: the last EWMA_LOOKBACK sample values.
# ---------------------------------------------------------------------------

_EWMA_OUT = "user_id bigint, event_id bigint, ewma_micro bigint"
_EWMA_STATE = "vals array<bigint>"


def _ewma_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user streaming EWMA. State carries the last EWMA_LOOKBACK
    integer-micro values (oldest first); each arriving purchase emits
    the same power-of-two fold as the batch operator. Rows are ordered
    by (ts, event_id) inside the batch — the file-replay source
    delivers event-time-ordered batches; out-of-order ingestion would
    add a watermark-delayed finalization stage, not a different fold.
    """
    from ..operators.events2 import EWMA_LOOKBACK

    (user_id,) = key
    hist: list[int] = list(state.get[0]) if state.exists else []
    out: dict[str, list] = {"user_id": [], "event_id": [], "ewma_micro": []}
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        for event_id, value in zip(pdf["event_id"], pdf["value"]):
            # math.floor, matching the oracle's FLOOR on negatives too
            # (int() truncates toward zero — the r7 verdict finding).
            hist.append(math.floor(value * 1_000_000))
            hist = hist[-EWMA_LOOKBACK:]
            total = sum(
                v << (EWMA_LOOKBACK - 1 - j) for j, v in enumerate(reversed(hist))
            )
            out["user_id"].append(user_id)
            out["event_id"].append(int(event_id))
            out["ewma_micro"].append(total >> EWMA_LOOKBACK)
    state.update((hist,))
    yield pd.DataFrame(out, columns=["user_id", "event_id", "ewma_micro"])


def ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user EWMA over purchase values: bounded per-key
    state (EWMA_LOOKBACK bigints), append output."""
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_fn,
            outputStructType=_EWMA_OUT,
            stateStructType=_EWMA_STATE,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the stateful streaming EWMA must equal the
    batch operator row-for-row (same integer fold, same constants), so
    it gets the batch twin's FULL SQL oracle — not a rows-only check —
    like streaming_user_milestones before it."""
    src_path = f"{sf_dir}/events.parquet"
    ev = stream_events(spark, src_path)
    out = run_bounded(ewma_stream(ev), "append",
                      input_bytes=_replay_input_bytes(src_path))
    return out.orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# transformWithStateInPandas — Spark 4's successor stateful API
# (typed per-key state handles instead of a single state tuple).
#
# ENVIRONMENT GATE: the API's Python state-server protocol requires
# protobuf, an optional dependency. The operator below is
# complete and its bounded-replay contract is the plain GROUP BY twin
# (_TWS_ORACLE_SQL); the driver-contract declaration activates only
# where protobuf imports, and tests/test_round7_ops.py carries the
# skip-marked end-to-end check.
# ---------------------------------------------------------------------------

try:  # pragma: no cover - environment-dependent
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAVE_PROTOBUF = True
except ImportError:
    HAVE_PROTOBUF = False

_TWS_OUT = "user_id bigint, n_purchases bigint, total_micros bigint"


def _make_tws_processor():
    """StatefulProcessor factory: per-user running purchase count +
    exact integer-micro revenue in a typed ValueState handle. Defined
    inside a factory so importing this module never requires the new
    API (or its protobuf dependency)."""
    from pyspark.sql.streaming import StatefulProcessor

    class RunningTotals(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "agg", "n bigint, total bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                tuple(self._state.get()) if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                purchases = pdf[pdf["event_type"] == "purchase"]
                n += len(purchases)
                # trunc == floor: value >= 0 (the events_ewma contract)
                total += int(
                    (purchases["value"] * 1_000_000).astype("int64").sum()
                )
            self._state.update((n, total))
            (user_id,) = key
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_purchases": [n],
                    "total_micros": [total],
                }
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Per-user running purchase totals through transformWithStateInPandas
    (typed ValueState, Update mode) — the Spark 4 stateful surface the
    older applyInPandasWithState ops predate."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_tws_processor(),
        outputStructType=_TWS_OUT,
        outputMode="Update",
        timeMode="None",
    )


def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the transformWithState totals over the
    bounded replay equal plain per-user purchase aggregation, so the
    new-API operator carries a full SQL oracle."""
    src_path = f"{sf_dir}/events.parquet"
    ev = stream_events(spark, src_path)
    out = run_bounded(running_totals_stream(ev), "update",
                      input_bytes=_replay_input_bytes(src_path))
    # Update mode re-emits a key's row per micro-batch; the bounded
    # replay is one batch, but keep only each user's LAST emission so
    # the contract survives a multi-file replay too.
    from pyspark.sql.window import Window as W2

    w = W2.partitionBy("user_id").orderBy(F.desc("n_purchases"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .filter(F.col("n_purchases") > 0)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Stateful streaming conversion tracker — the streaming twin of
# operators.events3.events_conversion_lag's per-user core: state holds
# (first signup us, done flag); the first purchase at or after the first
# signup emits ONE row with the exact lag and the state freezes. The
# file-replay source delivers event-time-ordered batches, so the first
# signup is final once seen (same ordering contract as _ewma_fn).
# ---------------------------------------------------------------------------

_CONV_OUT = "user_id bigint, signup_us bigint, purchase_us bigint, lag_us bigint"
_CONV_STATE = "signup_us bigint, done boolean"


def _conversion_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    signup_us, done = state.get if state.exists else (None, False)
    out: dict[str, list] = {
        "user_id": [],
        "signup_us": [],
        "purchase_us": [],
        "lag_us": [],
    }
    for pdf in batches:
        if done:
            break
        pdf = pdf.sort_values(["ts", "event_id"])
        for etype, us in zip(
            pdf["event_type"], pdf["us"]
        ):
            if done:
                break
            us = int(us)
            if etype == "signup" and signup_us is None:
                signup_us = us
            elif (
                etype == "purchase"
                and signup_us is not None
                and us >= signup_us
            ):
                out["user_id"].append(user_id)
                out["signup_us"].append(signup_us)
                out["purchase_us"].append(us)
                out["lag_us"].append(us - signup_us)
                done = True
    state.update((signup_us, done))
    # Most groups never convert in a given batch: skip the per-group
    # empty-DataFrame construction (measured r15: the Python-state stage
    # is per-group-machinery bound, not logic bound).
    if out["user_id"]:
        yield pd.DataFrame(
            out, columns=["user_id", "signup_us", "purchase_us", "lag_us"]
        )


def conversion_stream(events: DataFrame) -> DataFrame:
    """Streaming signup->purchase conversion detector: bounded two-field
    state per user, one append row per conversion."""
    return (
        events.filter(F.col("event_type").isin("signup", "purchase"))
        .withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
        .groupBy("user_id")
        .applyInPandasWithState(
            _conversion_fn,
            outputStructType=_CONV_OUT,
            stateStructType=_CONV_STATE,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


def streaming_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the streaming detector must equal the
    batch conditional-MIN form user-for-user (ordered replay), so it
    carries a full SQL oracle."""
    src_path = f"{sf_dir}/events.parquet"
    ev = stream_events(spark, src_path)
    out = run_bounded(conversion_stream(ev), "append",
                      input_bytes=_replay_input_bytes(src_path))
    return out.orderBy("user_id")


QUERIES = {
    "streaming_tumbling_hourly": streaming_tumbling_hourly,
    "streaming_user_milestones": streaming_user_milestones,
    "streaming_dedup_events": streaming_dedup_events,
    "streaming_ewma": streaming_ewma,
    "streaming_conversions": streaming_conversions,
    "streaming_session_windows": streaming_session_windows,
    "streaming_sliding_actives": streaming_sliding_actives,
}
if HAVE_PROTOBUF:  # pragma: no cover - absent in this container
    QUERIES["streaming_running_totals"] = streaming_running_totals

ORACLES = {
    "streaming_user_milestones": """
        WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
             m AS (SELECT user_id,
                          unnest(range(1, CAST(floor(n / 10) AS BIGINT) + 1)) AS m
                   FROM c WHERE n >= 10)
        SELECT user_id,
               CAST(m AS BIGINT) AS milestone,
               CAST(m * 10 AS BIGINT) AS at_count
        FROM m
        ORDER BY user_id, milestone
    """,
    "streaming_dedup_events": """
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
               value, props
        FROM events
        ORDER BY event_id
    """,
    "streaming_tumbling_hourly": """
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS w_start,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY w_start, event_type
    """,
    # The batch events_ewma fold (operators/events2.py), projected to the
    # streaming op's output columns — the stateful stream must reproduce
    # it row-for-row. Built below from EWMA_LOOKBACK/_EWMA_DEN exactly
    # like events2.py's twin, so a lookback change can't desynchronize
    # only this oracle (r7 ADVICE).
}

from db_migrator_spark.operators.events2 import EWMA_LOOKBACK as _EWMA_LB  # noqa: E402
from db_migrator_spark.operators.events2 import _EWMA_DEN  # noqa: E402

# Batch twin of the streaming conversion detector: first signup, then
# the earliest purchase at/after it. The streaming fold and this MIN
# agree whenever no purchase shares a user's exact first-signup
# microsecond with a smaller event_id (no such collision in any fixture;
# micro timestamps make one vanishingly unlikely).
ORACLES["streaming_conversions"] = """
        WITH per AS (
            SELECT user_id,
                   MIN(epoch_us(CAST(ts AS TIMESTAMP)))
                       FILTER (event_type = 'signup') AS signup_us
            FROM events
            WHERE event_type IN ('signup', 'purchase')
            GROUP BY user_id),
        conv AS (
            SELECT e.user_id, p.signup_us,
                   MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS purchase_us
            FROM events e JOIN per p ON p.user_id = e.user_id
            WHERE e.event_type = 'purchase'
              AND p.signup_us IS NOT NULL
              AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= p.signup_us
            GROUP BY e.user_id, p.signup_us)
        SELECT user_id, signup_us, purchase_us,
               purchase_us - signup_us AS lag_us
        FROM conv
        ORDER BY user_id
    """

ORACLES["streaming_ewma"] = f"""
        WITH p AS (
            SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   CAST(FLOOR(value * 1000000) AS BIGINT) AS v_micro
            FROM events WHERE event_type = 'purchase'),
        framed AS (
            SELECT user_id, event_id,
                   list(v_micro) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {_EWMA_LB - 1} PRECEDING
                                AND CURRENT ROW) AS vals
            FROM p)
        SELECT user_id, event_id,
               CAST(list_sum(list_transform(
                   list_reverse(vals),
                   (x, i) -> x * (CAST(1 AS BIGINT) << ({_EWMA_LB} - i))
               )) // {_EWMA_DEN} AS BIGINT) AS ewma_micro
        FROM framed
        ORDER BY user_id, event_id
    """

_TWS_ORACLE_SQL = """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS total_micros
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
        ORDER BY user_id
    """
if HAVE_PROTOBUF:  # pragma: no cover - absent in this container
    ORACLES["streaming_running_totals"] = _TWS_ORACLE_SQL

# The streaming session op must equal its batch twin row-for-row, so it
# shares the SAME islands oracle (imported, not copied — a gap-constant
# change can't desynchronize the twins; cf. the streaming_ewma precedent).
from ..operators.events3 import ORACLES as _EV3_ORACLES  # noqa: E402

ORACLES["streaming_session_windows"] = _EV3_ORACLES["q_session_window_native"]

ORACLES["streaming_sliding_actives"] = f"""
        WITH b AS (
            SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events),
        mx AS (SELECT MAX(us) AS max_us FROM b),
        wins AS (
            SELECT DISTINCT user_id,
                   (us // 900000000 - i) * 900000000 AS w_start_us
            FROM b, generate_series(0, 3) AS g(i)),
        counted AS (
            SELECT w_start_us, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM wins GROUP BY 1)
        SELECT make_timestamp(w_start_us) AS w_start, n_users
        FROM counted, mx
        WHERE w_start_us + 3600000000
              <= max_us - {SLIDING_ACTIVES_DELAY_US}
        ORDER BY w_start
    """
