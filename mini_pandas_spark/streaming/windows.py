"""Structured Streaming event-time operators.

The reference engine has no streaming at all (SURVEY.md §2.2); this module
provides the mandated streaming-ready surface (SURVEY.md §2.3 row 12): the
*same* window expressions as operators/events.py, run under
``readStream`` + ``withWatermark``, so batch and streaming share one
definition of correctness.

Execution model notes:
- the parquet source is read with an explicit schema (required for
  streaming) matching the nanos-as-long quirk, then converted to
  TIMESTAMP_NTZ exactly like the batch loader;
- ``streaming_hourly_counts`` runs with Trigger.AvailableNow against the
  static events file and lands in a memory sink — over a single
  micro-batch the watermark drops nothing, so the result equals the batch
  query and shares its DuckDB oracle (a deliberately strong check:
  a *streaming* operator gated by an ANSI-SQL oracle);
- at scale the same code points at a directory that keeps receiving
  files, with a real trigger interval and a kafka/files sink; watermark
  `10 minutes` bounds state for late data.
"""

from __future__ import annotations

import os
import threading
import uuid
import weakref
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import decimal_sum
from ..memo import Owned, SessionMemo, scratch_dir
from ..session import ensure_runtime_confs

_FMT = "yyyy-MM-dd HH:mm:ss"


# State partition count for drains whose keyed-state DOMAIN is
# structurally bounded (window × event_type / mktsegment: tens of live
# rows under any watermark horizon, at ANY corpus scale — upstream
# partial aggregation means the stateful exchange only moves per-type
# partials, never raw events).  Fewer state partitions = fewer state
# store instances + tasks per micro-batch; measured ~0.5s/drain saved
# vs 32 on this box, and still ≥ the live key count at 100 TB.
BOUNDED_KEY_PARTITIONS = 8
# Outer stream-stream drains pay per-(partition x state-store x batch)
# init for NEAR-EMPTY stores (watermark-bounded state, 4 stores per
# join): measured at sf0.1 warm, 8 -> 4 partitions takes the leftOuter
# drain 3.4 -> 2.5 s and below 4 is flat (fixed per-batch overhead is
# the remaining floor) -- so the two outer topologies size state to 4.
# A production deployment sizes this to horizon volume, as with
# BOUNDED_KEY_PARTITIONS.
OUTER_JOIN_STATE_PARTITIONS = 4


def _drained_table(spark: SparkSession, sink: str) -> DataFrame:
    """Read a drained memory sink and immediately drop its temp view.

    ``spark.table`` analyzes eagerly (Dataset.ofRows asserts analysis),
    so the returned frame holds the RESOLVED memory-sink relation and
    stays valid after the catalog entry is gone.  Without the drop,
    every drain leaks a uniquely-named temp view whose MemorySink
    retains the drained rows for the rest of the session — across a
    160-query bench that is dozens of dead sinks' worth of catalog
    entries and JVM heap.  The rows are freed once the caller discards
    the frame.  Every memory-sink read-back goes through here: the
    drains via ``_drain_to_memory``, and sources/synthetic.py's
    processAllAvailable drain directly.
    """
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


# Spark's FileSystem-based checkpoint manager: renames go through
# FileSystem.rename.  The default FileContext-based manager resolves each
# rename's link status, which without libhadoop forks a `readlink` per
# checkpoint file (CLAUDE.md invariant 11).  Safe for every checkpoint this
# engine writes: they are all local (memo.scratch_dir mkdtemps, memory
# sinks' temp checkpoints), where rename(2) is atomic.
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# One lock per SparkSession: drains on one session take turns through
# _drain_confs, while cloned sessions (spark.newSession(), isolated
# SQLConf) keep overlapping — state_reader.build_standing_state_checkpoints
# builds three checkpoints concurrently that way.
_DRAIN_LOCKS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_DRAIN_LOCKS_GUARD = threading.Lock()


@contextmanager
def _drain_confs(
    spark: SparkSession,
    *,
    partitions: int | None = None,
    no_data_batch: bool = True,
    provider: str | None = None,
):
    """The one conf scope every drain starts its query in.

    Sets, for the scope, the session confs a streaming query freezes at
    ``.start()``, and restores the caller's values on exit (explicit
    values come back, unset ones are unset again):

    - ``spark.sql.shuffle.partitions`` = ``partitions``.  AQE never
      coalesces stateful streaming shuffles: the state partition count
      is frozen per-checkpoint at query start (default 200), so a bare
      driver session runs 200 near-empty state tasks per micro-batch.
      Default = ``defaultParallelism`` (tracks executor cores — right
      for user-keyed state whose cardinality scales with the data:
      user_totals, dedup_events).  Drains whose key domain is bounded by
      construction pass ``BOUNDED_KEY_PARTITIONS``; watermark-bounded
      joins pass ``OUTER_JOIN_STATE_PARTITIONS``.
    - ``noDataMicroBatches.enabled`` = ``no_data_batch``.  The no-data
      micro-batch runs watermark-gated work with no new input:
      outer-join state eviction EMITS rows there and event-time
      timeouts FIRE there, so those topologies keep the default (True,
      pinned so a caller's session cannot turn it off).  Drains whose
      no-data batch provably emits nothing — an INNER stream-stream join
      (eviction emits no rows) or a complete-mode aggregation (the
      no-data batch rewrites an identical table) — pass False and skip
      a full extra micro-batch of state-store commits (profiled at
      sf0.1: the inner join's no-data batch cost as much as its data
      batch).
    - ``checkpointFileManagerClass`` = the FileSystem-based manager,
      always: fork-free checkpoint renames (``_FS_CHECKPOINT_MANAGER``).
    - ``stateStore.providerClass`` = ``provider``, when given.

    These confs are session-global, and the no-data one decides
    correctness, so drains on one session must not overlap: the scope
    holds a per-session lock for its whole body (start through
    awaitTermination), and raises if the session already has an active
    query — one started outside any scope would have frozen whatever
    confs were live at its start, and one started now would freeze
    ours.
    """
    confs = {
        "spark.sql.shuffle.partitions": str(
            partitions
            if partitions is not None
            else spark.sparkContext.defaultParallelism
        ),
        "spark.sql.streaming.noDataMicroBatches.enabled": (
            "true" if no_data_batch else "false"
        ),
        "spark.sql.streaming.checkpointFileManagerClass": _FS_CHECKPOINT_MANAGER,
    }
    if provider is not None:
        confs["spark.sql.streaming.stateStore.providerClass"] = provider
    with _DRAIN_LOCKS_GUARD:
        lock = _DRAIN_LOCKS.setdefault(spark, threading.RLock())
    with lock:
        active = spark.streams.active
        if active:
            names = sorted(str(q.name or q.id) for q in active)
            raise RuntimeError(
                "cannot start a drain: the session has active streaming "
                f"queries {names}; drains pin session-wide confs at query "
                "start, so stop those queries first or drain on "
                "spark.newSession()"
            )
        prev = {k: spark.conf.get(k, None) for k in confs}  # None ⇒ unset
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _input_rows(query) -> int:
    """Rows a finished query read, summed over its progress reports."""
    return sum(int(p.numInputRows) for p in query.recentProgress or [])


def _drain_to_memory(
    spark: SparkSession,
    frame: DataFrame,
    mode: str,
    *,
    checkpoint: str | None = None,
    **scope,
) -> tuple[DataFrame, int]:
    """Drain a streaming ``frame`` into a memory sink: the one place a
    memory-sink drain is started.

    Names the sink, starts it in output ``mode`` with
    Trigger.AvailableNow inside ``_drain_confs(spark, **scope)``, waits
    with an untimed ``awaitTermination()``, and reads it back through
    ``_drained_table`` (the temp view is always dropped).  ``checkpoint``
    pins the checkpoint location for callers that read the state store
    afterwards; otherwise Spark uses a temporary one.

    Returns ``(rows, input_rows)``: the drained frame and the number of
    rows the query read, which drains use to fail loudly on a source
    layout that silently matched nothing.
    """
    sink = f"memory_drain_{uuid.uuid4().hex[:8]}"
    opts = {} if checkpoint is None else {"checkpointLocation": checkpoint}
    with _drain_confs(spark, **scope):
        q = (
            frame.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .options(**opts)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _drained_table(spark, sink), _input_rows(q)


# Footer-read schema memo for streaming sources: every drain needs an
# explicit schema, previously via a fresh batch read (driver footer
# read, ~50-150 ms) per call — ~18 call sites across the family pay it
# once per billed row.  Schemas are session-independent, so the key
# carries no applicationId.
_SOURCE_SCHEMA_MEMO = SessionMemo(16)


def _source_schema(spark: SparkSession, path: str):
    """Schema of a parquet fixture file/dir via one memoized footer read.

    A path that cannot be fingerprinted (stat failed, or no ``.parquet``
    name) is read every time: no key could notice it being rewritten."""
    sf_dir, name = os.path.split(os.path.abspath(path))
    name = name.removesuffix(".parquet")
    return _SOURCE_SCHEMA_MEMO.get(
        None, sf_dir, (name,), lambda: spark.read.parquet(path).schema, name
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table with the same ts normalization
    as the batch loader (sources/tables.py).

    The file-stream source requires an explicit schema, but the fixture's
    ``ts`` physical type has changed across driver-generated datasets
    (TIMESTAMP(NANOS) → epoch-nanos long under ``nanosAsLong``; later
    TIMESTAMP(MICROS) → timestamp_ntz), so the schema is taken from a
    one-off batch read of the same file — a metadata-only footer read —
    and ``ts`` is normalized per its arrived type, never by assumption.
    Hardcoding the nanos layout silently shifted every event to 1970 when
    the fixture switched to micros (caught by the sf0.1 oracle sweep).
    """
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = _source_schema(spark, path)
    # The file-stream source requires a directory: stream the sf dir with a
    # glob filter selecting only the events file.
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    ts_type = schema["ts"].dataType.simpleString()
    if ts_type == "bigint":  # TIMESTAMP(NANOS) fixture under nanosAsLong
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        # timestamp_ntz (or timestamp): watermarks require the tz-aware
        # type; session tz is pinned to UTC (RUNTIME_CONFS) so the cast is
        # a re-tag, and formatted output matches the batch/NTZ path.
        ts = F.col("ts").cast("timestamp")
    return raw.withColumn("ts", ts)


def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation under Structured Streaming
    (watermarked), drained with Trigger.AvailableNow into a memory sink;
    returns the materialized result.

    Same result (and same DuckDB oracle) as operators/events.events_hourly.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(
        spark, agg, "complete", partitions=BOUNDED_KEY_PARTITIONS
    )[0]


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session counts via Spark's native session_window (30-min
    gap) — the streaming-native sessionization primitive, here exercised
    in batch mode (identical expression works under readStream).

    Mirrors operators/events.sessionize_users (lag+cumsum islands); both
    share the islands SQL oracle.
    """
    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_in_session"))
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_in_session").alias("n_events"),
        )
    )


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals (count + exact cent sum) maintained in
    GroupState across micro-batches.

    Drained with AvailableNow over the static fixture this equals the
    batch groupBy, so it shares an ANSI oracle — the state machinery is
    correctness-gated, not just smoke-tested.  On a live stream the same
    code emits one update per user per micro-batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)

    def update_totals(key, pdfs, state):
        # self-contained closure (pickled by value; no module refs)
        import pandas as pd

        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact integer cents — float sums would drift across batches
            cents += int((pdf["value"] * 100).round().sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [cents / 100.0]}
        )

    agg = (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, cents long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _drain_to_memory(spark, agg, "update")[0]


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each 'error' event joined to the same
    user's 'purchase' events within the preceding 30 minutes — both
    sides are watermarked streams, so Spark bounds the join state.

    Drained with AvailableNow over the static fixture the result equals
    the equivalent batch time-range join, so it carries a full ANSI
    oracle — a stream-stream join gated by DuckDB.
    """
    ev = read_events_stream(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        F.expr(
            "e_user = p_user AND p_ts <= e_ts AND p_ts > e_ts - INTERVAL '30' MINUTE"
        ),
    ).select(
        "error_id",
        "purchase_id",
        F.col("e_user").alias("user_id"),
    )
    # Join state is WATERMARK-bounded (1 h delay + 30 min range), not
    # corpus-bounded — the same sizing argument as the outer topologies
    # (OUTER_JOIN_STATE_PARTITIONS comment above): profiled at sf0.1 the
    # defaultParallelism pin ran 32 partitions × 4 near-empty stores ×
    # 2 batches ≈ 8.0 s/drain; 4 partitions + no no-data batch ≈ 1.2 s.
    # An INNER join's no-data batch only evicts state and emits NOTHING,
    # so skipping it cannot change the result (_drain_confs docstring).
    return _drain_to_memory(
        spark,
        joined,
        "append",
        partitions=OUTER_JOIN_STATE_PARTITIONS,
        no_data_batch=False,
    )[0]


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates on (user_id, event_type)
    under Structured Streaming keeps the first arrival per key — projected
    to the key columns, the drained result is exactly DISTINCT keys, so it
    shares a plain SQL oracle.

    State discipline at scale: unwatermarked dropDuplicates state grows
    with |distinct keys| forever; for unbounded key domains use
    dropDuplicatesWithinWatermark so keys older than the watermark evict
    (semantics then depend on arrival time, which is why the gated query
    is the exact variant).
    """
    ev = read_events_stream(spark, sf_dir)
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _drain_to_memory(spark, dedup, "append")[0]


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the static
    customer dimension (broadcast — the dim is re-read per micro-batch,
    so keeping it broadcast-sized or cached is the operational rule),
    then watermarked tumbling-hour aggregation per market segment.
    The canonical Structured Streaming enrichment topology: stream joins
    to a slowly-changing dim without any stream-stream state.

    Drained with Trigger.AvailableNow into a memory sink; over static
    input the result equals the batch join+window, so it shares a full
    ANSI oracle (strong gate, same policy as streaming_hourly_counts).
    """
    from ..sources import load_table

    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    return _drain_to_memory(
        spark, agg, "complete", partitions=BOUNDED_KEY_PARTITIONS
    )[0]


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour / 30 min slide) under Structured
    Streaming, drained with AvailableNow — each event lands in exactly
    two windows; over static input the result equals the batch
    events_sliding query, whose ANSI oracle it shares.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return _drain_to_memory(
        spark, agg, "complete", partitions=BOUNDED_KEY_PARTITIONS
    )[0]


def streaming_hourly_approx_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per tumbling hour under Structured
    Streaming: watermarked window + approx_count_distinct — the
    sketch-in-stream pattern (bounded state per window regardless of
    user cardinality; an exact streaming distinct would hold every key
    in state forever).

    HLL++ is hash-based and order-insensitive, so the drained stream
    result is pinned EQUAL to the batch twin by pytest (the batch twin
    is itself pinned against exact distinct counts).  Rows-only in the
    driver gate (estimates are engine-specific).
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "approx_users",
            "n_events",
        )
    )
    return _drain_to_memory(
        spark, agg, "complete", partitions=BOUNDED_KEY_PARTITIONS
    )[0]


def batch_hourly_approx_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming_hourly_approx_uniques (same expression
    tree over the batch reader) — the streaming pin's ground truth."""
    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "approx_users",
            "n_events",
        )
    )


def streaming_anomaly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly alerting: windowed per-type hourly means joined
    against a STATIC per-type baseline (mean/std over history) inside
    the streaming plan; windows whose mean deviates by more than 2σ are
    flagged — the alerting topology (stream-static enrich + threshold)
    of a monitoring pipeline, third streaming topology shape after pure
    windowed agg and stream-static key enrich.

    The baseline stddev comes from exact decimal cent moments (not the
    engine's streaming stddev) so the oracle can reproduce it; over a
    single AvailableNow drain the watermark drops nothing, so the whole
    streaming result is DuckDB-oracle-gated like streaming_hourly_counts.
    At scale the baseline is a small broadcast table refreshed by a
    batch job; state is bounded by the watermark.
    """
    from ..sources import load_table

    ev_static = load_table(spark, sf_dir, "events")
    cents_v = F.round(F.col("value") * 100).cast("bigint")
    base = (
        ev_static.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents_v.cast("decimal(28,0)")).alias("s1"),
            F.sum((cents_v * cents_v).cast("decimal(38,0)")).alias("s2"),
        )
        .select(
            "event_type",
            (F.col("s1").cast("double") / F.col("n") / 100.0).alias("base_mean"),
            (
                F.sqrt(
                    F.greatest(
                        F.col("s2").cast("double") / F.col("n")
                        - (F.col("s1").cast("double") / F.col("n"))
                        * (F.col("s1").cast("double") / F.col("n")),
                        F.lit(0.0),
                    )
                )
                / 100.0
            ).alias("base_std"),
        )
    )
    ev = read_events_stream(spark, sf_dir)
    win = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("win_cents"),
        )
    )
    joined = win.join(F.broadcast(base), "event_type").select(
        F.date_format(F.col("window.start"), _FMT).alias("window_start"),
        "event_type",
        "n_events",
        # Rounded in SCALED-INTEGER space: integer±.5 boundaries are
        # binary-exact, so Spark's repr-based HALF_UP and DuckDB's
        # binary-value rounding agree (a 4-dp round of cents/n/100 hit a
        # non-binary-exact .00005 boundary at sf0.1 and split engines).
        (
            F.round(F.col("win_cents").cast("double") * 100.0 / F.col("n_events"))
            .cast("bigint")
            .cast("double")
            / 10000.0
        ).alias("win_mean"),
        F.when(
            F.abs(
                F.col("win_cents").cast("double") / F.col("n_events") / 100.0
                - F.col("base_mean")
            )
            > 2.0 * F.col("base_std") / F.sqrt(F.col("n_events").cast("double")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_anomaly"),
    )
    return _drain_to_memory(
        spark, joined, "complete", partitions=BOUNDED_KEY_PARTITIONS
    )[0]


def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth streaming topology: trending detection — a watermarked
    tumbling-hour windowed count per event type drains through the
    streaming engine, then a batch post-pass ranks each window's top-3
    types by count ratio vs their PREVIOUS window (the
    streaming-agg → downstream-batch-rank split every monitoring
    pipeline uses, because cross-window lag needs the closed windows).

    Trending = ratio ≥ 1.5 with current count ≥ 10; first windows of a
    type (no predecessor) are excluded.  The ratio is an exact
    integer-count quotient rounded at 4 dp IN SCALED-INTEGER SPACE
    (round(n·10⁴/prev) via bigint, mirrored in the oracle — CLAUDE.md
    invariant #6: integer±.5 is binary-exact, so the engines can't
    split at a .5 boundary the way a post-hoc double round can); rank
    ties break on event_type.  Over one AvailableNow drain the result
    equals the pure batch query, so the whole topology is
    DuckDB-oracle-gated.

    At scale: the streaming side keeps |types| × watermark-horizon
    window state; the rank pass reads the compact windowed table, never
    raw events.
    """
    ev = read_events_stream(spark, sf_dir)
    win = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n_events",
        )
    )
    drained = _drain_to_memory(
        spark, win, "complete", partitions=BOUNDED_KEY_PARTITIONS
    )[0]

    from pyspark.sql.window import Window

    w_prev = Window.partitionBy("event_type").orderBy("w_start")
    # scaled-integer 4-dp round: bigint(round(n·10⁴/prev)) / 10⁴
    ratio4 = (
        F.round(F.col("n_events") * 10000.0 / F.col("prev_n"))
        .cast("bigint")
        .cast("double")
        / 10000.0
    )
    scored = (
        drained.withColumn("prev_n", F.lag("n_events").over(w_prev))
        .where(F.col("prev_n").isNotNull() & (F.col("n_events") >= 10))
        .withColumn("ratio", ratio4 + F.lit(0.0))
        .where(F.col("ratio") >= 1.5)
    )
    w_rank = Window.partitionBy("w_start").orderBy(
        F.col("ratio").desc(), F.col("event_type").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select(
            F.date_format("w_start", _FMT).alias("window_start"),
            "rk",
            "event_type",
            "n_events",
            "prev_n",
            "ratio",
        )
        .orderBy("window_start", "rk")
    )


def streaming_manifest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seventh streaming topology: a watermarked windowed aggregation
    drains through **foreachBatch into the custom manifest sink**
    (sources/manifest_sink.py — per-task JSONL shards, attempt-unique
    staging, atomic checksummed _MANIFEST.json), then the result is
    read back the way a downstream consumer would: trust ONLY files
    listed in committed manifests.  This ties the streaming surface and
    the custom-DataSource WRITE surface into one oracle-gated path —
    the "stream into a lakehouse table" shape, where every micro-batch
    commit is atomic and a failed batch leaves nothing visible.

    Over one AvailableNow drain in complete mode the read-back equals
    the batch hourly aggregation, so the whole topology shares
    events_hourly's DuckDB oracle.  Scale: shard count = task count per
    epoch; the manifest commit is O(tasks) driver work; the read-back
    is a plain parallel JSONL scan of listed shards.
    """
    import json

    from ..sources.manifest_sink import write_manifest

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    root = scratch_dir("stream_manifest_")

    def sink_batch(batch_df, epoch_id):
        write_manifest(batch_df, os.path.join(root, f"epoch={epoch_id}"))

    with _drain_confs(spark, partitions=BOUNDED_KEY_PARTITIONS):
        q = (
            agg.writeStream.foreachBatch(sink_batch)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # manifest-trust read-back: ONLY shards named in committed manifests
    shard_paths = []
    for epoch in sorted(os.listdir(root)):
        mpath = os.path.join(root, epoch, "_MANIFEST.json")
        if not os.path.exists(mpath):
            continue  # uncommitted epoch: invisible by contract
        with open(mpath) as fh:
            manifest = json.load(fh)
        shard_paths.extend(
            os.path.join(root, epoch, s["file"]) for s in manifest["shards"]
        )
    schema = (
        "window_start string, event_type string, n_events bigint, "
        "sum_value double"
    )
    if not shard_paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(shard_paths).select(
        "window_start", "event_type", "n_events", "sum_value"
    )


def stream_static_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static incremental dedup (8th streaming topology): arriving
    events whose (user_id, event_type) key is already registered in a
    STANDING index — here, every key seen in the corpus's first day —
    are dropped via a stream-static LEFT ANTI join before aggregation;
    surviving volume rolls up per event type.  This is the streaming
    face of incremental_neardup_lsh's batch pattern: each increment is
    checked against the standing index, never against itself at corpus
    scale.

    Operational rules encoded: the static side is a batch-derived
    DISTINCT key table (broadcast — re-read per micro-batch, so it must
    stay broadcast-sized or be cached); the anti join keeps NO stream
    state (unlike dropDuplicates, whose state grows with the key
    domain); the global aggregate drains in complete mode under
    Trigger.AvailableNow.

    Over static input the result equals the batch anti-join + rollup, so
    it shares a full ANSI oracle (same gate policy as the other drains).
    """
    from ..sources import load_table

    ev_b = load_table(spark, sf_dir, "events")
    first_day = ev_b.agg(
        (F.min("ts") + F.expr("INTERVAL 1 DAY")).alias("cut")
    )
    standing = (
        ev_b.crossJoin(F.broadcast(first_day))
        .where(F.col("ts") < F.col("cut"))
        .select("user_id", "event_type")
        .distinct()
    )
    ev = read_events_stream(spark, sf_dir)
    survivors = ev.join(
        F.broadcast(standing), ["user_id", "event_type"], "left_anti"
    )
    agg = survivors.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias(
            "sum_value"
        ),
    )
    return _drain_to_memory(
        spark, agg, "complete", partitions=BOUNDED_KEY_PARTITIONS
    )[0]


def streaming_coreset_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tenth streaming topology: STREAMING CORESET MAINTENANCE — a
    bounded weighted summary of the embedding stream kept up to date per
    micro-batch, the merge-and-reduce shape (Har-Peled/Mazumdar-style
    composition: per-batch summaries merge associatively) restated for
    Structured Streaming: each arriving vector lands in one of 256
    deterministic cells (sign pattern of its first 8 dimensions — a
    seed-free LSH grid), melts to (cell, dim) rows, and a streaming
    aggregation maintains per-(cell, dim) INTEGER moments (count, Σq,
    Σq², q = round(val·10⁶) micro-units).  Count + mean + second moment
    per cell IS a weighted coreset for mean/variance queries: cells
    merge by adding moments, so the keyed state is the summary and
    every micro-batch's update is associative — no raw vector is ever
    retained.

    Determinism (invariant 6): values quantize to integer micro-units
    BEFORE any aggregation, so state updates are exact integer math and
    the drained result is batch-equivalent bit-for-bit — this topology
    carries a FULL DuckDB oracle, unlike sketch drains whose centroid
    boundaries are partitioning-dependent.  The two emitted doubles are
    integer-quotient reconstructions.

    Scale: keyed state is ≤256·|dims| rows regardless of stream volume
    (BOUNDED_KEY_PARTITIONS); map-side partial aggregation means the
    stateful exchange moves per-cell partials, never per-vector rows.
    At 100 TB the bigint Σq² would overflow (|q| ≤ ~5·10⁶ ⇒ q² ≤
    2.5·10¹³; >10⁵ rows per (cell, dim) risks 2⁶³) — the production
    variant sums DECIMAL(38,0); fixture cardinalities stay ≥4 orders
    below the edge.  A zero-input drain raises (ADVICE r6 #1).
    """
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, "embeddings.parquet")
    schema = _source_schema(spark, path)
    if os.path.isdir(path):
        raw = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "embeddings.parquet")
            .load(sf_dir)
        )
    cell = F.lit(0)
    for i in range(8):
        cell = cell + F.when(
            F.element_at(F.col("embedding"), i + 1) >= 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    melted = raw.select(
        cell.cast("int").alias("cell"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    q = F.round(F.col("val").cast("double") * 1e6).cast("bigint")
    agg = (
        melted.select("cell", "dim", q.alias("q"))
        .groupBy("cell", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("sum_q"),
            F.sum(F.col("q") * F.col("q")).alias("sum_q2"),
        )
    )
    drained, n_in = _drain_to_memory(
        spark, agg, "complete", partitions=BOUNDED_KEY_PARTITIONS
    )
    if n_in == 0:
        raise RuntimeError(
            "streaming_coreset_moments: the embedding stream read 0 rows — "
            f"source layout under {sf_dir} no longer matches the reader"
        )
    return drained.select(
        "cell",
        "dim",
        "n",
        "sum_q",
        "sum_q2",
        (F.col("sum_q").cast("double") / F.col("n") / 1e6 + F.lit(0.0)).alias(
            "mean_val"
        ),
        (
            F.col("sum_q2").cast("double") / F.col("n") / 1e12 + F.lit(0.0)
        ).alias("second_moment"),
    ).orderBy("cell", "dim")


def _standing_index_tables(spark: SparkSession, sf_dir: str):
    """Materialize the standing near-dup index as BUCKETED stage tables
    (the shape a 100 TB pipeline persists): the corpus band index
    bucketed+sorted on its probe key (band, sig) and the per-doc hash
    sets bucketed+sorted on doc_old.  A per-micro-batch probe then
    sort-merge-joins against the bucketed layout — the static side is
    never broadcast and never re-shuffled; only the (tiny) arriving
    micro-batch moves.  Written once per (session, fixture) under a
    temp dir (same precedent as the manifest sink) and registered in
    the session catalog.
    """
    from ..operators.dedup import (
        _is_new_doc,
        _minhash_bands,
        _minhash_sketch_table,
    )

    def build() -> Owned:
        corpus = _minhash_sketch_table(spark, sf_dir).where(
            ~_is_new_doc(F.col("doc_id"))
        )
        tag = uuid.uuid4().hex[:8]
        root = scratch_dir("standing_idx_")
        bands_tbl, sets_tbl = f"neardup_bands_{tag}", f"neardup_sets_{tag}"
        (
            _minhash_bands(corpus)
            .select(F.col("doc_id").alias("doc_old"), "band", "sig")
            .write.bucketBy(BOUNDED_KEY_PARTITIONS, "band", "sig")
            .sortBy("band", "sig")
            .option("path", os.path.join(root, bands_tbl))
            .saveAsTable(bands_tbl)
        )
        (
            corpus.select(
                F.col("doc_id").alias("doc_old"),
                F.col("hashes").alias("ho"),
                F.col("sz").alias("sz_o"),
            )
            .write.bucketBy(BOUNDED_KEY_PARTITIONS, "doc_old")
            .sortBy("doc_old")
            .option("path", os.path.join(root, sets_tbl))
            .saveAsTable(sets_tbl)
        )
        tables = (bands_tbl, sets_tbl)
        return Owned(tables, dirs=(root,), tables=tables)

    return _STANDING_IDX_MEMO.get(
        spark, sf_dir, ("documents",), build, "standing_idx"
    )


_STANDING_IDX_MEMO = SessionMemo(4)
# sentinel-augmented events dirs for the outer-join drains
_SENTINEL_DIRS = SessionMemo(4)


def streaming_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ninth streaming topology: STREAMING near-duplicate detection
    against a standing LSH index — arriving documents (the val/test hash
    band of ``train_split_assign``, exactly incremental_neardup_lsh's
    "new batch") are MinHash-sketched in-stream (mapInPandas over the
    document stream), their band signatures probe a BUCKETED standing
    corpus band table SHUFFLE-SIDE (stream-static sort-merge join — the
    static side is never broadcast: a corpus-sized index cannot be; the
    bucketed+sorted layout means it is never re-shuffled per micro-batch
    either), and candidate pairs are verified with exact Jaccard ≥ 0.8
    against the bucketed per-doc hash-set table — the "dedup the crawl
    as it lands" shape, composing the streaming surface with the LSH
    dedup family.

    Operational rules encoded: the standing index is batch-derived — via
    the memoized sketch table, so stream and corpus share ONE sketch
    definition — and persisted once per (session, fixture) as bucketed
    stage tables (``_standing_index_tables``); the stream side is
    stateless through sketch + band-melt + stream-static joins; only the
    pair-level dropDuplicates keeps state, keyed by the (tiny) near-dup
    pair set (at scale: dropDuplicatesWithinWatermark).  Drains in
    APPEND mode — no aggregation, rows emit as they verify.  MERGE join
    hints pin the strategy (hints outrank autoBroadcastJoinThreshold, so
    AQE cannot silently re-broadcast the fixture-small index).

    Under one AvailableNow drain over the static fixture the emitted
    pair set equals the batch incremental_neardup_lsh, so this topology
    shares its exact cross-set Jaccard DuckDB oracle (same rounding,
    same ORDER BY applied on the drained result).  A zero-input drain
    raises instead of returning an empty frame (a silently-unmatched
    source layout must fail loudly — ADVICE r6 #1).
    """
    from ..operators.dedup import (
        _SKETCH_SCHEMA,
        _is_new_doc,
        _sketch_map_fn,
    )

    ensure_runtime_confs(spark)
    # standing corpus index: bucketed stage tables, built once per
    # (session, fixture)
    bands_tbl, sets_tbl = _standing_index_tables(spark, sf_dir)
    corpus_bands = spark.table(bands_tbl)
    corpus_sets = spark.table(sets_tbl)

    # document stream (schema from a footer-only batch read).  The
    # fixture may be a single file or a directory-style dataset; stream
    # the directory directly when it is one (pathGlobFilter matches leaf
    # file names only, so a glob on the dataset name would silently
    # drain zero rows from a directory layout — ADVICE r6 #1).
    path = os.path.join(sf_dir, "documents.parquet")
    schema = _source_schema(spark, path)
    if os.path.isdir(path):
        raw = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "documents.parquet")
            .load(sf_dir)
        )
    # NOTE (round-12 negative result, kept so it isn't re-tried): the
    # single-file source yields one scan partition, so the in-stream
    # sketch looks like the one-Python-worker funnel fixed in
    # streaming_epoch_log_sink — but a repartition(BOUNDED_KEY_PARTITIONS)
    # before mapInPandas measured SLOWER (min 1.47→1.68 s, med
    # 1.78→1.87 s, 4 reps): the arriving split is only ~1/4 of the docs
    # and shuffling raw text per micro-batch costs more than the sketch
    # parallelism buys (same verdict as the r11 bpe repartition A/B).
    arriving = raw.where(_is_new_doc(F.col("doc_id"))).select("doc_id", "text")
    sketched = arriving.mapInPandas(_sketch_map_fn(), schema=_SKETCH_SCHEMA)
    # the band melt CARRIES the per-doc hash set so verification never
    # re-joins the stream to itself (a stream-stream self-join would keep
    # unbounded join state; this stays stateless until the pair dedup)
    from ..operators.dedup import N_BANDS, ROWS_PER_BAND

    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.lit(b),
                *[
                    F.element_at(F.col("mh"), b * ROWS_PER_BAND + r + 1)
                    for r in range(ROWS_PER_BAND)
                ],
            ).alias("sig"),
        )
        for b in range(N_BANDS)
    ]
    new_melt = sketched.select(
        F.col("doc_id").alias("doc_new"),
        F.col("hashes").alias("hn"),
        F.col("sz").alias("sz_n"),
        F.explode(F.array(*band_structs)).alias("bs"),
    ).select("doc_new", "hn", "sz_n", "bs.band", "bs.sig")
    cand = (
        new_melt.join(corpus_bands.hint("merge"), ["band", "sig"])
        .select("doc_new", "doc_old", "hn", "sz_n")
        .dropDuplicates(["doc_new", "doc_old"])
    )
    inter = F.size(F.array_intersect(F.col("hn"), F.col("ho"))).cast("long")
    jac = inter / (F.col("sz_n") + F.col("sz_o") - inter)
    verified = (
        cand.join(corpus_sets.hint("merge"), "doc_old")
        .filter(jac >= 0.8)
        .select("doc_new", "doc_old", F.round(jac, 6).alias("jaccard"))
    )
    drained, n_in = _drain_to_memory(
        spark, verified, "append", partitions=BOUNDED_KEY_PARTITIONS
    )
    if n_in == 0:
        raise RuntimeError(
            "streaming_neardup_lsh: the document stream read 0 rows — "
            f"source layout under {sf_dir} no longer matches the reader "
            "(ADVICE r6 #1: fail loudly instead of draining empty)"
        )
    return drained.orderBy("doc_new", "doc_old")


def streaming_dedup_user_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen dedup via ``dropDuplicatesWithinWatermark``
    (the 11th topology, and the one streaming dedup API the engine had
    not yet exercised): each (user, event_type, day) key is kept once
    per watermark horizon, then a downstream count per event_type runs
    over the deduplicated stream — the daily-active-user shape every
    event pipeline computes, with dedup state bounded by the watermark
    instead of growing forever (plain ``dropDuplicates`` on a stream
    leaks state without bound; the WithinWatermark variant evicts keys
    older than the delay).

    Drained with AvailableNow over the static fixture the horizon covers
    the whole file, so the result equals batch DISTINCT + count and
    shares an ANSI oracle.  On a live stream the same code holds ~one
    day of (user, type, day) keys.  Day ids are exact integer floor
    divisions of epoch seconds (mirrored ``// 86400``).
    """
    ev = read_events_stream(spark, sf_dir)
    keyed = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_timestamp(ts) div 86400").alias("day"),
        "ts",
    ).withWatermark("ts", "3650 days")
    deduped = keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "day"]
    )
    # (distinct aggregates are unsupported on streams — the dedup op
    # itself carries the distinctness; min/max are stream-legal)
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days"),
        F.min("day").cast("long").alias("first_day"),
        F.max("day").cast("long").alias("last_day"),
    )
    # Complete mode re-emits the FULL state every batch, and the 3650-day
    # delay means the no-data batch's advanced watermark still evicts
    # nothing — profiled at sf0.1 that batch re-wrote an identical sink
    # table for ~0.5 s of state-store commits.  Skip it: the drained
    # result is the data batch's complete emission either way.
    drained, n_in = _drain_to_memory(
        spark,
        agg,
        "complete",
        partitions=BOUNDED_KEY_PARTITIONS,
        no_data_batch=False,
    )
    if n_in == 0:
        raise RuntimeError(
            "streaming_dedup_user_days: the event stream read 0 rows — "
            f"source layout under {sf_dir} no longer matches the reader"
        )
    return drained


def streaming_epoch_log_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twelfth streaming topology: a stateless projection streams through
    the NATIVE custom streaming sink (``DataSourceStreamWriter`` —
    sources/manifest_sink.register_epoch_log_sink), the one half of the
    Python DataSource API foreachBatch does not exercise: per-task
    staged JSONL shards, per-epoch atomic ``_EPOCH_n.json`` commits,
    abort-swept orphans.  The drained directory is then read back
    manifest-trust (only shards named in committed epoch manifests) and
    aggregated; the result equals the batch aggregate over the fixture,
    so the whole sink path — write(), commit(batchId), read-back — is
    value-gated by an ANSI oracle.

    ``value`` is quantized to exact integer cents BEFORE the sink so the
    JSONL round trip carries integers only (no float-repr drift).
    """

    from ..sources.manifest_sink import (
        committed_epoch_shards,
        register_epoch_log_sink,
    )

    register_epoch_log_sink(spark)
    ev = read_events_stream(spark, sf_dir)
    # The projection is stateless, so without a repartition the whole
    # micro-batch flows through ONE Python sink task (the single-file
    # source yields one scan partition) — spread the per-row JSONL
    # serialization across the pinned partition count; the manifest
    # read-back is shard-layout-independent.
    proj = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    ).repartition(BOUNDED_KEY_PARTITIONS)
    root = scratch_dir("epoch_log_sink_")
    ckpt = scratch_dir("epoch_log_ckpt_")
    with _drain_confs(spark, partitions=BOUNDED_KEY_PARTITIONS):
        q = (
            proj.writeStream.format("epoch_log_sink")
            .option("path", root)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if _input_rows(q) == 0:
        raise RuntimeError(
            "streaming_epoch_log_sink: the event stream read 0 rows — "
            f"source layout under {sf_dir} no longer matches the reader"
        )
    shards = committed_epoch_shards(root)
    back = spark.read.schema("event_type string, value_cents long").json(
        shards
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value_cents").cast("long").alias("cents_sum"),
    )


def _events_dir_with_sentinels(spark: SparkSession, sf_dir: str) -> str:
    """Temp directory holding the events fixture file PLUS two staggered
    far-future sentinel files (each one 'error' + one 'purchase' row,
    user_id -1, max ts + 1 / + 2 days) — the trick that advances BOTH
    sides' watermarks past every real event so a watermark-gated OUTER
    join can emit its final unmatched rows under an AvailableNow drain.
    Sentinel rows are filtered out of the result by user_id >= 0.

    State eviction in batch N uses the watermark committed at the END
    of batch N-1, so SOME batch must run after the sentinels arrive:
    under availableNow that is the NO-DATA batch (all files drain in
    one data batch, the no-data batch evicts — the consumers' default
    mode), or with maxFilesPerTrigger the next file's batch.  Two
    mtime-ordered sentinel files are kept so both modes work; in
    one-batch mode the second is redundant but harmless.

    The sentinel frame is derived FROM the fixture frame itself, so its
    physical ts type always matches whatever layout the round's fixture
    arrived with (nanos-as-long or micros — the round-2 type flip)."""
    import glob as _glob
    import shutil

    ensure_runtime_confs(spark)

    def build() -> Owned:
        src = os.path.join(sf_dir, "events.parquet")
        raw = spark.read.parquet(src)
        ts_type = raw.schema["ts"].dataType.simpleString()
        root = scratch_dir("events_sentinel_")
        # The stream reads `root` NON-recursively (pathGlobFilter *.parquet),
        # so a directory-layout fixture (the layout table_fingerprint
        # already supports) must be FLATTENED into root — one copy per part
        # file, listdir-sorted order preserved through ascending mtimes, all
        # strictly before the sentinels' 10_000_000_000+ band.
        if os.path.isdir(src):
            parts = sorted(
                f for f in os.listdir(src) if f.endswith(".parquet")
            )
            for j, name in enumerate(parts):
                dest = os.path.join(root, f"events_{j:05d}.parquet")
                shutil.copy(os.path.join(src, name), dest)
                os.utime(dest, (0, 9_000_000_000 + j))
        else:
            shutil.copy(src, os.path.join(root, "events.parquet"))
        last = raw.orderBy(F.col("ts").desc()).limit(1)
        for i, days in enumerate((1, 2)):
            shift = (
                (F.col("ts") + F.lit(days * 86400 * 10**9))
                if ts_type == "bigint"
                else F.col("ts") + F.expr(f"INTERVAL {days} DAY")
            )
            sent = last.select(
                F.lit(-1).cast("bigint").alias("event_id"),
                shift.alias("ts"),
                F.lit(-1).cast("bigint").alias("user_id"),
                F.explode(F.array(F.lit("error"), F.lit("purchase"))).alias(
                    "event_type"
                ),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            ).select(raw.columns)
            stage = os.path.join(root, "_stage")
            sent.coalesce(1).write.parquet(stage)
            (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
            dest = os.path.join(root, f"zz_sentinel_{i}.parquet")
            shutil.copy(part, dest)
            shutil.rmtree(stage)
            # file-stream source orders by modification time: fixture first,
            # then sentinel 0, then sentinel 1
            os.utime(dest, (1 + i, 10_000_000_000 + i))
        single = os.path.join(root, "events.parquet")
        if os.path.exists(single):
            os.utime(single, (0, 9_999_999_999))
        return Owned(root, dirs=(root,))

    return _SENTINEL_DIRS.get(spark, sf_dir, ("events",), build)


def streaming_outer_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13th streaming topology: watermarked LEFT OUTER stream-stream
    join — every 'purchase' event joined to same-user 'error' events in
    the following 30 minutes, emitting a NULL error_id when none arrives.
    Unlike the inner join (stream_stream_join), outer rows can only emit
    once the watermark proves no match can still arrive, so this
    exercises the state-EVICTION emission path: Spark holds each
    unmatched purchase in the join state store and releases it as a
    null-extended row when both watermarks pass its window.

    Drain determinism: an AvailableNow drain of a static file would end
    with the watermark one delay short of max(ts), withholding the last
    band of unmatched purchases forever; the two far-future sentinel
    rows (`_events_dir_with_sentinels`) push both input watermarks past
    every real event, so the drained result equals the batch LEFT JOIN
    exactly and the topology carries a full DuckDB oracle — rare for an
    outer stream-stream join.

    At 100 TB: state is bounded by the 30-minute range condition + 1-hour
    watermark on both sides (Spark derives the eviction predicate from
    the range constraint); key partitioning is on user_id via
    BOUNDED_KEY_PARTITIONS like every stateful topology here.
    """
    root = _events_dir_with_sentinels(spark, sf_dir)
    # schema from the ORIGINAL fixture path — root holds flattened part
    # files (events_NNNNN.parquet) when the fixture is a directory
    schema = _source_schema(spark, os.path.join(sf_dir, "events.parquet"))
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "*.parquet")
        # All files (fixture + sentinels) drain in ONE data batch; the
        # watermark committed at its end clears every real event, and
        # the availableNow NO-DATA batch (noDataMicroBatches.enabled,
        # default true) then runs eviction under it — 2 batches total,
        # measured 3.4 -> 2.4 s vs staggered 2-file triggers.  The
        # final-band pytest pin guards this: if a Spark upgrade stops
        # running the no-data batch, the pin goes red.
        .load(root)
    )
    ts_type = schema["ts"].dataType.simpleString()
    ts = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if ts_type == "bigint"
        else F.col("ts").cast("timestamp")
    )
    ev = raw.withColumn("ts", ts)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    # Sentinel rows are dropped AFTER the drain, not here: an in-stream
    # user_id >= 0 filter gets pushed down into the parquet scan, whose
    # row-group stats then skip the all-sentinel files entirely — the
    # watermark operator never sees them and never advances (observed:
    # the last ~1.5 h of unmatched rows withheld again).
    joined = purchases.join(
        errors,
        F.expr(
            "p_user = e_user AND e_ts >= p_ts "
            "AND e_ts <= p_ts + INTERVAL '30' MINUTE"
        ),
        "leftOuter",
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        # no-match sentinel -1 instead of NULL: a nullable bigint column
        # coerces to float64 (NaN) on the driver's pandas path — the
        # value-hash hazard of invariant 3
        F.coalesce(F.col("error_id"), F.lit(-1)).cast("long").alias("error_id"),
    )
    # OUTER_JOIN_STATE_PARTITIONS: join state is WATERMARK-bounded (live
    # rows = arrival-rate x the ~1.5 h horizon the range condition +
    # delay admit), not corpus-bounded, so state stays small at any
    # fixture SF; every extra partition costs state-store init x 4
    # stores x 2 batches for near-empty stores (32 -> 8 measured
    # 9.6 -> 2.8 s at sf0.01; 8 -> 4 takes the sf0.1 warm drain
    # 3.4 -> 2.5 s, flat below 4).  A production deployment sizes this
    # to horizon volume, which _drain_confs parameterizes.
    rows, _ = _drain_to_memory(
        spark, joined, "append", partitions=OUTER_JOIN_STATE_PARTITIONS
    )
    return rows.where(F.col("user_id") >= 0)


def streaming_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14th streaming topology: watermarked FULL OUTER stream-stream
    join — purchases and errors of the same user within a 30-minute
    window reconciled from BOTH directions: matched pairs emit on
    match, unmatched purchases AND unmatched errors each emit as
    null-extended rows when their side's state evicts.  leftOuter
    (streaming_outer_join_attribution) exercises one eviction stream;
    full-outer exercises both, which is exactly the shape of a
    two-feed reconciliation job (billing vs ledger, send vs ack).

    Reuses the memoized sentinel-augmented events dir — both sides'
    watermarks must clear every real event for the final unmatched
    bands on BOTH sides to drain (SCALE.md §6g); the -1 no-match
    sentinels keep the output schema atomic non-null bigints.
    """
    root = _events_dir_with_sentinels(spark, sf_dir)
    # schema from the ORIGINAL fixture path — root holds flattened part
    # files (events_NNNNN.parquet) when the fixture is a directory
    schema = _source_schema(spark, os.path.join(sf_dir, "events.parquet"))
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "*.parquet")
        # one data batch + the no-data eviction batch (see
        # streaming_outer_join_attribution's reader comment)
        .load(root)
    )
    ts_type = schema["ts"].dataType.simpleString()
    ts = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if ts_type == "bigint"
        else F.col("ts").cast("timestamp")
    )
    ev = raw.withColumn("ts", ts)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        F.expr(
            "p_user = e_user AND e_ts >= p_ts "
            "AND e_ts <= p_ts + INTERVAL '30' MINUTE"
        ),
        "fullOuter",
    ).select(
        F.coalesce(F.col("p_user"), F.col("e_user")).alias("user_id"),
        F.coalesce(F.col("purchase_id"), F.lit(-1)).cast("long").alias("purchase_id"),
        F.coalesce(F.col("error_id"), F.lit(-1)).cast("long").alias("error_id"),
    )
    # see streaming_outer_join_attribution's sizing note
    rows, _ = _drain_to_memory(
        spark, joined, "append", partitions=OUTER_JOIN_STATE_PARTITIONS
    )
    return rows.where(F.col("user_id") >= 0)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def rocksdb_daily_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15th streaming topology: per-(event_type, day) counts + exact
    cent sums drained under the ROCKSDB state store provider — the
    production state backend at 100 TB (state lives off-heap in RocksDB
    instances with changelog/snapshot files in the checkpoint, so state
    size is bounded by disk, not executor heap; the default HDFS-backed
    provider keeps every version in memory).  Every other topology here
    runs the default provider; this pins the RocksDB path end-to-end:
    provider init, off-heap puts/gets across batches, snapshot upload at
    commit, drained result identical to the batch GROUP BY (oracle).

    The key domain (event types × days) is bounded by construction, so
    BOUNDED_KEY_PARTITIONS sizes the state exchange, as elsewhere.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("long")
            .alias("cents_sum"),
        )
    )
    rows, _ = _drain_to_memory(
        spark,
        agg,
        "update",
        partitions=BOUNDED_KEY_PARTITIONS,
        provider=_ROCKSDB_PROVIDER,
    )
    return rows.orderBy("event_type", "day")


def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT gap expression (the
    session_window(ts, gap_column) overload): purchases hold a session
    open for 2 hours, anything else 30 minutes — the engagement-weighted
    sessionization rule fixed-gap session_window_agg cannot express.
    Works identically under readStream (same expression, watermark
    added), exercised here in batch mode like session_window_agg.

    Engine trap: the gap column must be CalendarIntervalType —
    ``INTERVAL 2 HOURS`` literals are DayTimeIntervalType under ANSI
    intervals and session_window REJECTS them; build gaps with
    ``make_interval``.

    Oracle: the variable-gap islands formulation — a session boundary
    is an event STRICTLY past the running MAX of (ts + gap) over all
    earlier same-user events ((ts, event_id) order, invariant-3 unique
    tiebreak); Spark's interval-merge semantics coincide exactly
    because max-of-ends is order-independent.  Boundary rule (verified
    empirically): an event landing EXACTLY at the running session end
    MERGES — Spark coalesces touching [start, end] intervals — so the
    islands break condition must be ``ts > MAX(ts + gap)``, not ``>=``.
    Pinned by a boundary-event unit test in tests/test_streaming_windows.py.
    """
    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    gap = F.when(
        F.col("event_type") == "purchase",
        F.expr("make_interval(0, 0, 0, 0, 2, 0, 0)"),
    ).otherwise(F.expr("make_interval(0, 0, 0, 0, 0, 30, 0)"))
    sess = ev.groupBy(
        F.session_window("ts", gap).alias("sw"), "user_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("n_purchases"),
    )
    return sess.select(
        "user_id",
        F.date_format(F.col("sw.start"), _FMT).alias("session_start"),
        "n_events",
        "n_purchases",
    ).orderBy("user_id", "session_start")


# Streaming table-sink memo: the sink table per (session, fixture); the
# entry owns the catalog table and its root (checkpoint + table path).
_TABLE_SINK_MEMO = SessionMemo(4)


def streaming_table_sink_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16th streaming topology: ``writeStream.toTable`` — the CATALOG
    table sink (files + metadata managed by the warehouse, queryable by
    name mid-stream), which none of the memory/foreachBatch/custom-sink
    topologies exercise.  Watermarked daily windows per event type with
    max/min/count of exact cents drain append-mode into an external
    parquet table; the result is ``spark.table(name)`` — files written
    by the streaming file-sink commit protocol (per-batch manifest under
    _spark_metadata, the exactly-once story for object-store sinks at
    100 TB).

    Sentinel-free determinism: append mode only emits windows the
    watermark has CLOSED, so the final (max-ts) day would be withheld —
    the same final-band problem the outer joins solve with sentinels
    (SCALE.md §6g).  Here the fixture is static and the query feeds the
    sink from ONE drain, so the guard is different: read back the table
    and UNION the last open day from a batch aggregate of rows past the
    last closed window — mirroring what a production job reads as
    "closed days from the table + today from the live view".  Both
    engines compute the identical union (the oracle is one plain GROUP
    BY: closed + open days partition the data by day).
    """
    ensure_runtime_confs(spark)

    def build() -> Owned:
        ev = read_events_stream(spark, sf_dir)
        cents = F.round(F.col("value") * 100).cast("bigint")
        agg = (
            ev.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.max(cents).cast("long").alias("max_cents"),
                F.min(cents).cast("long").alias("min_cents"),
            )
            .select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
                "event_type",
                "n_events",
                "max_cents",
                "min_cents",
            )
        )
        tag = uuid.uuid4().hex[:8]
        tbl = f"daily_type_sink_{tag}"
        root = scratch_dir("table_sink_")
        ck = os.path.join(root, "_ck")
        with _drain_confs(spark, partitions=BOUNDED_KEY_PARTITIONS):
            q = (
                agg.writeStream.outputMode("append")
                .option("checkpointLocation", ck)
                .option("path", os.path.join(root, "tbl"))
                .trigger(availableNow=True)
                .toTable(tbl)
            )
            q.awaitTermination()
        return Owned(tbl, dirs=(root,), tables=(tbl,))

    tbl = _TABLE_SINK_MEMO.get(spark, sf_dir, ("events",), build)
    closed = spark.table(tbl)
    # open-day guard: days the watermark never closed come from a batch
    # aggregate over the same source (production reads them from the
    # live view); day partitioning makes the union exact.
    from ..sources import load_table

    ev_b = load_table(spark, sf_dir, "events")
    cents_b = F.round(F.col("value") * 100).cast("bigint")
    all_days = (
        ev_b.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(cents_b).cast("long").alias("max_cents"),
            F.min(cents_b).cast("long").alias("min_cents"),
        )
    )
    open_days = all_days.join(
        closed.select("day").distinct(), "day", "left_anti"
    )
    return closed.unionByName(open_days).orderBy("day", "event_type")
