"""Multi-micro-batch streaming semantics.

The driver fixtures are single parquet files, so AvailableNow drains them
in ONE micro-batch and watermark/late-data behavior never executes — the
exact blind spot that let a broken timestamp assumption pass at sf0.01.
These tests force multiple batches (maxFilesPerTrigger=1 over files with
staged mtimes) and pin the two behaviors that only exist beyond one
batch: (a) chronological arrival reproduces the batch answer, (b) a row
arriving after the watermark has passed its window is dropped.
"""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

SCHEMA = StructType(
    [StructField("ts", TimestampType()), StructField("event_type", StringType())]
)


def _write(path: str, ts_list: list[str], mtime: int, types: list[str] | None = None) -> None:
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(ts_list), "event_type": types or ["e"] * len(ts_list)}
    )
    # micros, not pandas' default nanos — nanos INT64 under nanosAsLong
    # would not match the stream's TimestampType schema
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path)
    os.utime(path, (mtime, mtime))  # file source processes oldest-first


def _drain(spark, src_dir: str, mode: str, name: str):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("w"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
    )
    return {r["w"]: r["n"] for r in spark.table(name).collect()}, dropped


def test_chronological_batches_match_batch_answer(spark, tmp_path):
    d = str(tmp_path / "ordered")
    os.makedirs(d)
    base = int(time.time()) - 100
    _write(f"{d}/a.parquet", ["2024-01-01 10:00", "2024-01-01 10:20"], base)
    _write(f"{d}/b.parquet", ["2024-01-01 11:05", "2024-01-01 11:10"], base + 1)
    _write(f"{d}/c.parquet", ["2024-01-01 12:30"], base + 2)
    got, dropped = _drain(spark, d, "complete", "mb_ordered")
    assert dropped == 0
    want = {
        r["w"]: r["n"]
        for r in spark.read.schema(SCHEMA)
        .parquet(d)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("w"), "n"
        )
        .collect()
    }
    assert got == want  # 3 micro-batches, same answer as one batch scan


def test_late_row_beyond_watermark_is_dropped(spark, tmp_path):
    d = str(tmp_path / "late")
    os.makedirs(d)
    base = int(time.time()) - 100
    # batch 1: two rows in the 10:00 window
    _write(f"{d}/a.parquet", ["2024-01-01 10:00", "2024-01-01 10:30"], base)
    # batch 2: advances the event-time high mark to 13:00
    _write(f"{d}/b.parquet", ["2024-01-01 13:00"], base + 1)
    # batch 3: spacer — the 12:50 watermark needs one more batch to take
    # effect for input filtering (watermark updates propagate with a
    # one-batch lag; measured, not assumed)
    _write(f"{d}/c.parquet", ["2024-01-01 13:05"], base + 2)
    # batch 4: a 10:15 straggler, hours behind the watermark — dropped
    _write(f"{d}/d.parquet", ["2024-01-01 10:15"], base + 3)
    got, dropped = _drain(spark, d, "append", "mb_late")
    # append emits only watermark-closed windows: the 10:00 window with
    # its ON-TIME count; the straggler is dropped by the watermark, and
    # the 13:00 window stays open (watermark never reaches 14:00)
    assert dropped == 1
    assert got == {"2024-01-01 10:00:00": 2}


def test_drop_duplicates_within_watermark_evicts_old_keys(spark, tmp_path):
    """dropDuplicatesWithinWatermark is the bounded-state streaming dedup
    (state for a key evicts once the watermark passes its event time +
    delay). Multi-batch pin of both halves of the contract: a duplicate
    arriving within the watermark IS suppressed; the same key arriving
    after its state evicted is emitted AGAIN — the arrival-time-dependent
    semantics the docstring of streaming_dedup_events warns about, shown
    executing rather than asserted from documentation."""
    d = str(tmp_path / "ddww")
    os.makedirs(d)
    base = int(time.time()) - 100
    # batch 1: key k1 at 10:00
    _write(f"{d}/a.parquet", ["2024-01-01 10:00"], base, ["k1"])
    # batch 2: duplicate k1 within the 10-min delay — suppressed
    _write(f"{d}/b.parquet", ["2024-01-01 10:05"], base + 1, ["k1"])
    # batch 3+4: other keys advance the watermark far past 10:10 (two
    # batches for the measured one-batch propagation lag)
    _write(f"{d}/c.parquet", ["2024-01-01 13:00"], base + 2, ["adv1"])
    _write(f"{d}/d.parquet", ["2024-01-01 13:05"], base + 3, ["adv2"])
    # batch 5: k1 again at 13:10 — its old state evicted, so it re-emits
    _write(f"{d}/e.parquet", ["2024-01-01 13:10"], base + 4, ["k1"])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    dedup = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_type"]
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("ddww")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = sorted(str(r["ts"]) for r in spark.table("ddww").collect())
    # k1@10:00 emitted once (10:05 dup suppressed), the two watermark
    # advancers emitted, k1@13:10 emitted AGAIN after state eviction
    assert emitted == [
        "2024-01-01 10:00:00",
        "2024-01-01 13:00:00",
        "2024-01-01 13:05:00",
        "2024-01-01 13:10:00",
    ]


def test_update_mode_emits_only_changed_groups(spark, tmp_path):
    """Update output mode: each micro-batch appends ONLY the groups whose
    aggregate changed — the mode a serving-store writer consumes.  The
    union of updates, keeping each key's LAST emitted value, must equal
    the batch answer; and the total emitted rows must be the per-batch
    changed-group counts, not |groups| × batches."""
    d = str(tmp_path / "upd")
    os.makedirs(d)
    base = int(time.time()) - 100
    _write(f"{d}/a.parquet", ["2024-01-01 10:00", "2024-01-01 10:20"], base)
    _write(f"{d}/b.parquet", ["2024-01-01 10:40"], base + 1)  # updates 10:00 win
    _write(f"{d}/c.parquet", ["2024-01-01 12:30"], base + 2)  # new 12:00 win

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("w"), "n")
    )
    emitted = []

    def collect_updates(batch_df, epoch_id):
        emitted.extend((epoch_id, r["w"], r["n"]) for r in batch_df.collect())

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(collect_updates)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = {}
    for _, w, n in emitted:
        last[w] = n
    assert last == {"2024-01-01 10:00:00": 3, "2024-01-01 12:00:00": 1}
    # update mode re-emits the 10:00 window when batch b lands, but never
    # re-emits an unchanged group: strictly fewer rows than complete mode
    # (which would emit 1 + 1 + 2 + ... group rows every batch)
    assert 2 <= len(emitted) <= 4


def test_stream_stream_left_outer_null_pads_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER join: a left row with no right match
    within the time bound is held in state and emitted null-padded only
    after BOTH watermarks pass its join window — the semantics that
    distinguish outer from inner stream joins."""
    dl = str(tmp_path / "l")
    dr = str(tmp_path / "r")
    os.makedirs(dl)
    os.makedirs(dr)
    base = int(time.time()) - 100
    # left: key 'a' and 'b'; right: only 'a' within the 30-min bound
    _write(f"{dl}/1.parquet", ["2024-01-01 10:00"], base, ["a"])
    _write(f"{dr}/1.parquet", ["2024-01-01 10:10"], base, ["a"])
    _write(f"{dl}/2.parquet", ["2024-01-01 10:05"], base + 1, ["b"])
    _write(f"{dr}/2.parquet", ["2024-01-01 10:20"], base + 1, ["c"])  # no b
    # spacers advance event time far past b's window on BOTH sides
    for i, t_ in ((3, "2024-01-01 13:00"), (4, "2024-01-01 14:00")):
        _write(f"{dl}/{i}.parquet", [t_], base + i, ["zl"])
        _write(f"{dr}/{i}.parquet", [t_], base + i, ["zr"])

    def stream(d, tcol, kcol):
        return (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .withWatermark("ts", "1 minute")
            .select(F.col("ts").alias(tcol), F.col("event_type").alias(kcol))
        )

    j = stream(dl, "lts", "k").join(
        stream(dr, "rts", "rk"),
        F.expr("k = rk AND rts BETWEEN lts AND lts + INTERVAL 30 MINUTES"),
        "leftOuter",
    ).select(
        "k",
        F.date_format("lts", "yyyy-MM-dd HH:mm:ss").alias("l"),
        F.date_format("rts", "yyyy-MM-dd HH:mm:ss").alias("r"),
    )
    q = (
        j.writeStream.format("memory")
        .queryName("ss_louter")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r["k"], r["l"]): r["r"] for r in spark.table("ss_louter").collect()}
    assert rows[("a", "2024-01-01 10:00:00")] == "2024-01-01 10:10:00"  # matched
    assert rows[("b", "2024-01-01 10:05:00")] is None  # null-padded after expiry


def test_append_mode_emits_only_finalized_windows(spark, tmp_path):
    """Append output mode for windowed aggregation: a window row is
    emitted exactly once, and only after the watermark passes the window
    end — the mode that feeds append-only sinks (files, logs).  Windows
    still open when the stream drains are NOT emitted."""
    d = str(tmp_path / "appendw")
    os.makedirs(d)
    base = int(time.time()) - 100
    _write(f"{d}/a.parquet", ["2024-01-01 10:00", "2024-01-01 10:20"], base)
    # advances watermark past 11:00 (10-min delay): finalizes the 10:00 win
    _write(f"{d}/b.parquet", ["2024-01-01 11:30"], base + 1)
    # one more batch so the new watermark takes effect; 11:00 win finalizes
    _write(f"{d}/c.parquet", ["2024-01-01 13:00"], base + 2)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("w"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("append_final")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["w"]: r["n"] for r in spark.table("append_final").collect()}
    assert got.get("2024-01-01 10:00:00") == 2  # finalized and emitted once
    assert got.get("2024-01-01 11:00:00") == 1  # finalized by batch c
    assert "2024-01-01 13:00:00" not in got  # still open at drain: withheld


def test_session_window_update_mode_grows_sessions(spark, tmp_path):
    """Session windows across micro-batches: Spark REJECTS update mode
    for session aggregations (merging sessions makes per-key updates
    ill-defined — pinned here so the engine's supported-mode matrix is
    executable documentation), and COMPLETE mode over a session that
    spans micro-batches must equal the one-shot batch answer, including
    the cross-batch session merge."""
    from mini_pandas_spark.streaming.windows import _drain_confs

    d = str(tmp_path / "sess_upd")
    os.makedirs(d)
    base = int(time.time()) - 100
    # one user: batch1 starts a session, batch2 extends it within the
    # 30-min gap, batch3 opens a separate later session
    _write(f"{d}/a.parquet", ["2024-01-01 10:00", "2024-01-01 10:10"], base)
    _write(f"{d}/b.parquet", ["2024-01-01 10:25"], base + 1)
    _write(f"{d}/c.parquet", ["2024-01-01 15:00"], base + 2)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("s"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("e"),
            "n",
        )
    )
    # (a) update mode is rejected up front — supported-mode matrix pin
    import pyspark.errors

    with _drain_confs(spark):
        with pytest.raises(
            pyspark.errors.exceptions.captured.AnalysisException,
            match="STREAMING_OUTPUT_MODE",
        ):
            (
                agg.writeStream.outputMode("update")
                .format("memory")
                .queryName("sess_upd_rejected")
                .trigger(availableNow=True)
                .start()
            )

        # (b) complete mode across 3 micro-batches == one-shot batch
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("sess_complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    final = sorted(tuple(r) for r in spark.table("sess_complete").collect())
    want = sorted(
        tuple(r)
        for r in spark.read.schema(SCHEMA)
        .parquet(d)
        .groupBy(F.session_window("ts", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("s"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("e"),
            "n",
        )
        .collect()
    )
    assert final == want, (final, want)
