"""Incremental file ingest with restart-resume (foreachBatch +
Trigger.AvailableNow + a persistent checkpoint).

The 100 TB pattern this registers: a landing directory ingested
incrementally — each scheduled run drains ONLY the files that arrived
since the last run (the checkpoint's file-source log records what was
seen), aggregates the new micro-batch, and writes it to an idempotent
per-batch sink path (overwrite-by-batchId — the exactly-once recipe for
arbitrary sinks).  Restart-resume is the property that makes file
ingest O(new data) instead of O(directory): a nightly 100 TB landing
zone re-lists cheaply and reprocesses nothing.

``incremental_ingest_totals`` stages the events fixture as three
mtime-ordered files, drains files 1-2 under a checkpoint, ADDS file 3,
drains again with the SAME checkpoint (this second drain sees only the
new file — pinned in tests/test_streaming_ingest.py), and answers
per-type totals from the SINK — which therefore equals a plain GROUP BY
over the whole fixture, the DuckDB oracle.

Artifacts are memoized per (session, fixture) like every stage table
(CLAUDE.md invariant 9); the memo entry owns sink, checkpoint and
staged source, so eviction rmtrees them together.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import Owned, SessionMemo, scratch_dir
from ..sources.tables import ensure_runtime_confs
from .windows import (
    BOUNDED_KEY_PARTITIONS,
    _drain_confs,
    _write_one_parquet,
    read_fixture_stream,
)

_INGEST_MEMO = SessionMemo(4)


def _ingest_artifacts(spark: SparkSession, sf_dir: str):
    """Stage the landing dir, run the two-drain ingest, return
    (sink_dir, checkpoint_dir, src_dir)."""
    ensure_runtime_confs(spark)

    def build() -> Owned:
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        src = scratch_dir("ingest_src_")
        sink = scratch_dir("ingest_sink_")
        ck = scratch_dir("ingest_ck_")

        def stage_third(mod: int, order: int) -> None:
            _write_one_parquet(  # mtime order = arrival order
                raw.where(F.col("event_id") % 3 == mod),
                os.path.join(src, f"arrival_{order:02d}.parquet"),
                100 + order,
            )

        def write_batch(bdf, batch_id: int) -> None:
            # idempotent per-batch sink: overwrite-by-batchId makes a
            # replayed batch (failure between commit points) harmless
            (
                bdf.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.round(F.col("value") * 100).cast("bigint")
                    ).alias("cents"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(sink, f"batch_id={batch_id}"))
            )

        def drain() -> None:
            stream = read_fixture_stream(spark, sf_dir, "events", src)
            with _drain_confs(spark, partitions=BOUNDED_KEY_PARTITIONS):
                q = (
                    stream.writeStream.foreachBatch(write_batch)
                    .option("checkpointLocation", ck)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        stage_third(0, 0)
        stage_third(1, 1)
        drain()  # batch 0: arrivals 0-1
        stage_third(2, 2)
        drain()  # batch 1: ONLY the new arrival — the restart-resume receipt
        out = (sink, ck, src)
        return Owned(out, dirs=out)

    return _INGEST_MEMO.get(spark, sf_dir, ("events",), build)


def incremental_ingest_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event totals answered from the incremental ingest SINK:
    two availableNow drains over one checkpoint (second sees only the
    newly arrived file), per-batch idempotent parquet sink — so the
    sink's union equals a plain GROUP BY over the whole fixture, the
    DuckDB oracle.  At 100 TB each scheduled drain costs O(new files);
    the checkpoint's file log is what makes re-listing cheap."""
    sink, _ck, _src = _ingest_artifacts(spark, sf_dir)
    if not _glob.glob(os.path.join(sink, "batch_id=*", "*.parquet")):
        # empty fixture ⇒ zero committed batches ⇒ empty sink
        return spark.createDataFrame(
            [], "event_type string, n_events long, cents_sum long"
        )
    back = spark.read.parquet(sink)
    return (
        back.groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
        )
        .orderBy("event_type")
    )
