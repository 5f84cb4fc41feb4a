"""Streaming surface beyond the registered queries: foreachBatch sink
(the exactly-once pattern for arbitrary sinks) and watermark-driven
state cleanup plumbing."""

import os

from pyspark.sql import functions as F

from mini_pandas_spark.streaming import read_events_stream

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_foreach_batch_sink(spark, tmp_path):
    """foreachBatch gives each micro-batch as a normal DataFrame plus an
    epoch id — the hook for idempotent writes to arbitrary sinks."""
    out = str(tmp_path / "sink")
    seen = []

    def write_batch(batch_df, epoch_id):
        seen.append((epoch_id, batch_df.count()))
        batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    ev = read_events_stream(spark, SF)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 1
    total = sum(n for _, n in seen[-1:])  # complete mode: last batch has all groups
    assert total == 5  # five event types
    back = spark.read.parquet(f"{out}/epoch={seen[-1][0]}")
    assert back.count() == 5
    assert sum(r["n"] for r in back.collect()) == 1000  # all events counted


def test_streaming_query_progress_observable(spark):
    """lastProgress exposes rows-processed telemetry — the ops hook a
    production pipeline monitors."""
    ev = read_events_stream(spark, SF)
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("progress_probe")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None
    assert q.lastProgress["numInputRows"] == 1000


def test_synthetic_stream_drains_exactly_once(spark):
    """The custom Python streaming source must deliver every offset range
    exactly once: two independent drains produce the identical relation
    (any dropped or replayed micro-batch would skew the counts/sums)."""
    from mini_pandas_spark.queries import queries

    q = queries()["synthetic_stream_rollup"]
    a = sorted(tuple(r) for r in q(spark, "unused").collect())
    b = sorted(tuple(r) for r in q(spark, "unused").collect())
    assert a == b
    assert sum(r[1] for r in a) == 500


def test_foreach_batch_upsert_merge(spark, tmp_path):
    """Upsert-merge (MERGE INTO emulation) via foreachBatch: each
    micro-batch of per-user purchase totals merges into a keyed parquet
    "table" — existing keys are replaced by the batch's newer aggregate,
    new keys are appended.  The canonical streaming→serving-store
    topology where the sink has no native upsert.

    The merge is a full-outer-style coalesce: target anti-join batch
    (rows to keep) union the batch itself (rows to upsert), written
    atomically to a new version directory — at scale this is exactly the
    copy-on-write MERGE a table format (e.g. a transaction-log table)
    performs under the hood.
    """
    import pathlib

    target_root = str(tmp_path / "serving")
    versions = []

    def upsert(batch_df, epoch_id):
        batch = batch_df.select("user_id", "total")
        if versions:
            target = spark.read.parquet(versions[-1])
            keep = target.join(batch, "user_id", "left_anti")
            merged = keep.unionByName(batch)
        else:
            merged = batch
        out = f"{target_root}/v{epoch_id}"
        merged.write.mode("overwrite").parquet(out)
        versions.append(out)

    ev = read_events_stream(spark, SF).where(F.col("event_type") == "purchase")
    totals = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total")
    )
    q = (
        totals.writeStream.outputMode("complete")
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert versions, "no micro-batch arrived"
    final = spark.read.parquet(versions[-1])
    # the merged table equals the batch answer computed directly
    from mini_pandas_spark.sources import load_table

    expect = {
        r["user_id"]: r["total"]
        for r in load_table(spark, SF, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total")
        )
        .collect()
    }
    got = {r["user_id"]: r["total"] for r in final.collect()}
    assert got == expect
    # keys are unique after the merge (upsert, not append)
    assert final.count() == final.select("user_id").distinct().count()
    assert pathlib.Path(target_root).exists()


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: a file-source stream with a checkpoint
    processes batch 1, STOPS, new files land, and a NEW query object
    restarted from the same checkpoint processes ONLY the unseen files —
    the file-source offset log survives the restart, so the sink holds
    each input row exactly once.  This is the recovery contract a
    100 TB ingestion pipeline leans on after every executor/driver loss.
    """
    import time as _t

    import pandas as pd

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    base = int(_t.time()) - 100

    def write(path, ids, mtime):
        pdf = pd.DataFrame({"id": ids})
        pdf.to_parquet(path)
        os.utime(path, (mtime, mtime))

    write(f"{src}/a.parquet", [1, 2, 3], base)

    def run_once():
        stream = spark.readStream.schema("id long").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert sorted(r["id"] for r in spark.read.parquet(sink).collect()) == [1, 2, 3]
    # stream is fully stopped; stage two more files, restart from ckpt
    write(f"{src}/b.parquet", [4, 5], base + 1)
    write(f"{src}/c.parquet", [6], base + 2)
    run_once()
    got = sorted(r["id"] for r in spark.read.parquet(sink).collect())
    assert got == [1, 2, 3, 4, 5, 6], got  # a.parquet NOT reprocessed


def test_streaming_approx_uniques_equals_batch_twin(spark):
    """HLL++ is hash-based and order-insensitive, so draining the
    watermarked stream (AvailableNow) must produce the EXACT same
    estimates as the identical batch aggregation."""
    from mini_pandas_spark.streaming.windows import (
        batch_hourly_approx_uniques,
        streaming_hourly_approx_uniques,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, streaming_hourly_approx_uniques(spark, sf).collect()))
    want = sorted(map(tuple, batch_hourly_approx_uniques(spark, sf).collect()))
    assert got == want
    assert len(got) > 0


def test_standing_index_is_bucketed_and_joined_shuffle_side(spark):
    """streaming_neardup_lsh's standing corpus index must be (a) persisted
    as bucketed+sorted stage tables on the join keys and (b) joined
    WITHOUT a broadcast and WITHOUT re-shuffling the static side — a
    corpus-sized index cannot be broadcast per micro-batch (round-6
    verdict item #2).  Pinned on the batch twin of the per-micro-batch
    probe plan: every Exchange must sit on the (tiny) probe side, never
    above a standing-index scan."""
    from pyspark.sql import functions as F

    from mini_pandas_spark.operators.dedup import (
        _is_new_doc,
        _minhash_bands,
        _minhash_sketch_table,
    )
    from mini_pandas_spark.streaming.windows import _standing_index_tables

    sf = "/root/testdata/sf0.001"
    bands_tbl, sets_tbl = _standing_index_tables(spark, sf)

    desc = {
        str(r.col_name): str(r.data_type)
        for r in spark.sql(f"DESCRIBE FORMATTED {bands_tbl}").collect()
    }
    assert desc.get("Num Buckets") == "8", desc
    assert desc.get("Bucket Columns") == "[`band`, `sig`]", desc

    new = _minhash_sketch_table(spark, sf).where(_is_new_doc(F.col("doc_id")))
    melt = _minhash_bands(new).select(
        F.col("doc_id").alias("doc_new"), "band", "sig"
    )
    cand = (
        melt.join(spark.table(bands_tbl).hint("merge"), ["band", "sig"])
        .select("doc_new", "doc_old")
        .dropDuplicates()
    )
    ver = cand.join(spark.table(sets_tbl).hint("merge"), "doc_old")
    plan = ver._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("SortMergeJoin") == 2, plan
    # the static side must flow from its bucketed FileScan into its
    # SortMergeJoin with NO Exchange on the path: from each neardup_*
    # scan line, walk the ancestor chain (strictly shallower indent)
    # up to the nearest SortMergeJoin and assert no Exchange appears
    # (exchanges ABOVE the join re-shuffle the joined candidates — the
    # tiny probe side — and are fine)
    lines = plan.splitlines()

    def depth(s):
        return len(s) - len(s.lstrip(" :+-"))

    scans = [
        i
        for i, ln in enumerate(lines)
        if "FileScan" in ln and ("neardup_bands_" in ln or "neardup_sets_" in ln)
    ]
    assert len(scans) >= 2, plan
    for i in scans:
        d = depth(lines[i])
        for j in range(i - 1, -1, -1):
            dj = depth(lines[j])
            if dj >= d:
                continue
            if "SortMergeJoin" in lines[j]:
                break
            assert "Exchange" not in lines[j], (
                "Exchange between a standing-index scan and its join:\n" + plan
            )
            d = dj


def test_outer_join_emits_final_watermark_band(spark):
    """streaming_outer_join_attribution (13th topology): the drained
    result must equal the batch LEFT JOIN *including unmatched purchases
    from the final watermark band* (ts within 1.5h of max ts) — the rows
    a sentinel-less AvailableNow drain provably withholds (the state
    eviction that releases them needs a batch AFTER the watermark has
    passed them).  Pins both the two-sentinel mechanism and the
    no-pushdown placement of the sentinel filter."""
    from pyspark.sql import functions as F

    from mini_pandas_spark.queries import queries
    from mini_pandas_spark.sources import load_table

    SF = "/root/testdata/sf0.001"
    got = queries()["streaming_outer_join_attribution"](spark, SF)
    gset = {(r.purchase_id, r.user_id, r.error_id) for r in got.collect()}

    ev = load_table(spark, SF, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("eu"),
        F.col("ts").alias("e_ts"),
    )
    exp = p.join(
        e,
        (F.col("u") == F.col("eu"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTE")),
        "left",
    ).select(
        "purchase_id",
        F.col("u").alias("user_id"),
        F.coalesce("error_id", F.lit(-1)).cast("long").alias("error_id"),
        "p_ts",
    )
    erows = exp.collect()
    eset = {(r.purchase_id, r.user_id, r.error_id) for r in erows}
    assert gset == eset
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    band = [
        r
        for r in erows
        if r.error_id == -1
        and (max_ts - r.p_ts).total_seconds() <= 5400
    ]
    assert band, "fixture has no unmatched purchase in the final band"
    assert all(
        (r.purchase_id, r.user_id, -1) in gset for r in band
    ), "final-band unmatched purchases were withheld by the drain"


def test_sentinel_dir_supports_directory_layout_fixture(spark, tmp_path):
    """Round-8 advice: _events_dir_with_sentinels must accept the
    fixture layout where events.parquet is a DIRECTORY of part files
    (the layout memo.table_fingerprint already supports) by flattening the
    parts into the sentinel dir — and the outer-join drain over it must
    equal the single-file-layout drain exactly."""
    import os

    from mini_pandas_spark.queries import queries

    SF = "/root/testdata/sf0.001"
    sfd = str(tmp_path / "sfdir")
    os.makedirs(sfd)
    (
        spark.read.parquet(os.path.join(SF, "events.parquet"))
        .repartition(3)
        .write.parquet(os.path.join(sfd, "events.parquet"))
    )
    q = queries()["streaming_outer_join_attribution"]
    base = {
        (r.purchase_id, r.user_id, r.error_id) for r in q(spark, SF).collect()
    }
    got = {
        (r.purchase_id, r.user_id, r.error_id) for r in q(spark, sfd).collect()
    }
    assert got == base


def test_rocksdb_topology_drains_and_restores_provider_conf(spark):
    """The 15th topology pins RocksDBStateStoreProvider only for its own
    drain: the session conf must be untouched before AND after (other
    topologies keep the default provider), and the drained rollup must
    be non-empty."""
    from mini_pandas_spark.queries import queries

    key = "spark.sql.streaming.stateStore.providerClass"
    assert spark.conf.get(key, None) is None
    rows = queries()["rocksdb_daily_type_rollup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    assert spark.conf.get(key, None) is None


def test_state_reader_agrees_with_sink_path_and_snapshots(spark):
    """Cross-path consistency: the totals decoded FROM STATE FILES
    (state_store_user_totals) must equal the applyInPandasWithState
    SINK-path totals (streaming_user_totals) on count and exact cents,
    and state_evolution_snapshots' latest snapshot must equal the state
    reader's totals — three independent state machineries, one answer."""
    from mini_pandas_spark.queries import queries

    SF = "/root/testdata/sf0.001"
    qs = queries()
    from_state = {
        r.user_id: (r.n_events, r.cents_sum)
        for r in qs["state_store_user_totals"](spark, SF).collect()
    }
    from_sink = {
        r.user_id: (r.n_events, round(r.total_value * 100))
        for r in qs["streaming_user_totals"](spark, SF).collect()
    }
    assert from_state == from_sink
    latest_snap = {
        r.user_id: (r.n_events, r.cents_sum)
        for r in qs["state_evolution_snapshots"](spark, SF).collect()
        if r.snapshot_batch == 1
    }
    assert latest_snap == from_state


def test_join_state_final_eviction_leaves_only_sentinels(spark):
    """Eviction proof for join_state_buffered_sides: after the
    availableNow NO-DATA batch runs eviction under the sentinel-advanced
    watermark, the FINAL join state (no batchId option) holds ONLY
    far-future sentinel rows (user_id -1) on each side — every real
    event's buffered row was released.  The registered query reads
    batch 0 (pre-eviction, oracle-gated); this pins the post-eviction
    half that sentinels make non-SQL-expressible."""
    from pyspark.sql import functions as F

    from mini_pandas_spark.streaming.state_reader import (
        _outer_join_state_checkpoint,
    )

    SF = "/root/testdata/sf0.001"
    ck = _outer_join_state_checkpoint(spark, SF)
    for side, user_col in (("left", "p_user"), ("right", "e_user")):
        final = (
            spark.read.format("statestore")
            .option("joinSide", side)
            .load(ck)
            .select(F.col(f"value.{user_col}").alias("u"))
        )
        rows = [r.u for r in final.collect()]
        assert rows, f"{side} final state unexpectedly empty"
        assert all(u == -1 for u in rows), (
            f"{side} side retained real buffered rows: "
            f"{[u for u in rows if u != -1][:5]}"
        )


def test_join_state_batch0_matches_drained_inputs(spark):
    """Batch-0 join state == each side's full filtered input (nothing
    evicts under the previous watermark during the data batch): row
    counts per side equal the fixture's purchase/error counts."""
    from mini_pandas_spark.queries import queries
    from mini_pandas_spark.sources import load_table

    SF = "/root/testdata/sf0.001"
    got = queries()["join_state_buffered_sides"](spark, SF).toPandas()
    ev = load_table(spark, SF, "events").groupBy("event_type").count()
    counts = {r["event_type"]: r["count"] for r in ev.collect()}
    by_side = got.groupby("side").size().to_dict()
    assert by_side.get("purchase", 0) == counts.get("purchase", 0)
    assert by_side.get("error", 0) == counts.get("error", 0)
    # the state read must not leak sentinel rows into the product
    assert (got.user_id >= 0).all()


def test_join_state_change_feed_batch1_eviction_churn(spark):
    """The non-SQL half of join_state_change_feed: batch 1 (the no-data
    eviction batch) appears in each side's keyWithIndexToValue change
    feed as update+delete CHURN — the store tail-swap-compacts per-key
    row indexes while evicting, so deletes carry NULL values and some
    indexes are rewritten.  Pins: (a) the feed's batch domain is exactly
    {0, 1}; (b) batch 0 is updates-only; (c) batch 1 contains BOTH
    updates and deletes on each side; (d) delete records have NULL
    values; (e) the registered query (batch-0 updates) set-equals the
    joinSide snapshot read at batch 0 — the cross-surface equality that
    underwrites sharing join_state_buffered_sides' oracle."""
    from mini_pandas_spark.queries import queries
    from mini_pandas_spark.streaming.state_reader import (
        _outer_join_state_checkpoint,
    )

    SF = "/root/testdata/sf0.001"
    ck = _outer_join_state_checkpoint(spark, SF)
    for side in ("left", "right"):
        cf = (
            spark.read.format("statestore")
            .option("storeName", f"{side}-keyWithIndexToValue")
            .option("readChangeFeed", "true")
            .option("changeStartBatchId", 0)
            .load(ck)
        )
        rows = cf.select("batch_id", "change_type", "value").collect()
        batches = {r.batch_id for r in rows}
        assert batches == {0, 1}, f"{side}: batch domain {batches}"
        b0_types = {r.change_type for r in rows if r.batch_id == 0}
        assert b0_types == {"update"}, f"{side}: batch-0 types {b0_types}"
        b1_types = {r.change_type for r in rows if r.batch_id == 1}
        assert b1_types == {"update", "delete"}, (
            f"{side}: batch-1 churn types {b1_types}"
        )
        assert all(
            r.value is None
            for r in rows
            if r.change_type == "delete"
        ), f"{side}: delete records carried values"
    qs = queries()
    feed = qs["join_state_change_feed"](spark, SF).collect()
    snap = qs["join_state_buffered_sides"](spark, SF).collect()
    a = {(r.side, r.event_id, r.user_id, r.buffered_ts) for r in feed}
    b = {(r.side, r.event_id, r.user_id, r.buffered_ts) for r in snap}
    assert a == b, (
        f"feed@batch0 != snapshot@batch0: only-feed={sorted(a - b)[:3]}, "
        f"only-snap={sorted(b - a)[:3]}"
    )
    assert all(r.batch_id == 0 and r.change_type == "update" for r in feed)
