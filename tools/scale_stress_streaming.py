#!/usr/bin/env python
"""Scale-stress one stateful streaming topology (the RocksDB daily
rollup) at 2M / 10M / 20M events — the measured-discipline companion to
scale_stress_neardup.py for the streaming family (SCALE.md §6m).

Corpus: the sf0.1 events fixture (100k rows / 30 days / 5 types)
replicated `m` times; copy c shifts ts by +c days and offsets event_id,
so input grows m× while the state key domain (event_type × day) grows
only ~(30 + m) × 5 — the rollup's whole scale story is that state is
DOMAIN-bounded, not input-bounded.  The corpus is written as 8 parquet
files and drained with maxFilesPerTrigger=2 → 4 data batches, so the
run exercises cross-batch state puts/gets, changelog writes, and
snapshot upload — not just a single-batch pass.

Per (mult, provider ∈ {rocksdb, hdfs}) it measures: input rows, drained
batches, wall-clock, state keys, on-disk checkpoint state bytes — and
value-checks the drained result against the batch GROUP BY twin.

Usage: python tools/scale_stress_streaming.py [--mults 20,100,200]
Prints one markdown table (paste into SCALE.md) + one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mini_pandas_spark.streaming.windows import _drain_to_memory
from mini_pandas_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
HDFS = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)


def build_events(spark: SparkSession, out_dir: str, m: int) -> int:
    base = spark.read.parquet(f"{BASE}/events.parquet")
    parts = [base]
    for c in range(1, m):
        parts.append(
            base.select(
                (F.col("event_id") + c * 10_000_000).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {c} DAY")).alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.repartition(8).write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).count()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def drain(spark: SparkSession, src: str, provider: str) -> dict:
    schema = spark.read.parquet(src).schema
    ev = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "2")
        .load(src)
    )
    agg = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("long")
        .alias("cents_sum"),
    )
    ck = tempfile.mkdtemp(prefix="stress_stream_ck_")
    t0 = time.time()
    rows, _ = _drain_to_memory(
        spark, agg, "update", checkpoint=ck, partitions=8, provider=provider
    )
    wall = time.time() - t0
    # update-mode sink re-emits updated keys per batch; final value per key
    drained = {
        (r.event_type, r.day): (r.n_events, r.cents_sum) for r in rows.collect()
    }
    batch = spark.read.parquet(src)
    expect = {
        (r.event_type, r.day): (r.n_events, r.cents_sum)
        for r in batch.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("long")
            .alias("cents_sum"),
        )
        .collect()
    }
    commits = os.path.join(ck, "commits")
    n_batches = len(
        [f for f in os.listdir(commits) if not f.startswith(".")]
    )
    state_bytes = dir_bytes(os.path.join(ck, "state"))
    shutil.rmtree(ck, ignore_errors=True)
    return {
        "wall_s": round(wall, 2),
        "batches": n_batches,
        "keys": len(drained),
        "state_bytes": state_bytes,
        "match": drained == expect,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="20,100,200")
    args = ap.parse_args()
    mults = [int(x) for x in args.mults.split(",")]

    spark = get_spark(
        "streaming-scale-stress",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=32,
        extra_confs={"spark.driver.memory": "16g"},
    )

    rows = []
    print(
        "| mult | rows | provider | batches | wall (s) | state keys "
        "| state bytes | rows/s | match |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for m in mults:
        src = tempfile.mkdtemp(prefix=f"stress_events_{m}x_")
        n = build_events(spark, src, m)
        for label, provider in (("rocksdb", ROCKSDB), ("hdfs", HDFS)):
            r = drain(spark, src, provider)
            r.update({"mult": m, "rows": n, "provider": label})
            r["rows_per_s"] = int(n / r["wall_s"])
            rows.append(r)
            print(
                f"| {m}x | {n} | {label} | {r['batches']} | {r['wall_s']} "
                f"| {r['keys']} | {r['state_bytes']} | {r['rows_per_s']} "
                f"| {r['match']} |"
            )
        shutil.rmtree(src, ignore_errors=True)
    spark.stop()
    ok = all(r["match"] for r in rows)
    print(json.dumps({"metric": "streaming_scale_stress", "ok": ok, "rows": rows}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
