#!/usr/bin/env python
"""Scaling receipt (VERDICT_r11 item 5): prove the declared plans
parallelize with cores at a data size where parallelism matters.

At the bench SF (sf0.1, single-row-group fixture files, ~1-2 s rows)
the suite is fixed-overhead-bound: the round-11 driver's 8-core run
BEAT its 32-core run, so the bench cannot distinguish a parallel plan
from a serial one.  This tool:

1. generates a deterministic ~10x fixture ("sf1") ONCE under
   $SPARK_GRAFT_SF1_DIR (default /root/sf1_scale) by replicating the
   sf0.1 tables 10x with shifted keys (seedless, pure column math — no
   randomness, re-runs byte-identical) and writing 32-way parquet so
   scans split;
2. times a handful of data-bound HEADLINE queries — unchanged registry
   code — at local[8] vs local[32] in separate subprocesses (one master
   per JVM), best-of-N;
3. prints one JSON line {query: {"t8": s, "t32": s, "ratio": t8/t32}}
   and appends nothing anywhere (SCALE.md rows are written by hand from
   this output).

Optionally A/Bs session confs at the 32-core leg (--conf k=v), for the
deferred guide-§6 knobs (io.compression.codec=zstd, maxPartitionBytes)
that are no-ops at sf0.1.

Usage:
    python tools/scale_check.py                # generate if missing + run
    python tools/scale_check.py --queries q1_pricing_summary
    python tools/scale_check.py --conf spark.io.compression.codec=zstd
    python tools/scale_check.py --child 8      # internal: one timing leg
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF1_DIR_DEFAULT = "/root/sf1_scale"
# Replicas are DISJOINT copies (all keys shifted, document text rotated
# per replica), so the scaled workload is exactly N x the sf0.1
# workload — naive replication is degenerate: shared partkeys densify
# the co-purchase graph ~N² and identical texts share fingerprints
# across replicas, which measures a different (skewed) problem.
REPLICAS = {"lineitem": 80, "documents": 40, "embeddings": 50}
# data-bound queries across the engine's main table surfaces:
# columnar agg (lineitem), basket pair-expansion + graph (lineitem),
# CPU-heavy text passes (documents x2)
DEFAULT_QUERIES = [
    "q1_pricing_summary",
    "group_by_all_percentiles",
    "triangle_count_copurchase",
    "winnowing_fingerprints",
    "duplicated_span_islands",
    "edit_distance_near_dup",
    "kmeans_integer_lloyd",
]
# every per-replica-unique key column must shift so replicas stay
# disjoint subgraphs/corpora
TABLE_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
MARKER = "_SCALE_FIXTURE_OK_v2"
_AL = "abcdefghijklmnopqrstuvwxyz"


def generate(sf1_dir: str, src_dir: str) -> None:
    """Replicate src tables with shifted unique keys and per-replica
    letter-rotated text.  Deterministic: shift = (max_key + 1) *
    replica, rotation = replica index — no randomness, re-runs are
    byte-identical.

    Only ``MARKER`` proves a complete fixture: it is written after the
    last table, so without it every table is (re)written, even where a
    table dir exists — an interrupted run leaves dirs that can be
    half-written."""
    from pyspark.sql import functions as F

    from mini_pandas_spark.session import get_spark
    from mini_pandas_spark.sources import load_table

    if os.path.exists(os.path.join(sf1_dir, MARKER)):
        return
    os.makedirs(sf1_dir, exist_ok=True)
    spark = get_spark("scale-check-generate")
    for table in TABLE_KEYS:
        keys = TABLE_KEYS[table]
        n_rep = REPLICAS[table]
        src = load_table(spark, src_dir, table)
        shifts = src.agg(
            *[(F.max(k) + 1).alias(k) for k in keys]
        ).collect()[0]
        out = src.crossJoin(
            spark.range(n_rep).select(F.col("id").alias("__r"))
        )
        for k in keys:
            out = out.withColumn(k, F.col(k) + F.col("__r") * F.lit(shifts[k]))
        if table == "documents":
            # rotate letters per replica: word/char structure (lengths,
            # token counts) is preserved, but grams/hashes are disjoint
            # across replicas — the corpus is n_rep independent corpora
            rot = F.col("text")
            for r in range(1, n_rep):
                rot = F.when(
                    F.col("__r") == r,
                    F.translate("text", _AL, _AL[r:] + _AL[:r]),
                ).otherwise(rot)
            out = out.withColumn("text", rot)
        (
            out.drop("__r")
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(sf1_dir, f"{table}.parquet"))
        )
    spark.stop()
    with open(os.path.join(sf1_dir, MARKER), "w") as fh:
        fh.write(f"replicas={REPLICAS} src={src_dir}\n")


def child(cpus: int, sf1_dir: str, names: list[str], confs: list[str],
          reps: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from bench import materialize
    from mini_pandas_spark.queries import queries
    from mini_pandas_spark.session import get_spark

    extra = dict(kv.partition("=")[::2] for kv in confs)
    spark = get_spark(f"scale-check-{cpus}", cpus=cpus, extra_confs=extra)
    qs = queries()

    # warm: JVM/codegen + one scan of each fixture table
    for t in TABLE_KEYS:
        materialize(spark.read.parquet(os.path.join(sf1_dir, f"{t}.parquet")))
    out = {}
    for name in names:
        best = None
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"scale{cpus}:{name}:r{rep}")
            t0 = time.time()
            materialize(qs[name](spark, sf1_dir))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    print("SCALE_CHILD_JSON:" + json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=DEFAULT_QUERIES)
    ap.add_argument("--conf", action="append", default=[],
                    help="extra session conf for BOTH legs (k=v)")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--child", type=int, metavar="CPUS",
                    help="internal: run one timing leg in-process")
    ap.add_argument("--cpus", nargs=2, type=int, default=[8, 32])
    args = ap.parse_args()

    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", SF1_DIR_DEFAULT)
    src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if args.child:
        child(args.child, sf1_dir, args.queries, args.conf, args.reps)
        return

    generate(sf1_dir, src_dir)
    # one subprocess per (query, core-count): a shared session lets the
    # previous query's lingering checkpoint blocks / GC pressure skew
    # the next row (observed: group_by_all_percentiles 14.7 s isolated
    # vs 20.6 s after triangle in one session)
    legs = {cpus: {} for cpus in args.cpus}
    for name in args.queries:
        for cpus in args.cpus:
            cmd = [
                sys.executable, os.path.abspath(__file__), "--child",
                str(cpus), "--reps", str(args.reps), "--queries", name,
            ]
            for kv in args.conf:
                cmd += ["--conf", kv]
            proc = subprocess.run(
                cmd, capture_output=True, text=True, cwd=HERE, timeout=3600
            )
            line = [
                ln for ln in proc.stdout.splitlines()
                if ln.startswith("SCALE_CHILD_JSON:")
            ]
            if not line:
                sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
                raise SystemExit(
                    f"child local[{cpus}] {name} produced no timing line"
                )
            legs[cpus].update(json.loads(line[-1].split(":", 1)[1]))
    lo, hi = args.cpus
    result = {
        name: {
            f"t{lo}": legs[lo][name],
            f"t{hi}": legs[hi][name],
            "ratio": round(legs[lo][name] / max(legs[hi][name], 1e-9), 2),
        }
        for name in args.queries
    }
    print(json.dumps({"sf1_dir": sf1_dir, "confs": args.conf,
                      "cpus": args.cpus, "queries": result}))


if __name__ == "__main__":
    main()
