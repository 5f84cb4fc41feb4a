#!/usr/bin/env python
"""Scale-stress the z-order layout: does a fixed 2-D box query stay
OUTPUT-bound (scan rows ~constant) while the corpus grows 16x?

Corpus: sf0.1 lineitem (600k rows) replicated m in {1, 4, 16}; copy c
shifts l_partkey by c * 20_000, so the key DOMAIN grows with the data
(the TPC-H scaling shape) and the fixed box (partkey 0-99 x suppkey
0-4) keeps a constant result set.  The registered 20-bit interleave
covers the 16x shifted domain; widths below the domain WRAP shifted
partkeys back into the box's z-region and silently destroy pruning
(the documented domain cap of a fixed-width curve; at 100 TB you size
Z_BITS to the key domain, or quantize keys to ranks first).

Per m it writes the z-clustered layout (16*m files — constant file
size) and an identically-partitioned unclustered control, runs the box
query on both, and records scan-output rows (rows surviving row-group
stats pruning), result rows, and wall.  The claim being measured: scan
rows over the z layout stay ~flat as the corpus grows 16x, while the
control's scan rows grow ~16x — box cost is output-bound, not
corpus-bound.

Round 11 adds the SPARSE-DOMAIN stress (on by default): the same 16x
corpus with partkeys STRETCHED by a large odd constant (the
hashed/snowflake-ID shape — a huge, sparse, still-monotone domain to
~5e13 >> 2^20).  A fixed-width curve must MASK keys to its bit width,
and masking a sparse domain keeps only the low bits — a scramble of
the true key order — so z-clustering stops correlating with the true
partkey and the box's partkey predicate prunes (almost) nothing.  The
rank-QUANTIZED curve (operators/layout.quantized_layout_table's
recipe: equi-depth rank buckets, then interleave) sees only the key
ORDER, which stretching preserves, so pruning is unchanged — the
measured receipt behind the quantized_box_pruning query.  (A merely
shifted dense domain degrades the fixed curve only gradually — the
earlier aliasing probe measured scan rows FLAT because masking a
2^20-multiple shift preserves masked geometry; sparsity is the true
failure mode.)

Usage: python tools/scale_stress_layout.py [--mults 1,4,16] [--no-wide]
Prints markdown tables (paste into SCALE.md §6p/§6r) + one JSON line.
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

from mini_pandas_spark.plans import scan_output_rows  # noqa: E402
from mini_pandas_spark.session import get_spark  # noqa: E402
from mini_pandas_spark.operators.layout import (
    BOX_PART_HI,
    BOX_PART_LO,
    BOX_SUPP_HI,
    BOX_SUPP_LO,
    zvalue_sql,
)

BASE = "/root/testdata/sf0.1"
# Z_BITS (20) covers the 16x shifted domain (320k < 1,048,576)
PART_SHIFT = 20_000
# sparse-domain stress: stretch partkeys by a large odd constant
# (Knuth's multiplicative-hash constant) — monotone, so a BETWEEN on
# the stretched bounds still selects exactly the original box keys,
# but the domain becomes huge and sparse (~5e13): the fixed-width
# curve's 20-bit mask keeps only the low bits, scrambling true key
# order, while rank quantization sees only the (preserved) order.
STRETCH = 2_654_435_761


def build_corpus(spark: SparkSession, m: int, shift: int = PART_SHIFT):
    base = spark.read.parquet(f"{BASE}/lineitem.parquet").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    parts = [base]
    for c in range(1, m):
        parts.append(
            base.select(
                (F.col("l_partkey") + c * shift).alias("l_partkey"),
                "l_suppkey",
                "cents",
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def box_scan(spark: SparkSession, path: str):
    t0 = time.time()
    df = (
        spark.read.parquet(path)
        .where(
            (F.col("l_partkey").between(BOX_PART_LO, BOX_PART_HI))
            & (F.col("l_suppkey").between(BOX_SUPP_LO, BOX_SUPP_HI))
        )
        .select("l_partkey", "l_suppkey", "cents")
    )
    n = len(df.collect())
    wall = time.time() - t0
    return n, scan_output_rows(df), wall


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,4,16")
    ap.add_argument("--no-wide", action="store_true")
    args = ap.parse_args()
    mults = [int(x) for x in args.mults.split(",")]

    spark = get_spark(
        "layout-scale-stress",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        shuffle_partitions=32,
        extra_confs={"spark.driver.memory": "16g"},
    )

    rows = []
    print(
        "| mult | rows | layout | files | box rows | scan rows "
        "| scan/corpus | box wall (s) |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for m in mults:
        corpus = build_corpus(spark, m)
        n_files = 16 * m
        z = F.expr(zvalue_sql("l_partkey", "l_suppkey")).cast("bigint")
        zdir = tempfile.mkdtemp(prefix=f"stress_z_{m}x_")
        (
            corpus.withColumn("z", z)
            .repartitionByRange(n_files, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(zdir)
        )
        cdir = tempfile.mkdtemp(prefix=f"stress_c_{m}x_")
        (
            corpus.withColumn("z", z)
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(cdir)
        )
        total = spark.read.parquet(zdir).count()
        for label, path in (("zorder", zdir), ("control", cdir)):
            n, scan, wall = box_scan(spark, path)
            r = {
                "mult": m,
                "rows": total,
                "layout": label,
                "files": n_files,
                "box_rows": n,
                "scan_rows": scan,
                "scan_frac": round(scan / total, 4),
                "wall_s": round(wall, 2),
            }
            rows.append(r)
            print(
                f"| {m}x | {total} | {label} | {n_files} | {n} | {scan} "
                f"| {r['scan_frac']} | {r['wall_s']} |"
            )
        shutil.rmtree(zdir, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)
    wide_rows = []
    if not args.no_wide:
        from mini_pandas_spark.operators.layout import (  # noqa: E402
            QBITS,
            QBUCKETS,
            _rank_map,
        )

        m = 16
        corpus = build_corpus(spark, m).withColumn(
            "l_partkey", F.col("l_partkey") * F.lit(STRETCH)
        )
        n_files = 16 * m
        box_hi = BOX_PART_HI * STRETCH
        print()
        print("sparse-domain stress: 16x corpus, partkeys stretched x"
              f"{STRETCH} (domain ~{(15 * PART_SHIFT + 20_000) * STRETCH:.0e}"
              " >> 2^20); same 13-row box via the stretched bounds")
        print("| layout | box rows | scan rows | scan/corpus |")
        print("|---|---|---|---|")
        # fixed-width 20-bit curve: the mask keeps only low bits of the
        # sparse keys — true key order is scrambled, pk pruning dies
        zdir = tempfile.mkdtemp(prefix="stress_sparse_z_")
        z = F.expr(zvalue_sql("l_partkey", "l_suppkey")).cast("bigint")
        (
            corpus.withColumn("z", z)
            .repartitionByRange(n_files, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(zdir)
        )
        # rank-quantized curve: buckets follow key ORDER — unchanged
        qdir = tempfile.mkdtemp(prefix="stress_sparse_q_")
        mx = _rank_map(
            corpus.groupBy(F.col("l_partkey").alias("k")).agg(
                F.count(F.lit(1)).alias("cnt")
            ),
            QBUCKETS,
        ).select(F.col("k").alias("pk"), F.col("q").alias("qx"))
        my = _rank_map(
            corpus.groupBy(F.col("l_suppkey").alias("k")).agg(
                F.count(F.lit(1)).alias("cnt")
            ),
            QBUCKETS,
        ).select(F.col("k").alias("sk"), F.col("q").alias("qy"))
        qz = F.expr(zvalue_sql("qx", "qy", QBITS)).cast("bigint")
        (
            corpus.join(mx, corpus.l_partkey == F.col("pk"))
            .join(F.broadcast(my), corpus.l_suppkey == F.col("sk"))
            .select("l_partkey", "l_suppkey", "cents", qz.alias("z"))
            .repartitionByRange(n_files, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(qdir)
        )
        total = spark.read.parquet(zdir).count()

        def sparse_box_scan(path):
            t0 = time.time()
            df = (
                spark.read.parquet(path)
                .where(
                    (F.col("l_partkey").between(BOX_PART_LO, box_hi))
                    & (F.col("l_suppkey").between(BOX_SUPP_LO, BOX_SUPP_HI))
                )
                .select("l_partkey", "l_suppkey", "cents")
            )
            n = len(df.collect())
            return n, scan_output_rows(df), time.time() - t0

        for label, path in (("fixed-20bit", zdir), ("quantized", qdir)):
            n, scan, wall = sparse_box_scan(path)
            r = {
                "layout": label,
                "rows": total,
                "box_rows": n,
                "scan_rows": scan,
                "scan_frac": round(scan / total, 4),
                "wall_s": round(wall, 2),
            }
            wide_rows.append(r)
            print(
                f"| {label} | {n} | {scan} | {r['scan_frac']} |"
            )
        shutil.rmtree(zdir, ignore_errors=True)
        shutil.rmtree(qdir, ignore_errors=True)
    spark.stop()
    # box result must be m-invariant on the z path, and z must beat
    # control at every size
    zs = [r for r in rows if r["layout"] == "zorder"]
    cs = [r for r in rows if r["layout"] == "control"]
    ok = (
        len({r["box_rows"] for r in zs}) == 1
        and all(
            z["scan_rows"] < 0.5 * c["scan_rows"] for z, c in zip(zs, cs)
        )
    )
    if wide_rows:
        fixed, quant = wide_rows[0], wide_rows[1]
        # identical box answer; quantized pruning must survive the
        # sparse domain that scrambles the masked fixed-width curve
        ok = ok and fixed["box_rows"] == quant["box_rows"]
        ok = ok and quant["scan_rows"] < 0.1 * fixed["scan_rows"]
    print(json.dumps({
        "metric": "layout_scale_stress", "ok": ok,
        "rows": rows, "wide": wide_rows,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
