"""Multi-dimensional data layout: z-order (Morton) clustering.

The 100 TB problem this solves: a table queried by 2-D boxes (partkey ×
suppkey here; (tenant, day) or (lat, lon) in production) can be SORTED
by only one key, so row-group min/max stats prune only that dimension —
the other dimension's predicate reads everything.  Interleaving the two
keys' bits into one Morton z-value and range-partitioning + sorting by
it gives every row group a TIGHT bounding box in BOTH dimensions, so
plain parquet stats pushdown skips most row groups for any 2-D box —
the hand-built equivalent of Delta/Iceberg ``ZORDER BY``, expressed as
pure Catalyst integer expressions (no UDF anywhere).

The z-value formula is generated ONCE by :func:`zvalue_sql` and shared
verbatim between the Spark expression and the DuckDB oracle (CLAUDE.md
invariant 3's mirror-operations rule, applied to 40 bit-ops).  With 20
interleaved bits per key the z-value stays < 2^40 — no overflow band.

DOMAIN CAP: a fixed-width curve masks each key to Z_BITS bits; 20 bits
covers a 1,048,575-value domain per dimension — partkeys through SF ~50
here.  Masking a SPARSE domain (hashed/snowflake IDs) scrambles true
key order entirely and kills pruning (measured 67x scan blow-up,
SCALE.md §6r).  The rank-QUANTIZED variant below
(:func:`quantized_layout_table` / ``quantized_box_pruning``, round 11)
quantizes keys to equi-depth range ranks first so the curve always
runs over a dense bounded grid at ANY domain — the SF-1000 shape.

Layout tables are session-memoized stage tables (CLAUDE.md invariant
9) whose directories are rmtree'd on eviction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import Owned, SessionMemo, scratch_dir
from ..sources import load_table

Z_BITS = 20
Z_FILES = 16

# One memo for the z-order, Hilbert and quantized layouts.
_LAYOUT_MEMO = SessionMemo(4)


def zvalue_sql(xcol: str, ycol: str, bits: int = Z_BITS) -> str:
    """Morton interleave as a single SQL expression string, valid in
    BOTH Spark SQL and DuckDB (``>> << & |`` with full parenthesization):
    bit i of x lands at position 2i, bit i of y at 2i+1.  Inputs are
    masked to ``bits`` bits first so the formula is total at any key
    scale (SF 1000 partkeys exceed 16 bits), and CAST to BIGINT so the
    shifts are 64-bit even for INT32 inputs/literals (DuckDB types bare
    int literals INT32 and errors on ``1 << 31``)."""
    x = f"(CAST({xcol} AS BIGINT) & {(1 << bits) - 1})"
    y = f"(CAST({ycol} AS BIGINT) & {(1 << bits) - 1})"
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def zorder_layout_table(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+fixture) the lineitem box-query columns
    clustered by z-value: ``repartitionByRange(Z_FILES, z)`` makes each
    output file a contiguous z-range, ``sortWithinPartitions(z)`` makes
    every ROW GROUP inside it one too — so each row group's
    (l_partkey, l_suppkey) min/max box is tight and ordinary stats
    pushdown prunes in both dimensions.  At 100 TB this is a one-off
    layout job (one range shuffle, the same price as any global sort)
    amortized over every box query that follows."""

    def build() -> Owned:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
            F.expr(zvalue_sql("l_partkey", "l_suppkey")).cast("bigint").alias("z"),
        )
        out = scratch_dir("zorder_layout_")
        (
            li.repartitionByRange(Z_FILES, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(out)
        )
        return Owned(out, dirs=(out,))

    return _LAYOUT_MEMO.get(spark, sf_dir, ("lineitem",), build)


# The registered 2-D box: fixed constants valid at every fixture SF
# (keys start at 0), selectivity falls as SF grows — exactly the shape
# that rewards 2-D pruning.
BOX_PART_LO, BOX_PART_HI = 0, 99
BOX_SUPP_LO, BOX_SUPP_HI = 0, 4


def zorder_box_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Answer a 2-D box query (partkey × suppkey) FROM the z-clustered
    layout table: exact row count, exact cents sum, and the min/max
    z-value inside the box (the z columns force the oracle to mirror
    the full 40-term Morton formula, value-gating the interleave
    itself).  The result is layout-independent — the layout buys the
    SCAN shape (row groups outside the box's z-region are skipped via
    plain parquet min/max stats, pinned in
    tests/test_scale_techniques.py), never the answer."""
    path = zorder_layout_table(spark, sf_dir)
    lay = spark.read.parquet(path)
    box = lay.where(
        (F.col("l_partkey").between(BOX_PART_LO, BOX_PART_HI))
        & (F.col("l_suppkey").between(BOX_SUPP_LO, BOX_SUPP_HI))
    )
    return box.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents_sum"),
        F.coalesce(F.min("z"), F.lit(-1)).cast("bigint").alias("min_z"),
        F.coalesce(F.max("z"), F.lit(-1)).cast("bigint").alias("max_z"),
    )


def zorder_box_oracle_sql() -> str:
    """DuckDB oracle: same box, same shared Morton formula."""
    z = zvalue_sql("l_partkey", "l_suppkey")
    return f"""
    WITH b AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST({z} AS BIGINT) AS z
        FROM lineitem
        WHERE l_partkey BETWEEN {BOX_PART_LO} AND {BOX_PART_HI}
          AND l_suppkey BETWEEN {BOX_SUPP_LO} AND {BOX_SUPP_HI}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
           CAST(COALESCE(MIN(z), -1) AS BIGINT) AS min_z,
           CAST(COALESCE(MAX(z), -1) AS BIGINT) AS max_z
    FROM b
    """


def hilbert_sql(
    xcol: str, ycol: str, passthrough: tuple, bits: int = Z_BITS
) -> str:
    """Hilbert curve index xy→d as ONE nested-projection SQL fragment
    valid verbatim in both Spark SQL and DuckDB (integer CASE exprs
    only — no pow, no xor operator, whose dialects differ).  The
    standard per-level rotation is unrolled ``bits`` times; validated
    bijective and grid-contiguous against a pure-Python reference in
    tests/test_scale_techniques.py.  ``passthrough`` columns are
    carried explicitly (DuckDB's ``* EXCLUDE`` is not Spark syntax).
    Replace ``__HSRC__`` with the source relation."""
    keep = ", ".join(passthrough)
    inner = (
        f"SELECT CAST({xcol} AS BIGINT) & {(1 << bits) - 1} AS hx, "
        f"CAST({ycol} AS BIGINT) & {(1 << bits) - 1} AS hy, "
        f"CAST(0 AS BIGINT) AS hd, {keep} FROM __HSRC__"
    )
    for lvl in range(bits):
        s = 1 << (bits - 1 - lvl)
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        quad = (
            f"(CASE WHEN {rx} = 1 AND {ry} = 1 THEN 2 "
            f"WHEN {rx} = 1 THEN 3 WHEN {ry} = 1 THEN 1 ELSE 0 END)"
        )
        newx = (
            f"(CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hy ELSE hy END) ELSE hx END)"
        )
        newy = (
            f"(CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hx ELSE hx END) ELSE hy END)"
        )
        inner = (
            f"SELECT {newx} AS hx, {newy} AS hy, "
            f"hd + {s * s} * {quad} AS hd, {keep} FROM ({inner})"
        )
    return inner


def hilbert_layout_table(spark: SparkSession, sf_dir: str) -> str:
    """Hilbert twin of :func:`zorder_layout_table`: same columns, same
    file count, clustered by the Hilbert index instead of Morton.
    Hilbert guarantees consecutive curve positions are grid-ADJACENT
    (Morton takes long diagonal jumps at power-of-two boundaries), so
    row-group bounding boxes are tighter on average — measured against
    z-order in tests/test_scale_techniques.py and SCALE.md §6o."""

    def build() -> Owned:
        src = load_table(spark, sf_dir, "lineitem").select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        )

        # The BUILD path computes the index with Arrow-batched numpy: the
        # 16-level Catalyst chain is the ORACLE mirror (and stays pinned
        # equal to this in tests), but as generated code it exceeds the
        # huge-method limit and falls back to interpreted projection —
        # measured 8 µs/row vs ~0.1 µs/row vectorized (sf0.1 layout build
        # 11.8s -> ~2s).  Same recurrence, exact int64 ops, bit-identical.
        bits = Z_BITS

        def add_h(batches):
            import numpy as np

            for pdf in batches:
                hx = pdf["l_partkey"].to_numpy(np.int64) & ((1 << bits) - 1)
                hy = pdf["l_suppkey"].to_numpy(np.int64) & ((1 << bits) - 1)
                d = np.zeros_like(hx)
                for lvl in range(bits):
                    s = 1 << (bits - 1 - lvl)
                    rx = ((hx & s) > 0).astype(np.int64)
                    ry = ((hy & s) > 0).astype(np.int64)
                    d += s * s * np.where(
                        (rx == 1) & (ry == 1),
                        2,
                        np.where(rx == 1, 3, np.where(ry == 1, 1, 0)),
                    )
                    nx = np.where(ry == 0, np.where(rx == 1, s - 1 - hy, hy), hx)
                    ny = np.where(ry == 0, np.where(rx == 1, s - 1 - hx, hx), hy)
                    hx, hy = nx, ny
                out_pdf = pdf.copy()
                out_pdf["h"] = d
                yield out_pdf

        li = src.mapInPandas(
            add_h, "l_partkey long, l_suppkey long, cents long, h long"
        ).localCheckpoint(eager=False)
        out = scratch_dir("hilbert_layout_")
        (
            li.repartitionByRange(Z_FILES, "h")
            .sortWithinPartitions("h")
            .write.mode("overwrite")
            .parquet(out)
        )
        return Owned(out, dirs=(out,))

    return _LAYOUT_MEMO.get(spark, sf_dir, ("lineitem",), build, "hilbert")


def hilbert_box_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered 2-D box answered FROM the Hilbert-clustered
    layout: same box and output shape as zorder_box_pruning with
    min/max CURVE POSITION in the output — forcing the oracle to replay
    the full unrolled rotation recurrence, value-gating the Hilbert
    index itself (the two queries' n_rows/cents_sum agree by
    construction; their min/max index columns gate two different
    curves)."""
    path = hilbert_layout_table(spark, sf_dir)
    lay = spark.read.parquet(path)
    box = lay.where(
        (F.col("l_partkey").between(BOX_PART_LO, BOX_PART_HI))
        & (F.col("l_suppkey").between(BOX_SUPP_LO, BOX_SUPP_HI))
    )
    return box.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents_sum"),
        F.coalesce(F.min("h"), F.lit(-1)).cast("bigint").alias("min_h"),
        F.coalesce(F.max("h"), F.lit(-1)).cast("bigint").alias("max_h"),
    )


def hilbert_box_oracle_sql() -> str:
    """DuckDB oracle: the same unrolled Hilbert recurrence over the box."""
    frag = hilbert_sql(
        "l_partkey", "l_suppkey", ("cents",)
    ).replace(
        "__HSRC__",
        "(SELECT l_partkey, l_suppkey,"
        " CAST(round(l_extendedprice * 100) AS BIGINT) AS cents"
        f" FROM lineitem WHERE l_partkey BETWEEN {BOX_PART_LO} AND"
        f" {BOX_PART_HI} AND l_suppkey BETWEEN {BOX_SUPP_LO} AND"
        f" {BOX_SUPP_HI})",
    )
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
           CAST(COALESCE(MIN(hd), -1) AS BIGINT) AS min_h,
           CAST(COALESCE(MAX(hd), -1) AS BIGINT) AS max_h
    FROM ({frag})
    """


# Rank-quantized curve (round 11, VERDICT_r10 item 2): quantize each key
# to an equi-depth range RANK before interleaving, so the curve always
# runs over a dense bounded grid and never wraps, at ANY key domain —
# the unbounded-domain fix for the fixed-width cap above.  16 bits ⇒
# 65,536 buckets per dimension ⇒ qz < 2^32.
QBITS = 16
QBUCKETS = 1 << QBITS


def _rank_map(vals: DataFrame, qb: int) -> DataFrame:
    """Equi-depth bucket assignment over a (k, cnt) distinct-value
    frame: ``q = (cum_rows_before * qb) DIV n`` — the
    range_partition_planner recipe (relational.py): the corpus first
    reduces to distinct values (the Aggregate that bounds the global
    window under the plan lint), then ONE tiny window assigns buckets;
    ties never straddle a bucket, so the assignment is deterministic
    under any parallelism.  Exact integer math end-to-end
    (cum_before * 65536 < 2^63 through SF 1000)."""
    from pyspark.sql.window import Window

    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    tot = vals.agg(F.sum("cnt").alias("n"))
    return (
        vals.join(F.broadcast(tot))
        .withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .select(
            "k",
            F.expr(f"CAST((cum_before * {qb}) DIV n AS BIGINT)").alias("q"),
        )
    )


def quantized_layout_table(spark: SparkSession, sf_dir: str) -> str:
    """Rank-quantized twin of :func:`zorder_layout_table`: each key is
    first mapped to its equi-depth rank bucket (qx, qy), and the Morton
    interleave runs over the BUCKETS — so the curve's grid is dense and
    bounded (2^QBITS per side) no matter how large or sparse the raw
    key domain is.  A fixed-width curve wraps keys past its mask and
    silently destroys pruning (SCALE.md §6p); the quantized curve has
    no mask to outgrow — the 100 TB / SF-1000 deployment shape.

    The rank maps are the same one-off artifacts a warehouse's
    range-partition planner maintains; the layout build joins them in
    (suppkey map broadcasts; the partkey map join is part of the
    one-off layout job, the same price class as the range shuffle).
    Quantization is monotone, so row groups sorted by qz are tight
    boxes in the ORIGINAL keys too — the box query's min/max stats
    pruning works unchanged."""

    def build() -> Owned:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        )
        mx = _rank_map(
            li.groupBy(F.col("l_partkey").alias("k")).agg(
                F.count(F.lit(1)).alias("cnt")
            ),
            QBUCKETS,
        ).select(F.col("k").alias("pk"), F.col("q").alias("qx"))
        my = _rank_map(
            li.groupBy(F.col("l_suppkey").alias("k")).agg(
                F.count(F.lit(1)).alias("cnt")
            ),
            QBUCKETS,
        ).select(F.col("k").alias("sk"), F.col("q").alias("qy"))
        lay = (
            li.join(mx, li.l_partkey == mx.pk)
            .join(F.broadcast(my), li.l_suppkey == my.sk)
            .select(
                "l_partkey",
                "l_suppkey",
                "cents",
                F.expr(zvalue_sql("qx", "qy", QBITS)).cast("bigint").alias("qz"),
            )
        )
        out = scratch_dir("quantized_layout_")
        (
            lay.repartitionByRange(Z_FILES, "qz")
            .sortWithinPartitions("qz")
            .write.mode("overwrite")
            .parquet(out)
        )
        return Owned(out, dirs=(out,))

    return _LAYOUT_MEMO.get(spark, sf_dir, ("lineitem",), build, "quantized")


def quantized_box_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered 2-D box answered FROM the rank-quantized layout:
    same box and output shape as its fixed-width twins, with min/max
    QUANTIZED curve position — forcing the oracle to replay the full
    equi-depth rank assignment (two windowed CTEs) AND the Morton
    interleave over the buckets, value-gating the quantizer itself.
    n_rows/cents_sum agree with zorder_box_pruning by construction;
    min_qz/max_qz gate the rank-then-interleave pipeline."""
    path = quantized_layout_table(spark, sf_dir)
    lay = spark.read.parquet(path)
    box = lay.where(
        (F.col("l_partkey").between(BOX_PART_LO, BOX_PART_HI))
        & (F.col("l_suppkey").between(BOX_SUPP_LO, BOX_SUPP_HI))
    )
    return box.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents_sum"),
        F.coalesce(F.min("qz"), F.lit(-1)).cast("bigint").alias("min_qz"),
        F.coalesce(F.max("qz"), F.lit(-1)).cast("bigint").alias("max_qz"),
    )


def quantized_box_oracle_sql() -> str:
    """DuckDB oracle: the same rank CTEs (cum_rows_before * QBUCKETS
    // n over distinct keys) and the same shared Morton formula over
    the resulting buckets."""
    z = zvalue_sql("qx", "qy", QBITS)
    return f"""
    WITH vx AS (
        SELECT l_partkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY k
    ), mx AS (
        SELECT k,
               CAST((COALESCE(SUM(cnt) OVER (ORDER BY k ROWS BETWEEN
                        UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     * CAST({QBUCKETS} AS BIGINT))
                    // (SUM(cnt) OVER ()) AS BIGINT) AS qx
        FROM vx
    ), vy AS (
        SELECT l_suppkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY k
    ), my AS (
        SELECT k,
               CAST((COALESCE(SUM(cnt) OVER (ORDER BY k ROWS BETWEEN
                        UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     * CAST({QBUCKETS} AS BIGINT))
                    // (SUM(cnt) OVER ()) AS BIGINT) AS qy
        FROM vy
    ), b AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST({z} AS BIGINT) AS qz
        FROM lineitem
        JOIN mx ON l_partkey = mx.k
        JOIN my ON l_suppkey = my.k
        WHERE l_partkey BETWEEN {BOX_PART_LO} AND {BOX_PART_HI}
          AND l_suppkey BETWEEN {BOX_SUPP_LO} AND {BOX_SUPP_HI}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents_sum,
           CAST(COALESCE(MIN(qz), -1) AS BIGINT) AS min_qz,
           CAST(COALESCE(MAX(qz), -1) AS BIGINT) AS max_qz
    FROM b
    """
