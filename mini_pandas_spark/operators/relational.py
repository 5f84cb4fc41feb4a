"""Core relational operators over the star schema.

These are the SURVEY.md §2.3 rows 1-6 extensions (the reference implements
none of them — SURVEY.md §2.2 lists aggregation, sort, join family, set ops
and windows as absent; the only join attempt, data_frame.py:357-370, is
non-functional).  Everything is declarative DataFrame API: Catalyst handles
pushdown/pruning/reordering, AQE handles skew and runtime coalescing.

Scale notes per operator are in the docstrings; the common discipline:
- dimension tables (region/nation/supplier) are broadcast explicitly;
- aggregates are expressed as groupBy().agg() so map-side partial
  aggregation happens before the shuffle;
- top-k uses orderBy+limit (Spark runs TakeOrderedAndProject — no full
  sort of the 100 TB fact table) or per-group window row_number;
- money sums go through DECIMAL(18,2) for cross-engine determinism
  (see functions.money_sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cents, decimal_sum, disc_price_sum, money_avg, money_sum
from ..memo import Owned, SessionMemo, scratch_dir
from ..sources import load_table, register_views


def flagship_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship query (reference tests.py:133-144:
    ``df[(price+5.0>10.0) & (sales>3) & ~taxed]["SKU"]``) recast onto the
    star schema: filter + project on part.

    Scale: single scan+filter+project stage; predicate on p_size reaches
    the parquet reader as a PushedFilter; only 2 columns are read.
    """
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter((F.col("p_retailprice") + 5.0 > 10.0) & (F.col("p_size") > 3))
        .select("p_partkey", "p_name")
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical groupBy-agg.

    Scale: map-side partial aggregation reduces each partition to ≤ a few
    groups before the shuffle; the shuffle moves O(groups × partitions)
    rows regardless of fact-table size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            disc_price_sum("l_extendedprice", "l_discount").alias("sum_disc_price"),
            money_avg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def groupby_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group.

    Scale: Spark plans this as a two-phase expand+aggregate; distinct keys
    are deduplicated per-partition before the shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").cast("long").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: 10 highest-value orders (orderkey tiebreak for
    determinism).

    Scale: orderBy+limit compiles to TakeOrderedAndProject — each task
    keeps a k-element heap; no global sort, no full shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per region: orders ⋈ customer ⋈ nation ⋈ region.

    Scale: nation/region are broadcast (hinted; they are KBs at any SF) so
    the only shuffle is the orders⋈customer equi-join and the final tiny
    aggregation.  At 100 TB, orders and customer would both be bucketed on
    custkey to eliminate that shuffle too.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            money_sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def left_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving unmatched rows: customers with their order
    counts, including customers with no orders (intended semantics of the
    reference's broken left_join, data_frame.py:357-363).

    Scale: equi-join on custkey; AQE converts to broadcast if one side is
    small at runtime.  Aggregating before joining (per-custkey counts)
    keeps the shuffled payload narrow.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice").alias("total_spent"),
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
        )
    )


def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having ≥1 urgent-priority order (left semi join).

    Scale: semi join never materializes right-side columns and
    deduplicates build-side keys — strictly cheaper than inner+distinct.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(
        urgent, c.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all (left anti join)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: nations that have customers INTERSECT nations that
    have suppliers, UNION nations with neither, tagged by case.

    Scale: intersect/except plan as aggregations+joins on the (tiny)
    distinct key sets — distinct first, then set logic.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey")
    )
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    neither = (
        n.exceptAll(c.distinct().unionByName(s.distinct()).distinct())
        .withColumn("tag", F.lit("neither"))
    )
    return both.unionByName(neither)


def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: each customer's 3 largest orders via row_number
    (orderkey tiebreak for determinism).

    Scale: one shuffle on the partition key; rank windows need no frame
    buffering.  For heavily skewed partition keys, pre-aggregate or salt.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer revenue ordered by order date (cumulative
    window frame), plus lag to the previous order's price.

    Scale: rows-between-unbounded-preceding frames stream within each
    partition after one shuffle on the partition key; no re-sort thanks to
    the shared (partition, order) spec.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(frame)
        .cast("double")
        .alias("running_spent"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
    )


def distinct_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a projection (dropDuplicates on all columns)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: counts at (flag, status), (flag), and total.

    Scale: Spark plans rollup as a single Expand+Aggregate — one pass,
    one shuffle, groups×levels output rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
    )


def range_join_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: assign each part to a price band table via
    non-equi predicate (lo <= price < hi).

    Scale: a broadcast-nested-loop against the tiny band table — the band
    side is always broadcastable; never express this as a cross join of
    two large relations.
    """
    part = load_table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [(0.0, 930.0, "low"), (930.0, 970.0, "mid"), (970.0, 1e9, "high")],
        "lo double, hi double, band string",
    )
    return (
        part.join(
            F.broadcast(bands),
            (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            money_avg("p_retailprice").alias("avg_price"),
        )
    )


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (status, priority): all 4 grouping levels
    in one Expand+Aggregate pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("o_totalprice").alias("revenue"),
    )


def pivot_segment_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: customer counts per nation × market segment (segments become
    columns).  Pivot values are listed explicitly — at scale, never let
    Spark run the extra distinct-values job.
    """
    c = load_table(spark, sf_dir, "customer")
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return (
        c.groupBy("c_nationkey")
        .pivot("c_mktsegment", segments)
        .agg(F.count(F.lit(1)))
        .select(
            "c_nationkey",
            *[F.coalesce(F.col(s), F.lit(0)).alias(s.lower()) for s in segments],
        )
    )


def stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/corr/covar) per return flag, rounded
    to 4 decimals: accumulation-order float noise is ~1e-12 relative, far
    inside the rounding guard, so results are cross-engine stable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        # + 0.0 normalizes IEEE negative zero (round can yield -0.0 on one
        # engine and 0.0 on the other)
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_discount", "l_tax"), 6) + F.lit(0.0)).alias("covar_disc_tax"),
    )


def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface: case mapping, substring, concat,
    replace, length, trim — all codegen'd JVM expressions."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.length("p_name").cast("long").alias("name_len"),
    )


def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal extraction + arithmetic on order dates: year/month/day,
    quarter bucketing, and month-delta revenue grouping."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.quarter("o_orderdate").cast("int").alias("qtr"),
            F.month("o_orderdate").cast("int").alias("mo"),
            F.col("o_totalprice"),
        )
        .groupBy("yr", "qtr", "mo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("revenue"),
        )
    )


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count.

    At 100 TB the approx variant avoids the expand+exact-distinct shuffle
    entirely — this query exists to expose the sketch surface; rows-only
    check (HLL estimates are engine-specific).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct("l_partkey").cast("long").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.02).cast("long").alias("approx_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName with allowMissingColumns: combining two projections
    with different schemas (the schema-evolution shape every long-lived
    dataset hits); absent columns become nulls."""
    c = load_table(spark, sf_dir, "customer")
    old = c.select(
        "c_custkey", F.col("c_name").alias("name"), F.lit("v1").alias("schema_ver")
    )
    new = c.select(
        "c_custkey",
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("v2").alias("schema_ver"),
    )
    return old.unionByName(new, allowMissingColumns=True)


def right_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (supplier keyed off nation): every nation row
    survives, suppliers nullable."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
        )
    )


def full_outer_join_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join over two key sets (customers vs suppliers per
    nation), the reconciliation shape: rows where either side is missing
    survive with nulls."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


def window_funcs_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the window-function family on one ordered spec:
    rank, dense_rank, lead, ntile — all sharing a single sort/shuffle."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 unshipped orders by revenue for one market
    segment — the canonical 3-way join + agg + top-k pipeline.

    Scale: segment filter pushes into the customer scan; join order
    (filtered customer → orders → lineitem) lets Catalyst broadcast the
    shrinking build sides under AQE; top-k is a heap, not a sort.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            disc_price_sum("l_extendedprice", "l_discount").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure scan + conjunctive filter + single global
    aggregate — the pushdown/codegen stress test (zero shuffles beyond
    the final 1-row combine)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum((cents("l_extendedprice") * cents("l_discount")).cast("decimal(38,0)"))
             .cast("double") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def array_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list aggregation with deterministic output: per customer,
    the sorted array of their order keys (array_sort makes the result
    independent of shuffle arrival order), emitted comma-joined as a
    string (driver outputs must be atomic columns, never array types)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("o_orderkey")).cast("array<string>"), ","
            ).alias("orderkeys"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def quantiles_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90) per order status —
    Spark's percentile == DuckDB's quantile_cont definition."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue by nation where supplier and customer are
    in the same nation — the 5-way join with two broadcast dims and a
    same-key co-location predicate."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            disc_price_sum("l_extendedprice", "l_discount").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def sql_frontend_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL frontend surface: tables registered as temp views, the
    query expressed in Spark SQL — identical Catalyst plan to the
    DataFrame API, one engine, two dialects."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"sqlv_{t}")
    return spark.sql(
        """
        SELECT n_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM sqlv_orders
        JOIN sqlv_customer ON o_custkey = c_custkey
        JOIN sqlv_nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via stack(): part's numeric columns become
    (metric, value) rows — the inverse of pivot_segment_region."""
    p = load_table(spark, sf_dir, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice)"
        " AS (metric, value)",
    )


def transpose_returnflag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose surface (new in Spark 4): the per-returnflag
    pricing profile (avg quantity / price / discount, exact decimal sums
    per the money_avg determinism contract) flipped to one row per
    METRIC with one column per flag — the presentation flip every BI
    hand-off does after a groupBy.

    Engine note: transpose names result columns from the index column's
    VALUES, so analysis runs the child eagerly — fine here because the
    child is already a ≤|flags|-row aggregate (a bounded build job, like
    observed_scan_metrics); never transpose a fact-sized frame.  The
    child is sorted on the index column so the column order (A, N, R)
    is deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    stats = (
        li.groupBy("l_returnflag")
        .agg(
            (decimal_sum(F.col("l_quantity"), 2) / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            money_avg("l_extendedprice").alias("avg_price"),
            (decimal_sum(F.col("l_discount"), 2) / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
        )
        .orderBy("l_returnflag")
    )
    return stats.transpose("l_returnflag").orderBy("key")


def scd2_merge_emulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 upsert without MERGE INTO (no
    Delta in this image): anti-join + union + deterministic versioning.

    A synthetic change-set (every 10th customer gets +100 balance) is
    merged into the dimension: changed keys keep their old row flagged
    non-current and gain a version-2 current row; untouched keys stay
    version-1 current.  At 100 TB this runs partitioned on the business
    key with the change-set broadcast.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").alias("acctbal")
    )
    updates = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("acctbal", F.round(F.col("acctbal") + 100.0, 2))
    )
    unchanged = c.join(updates.select("c_custkey"), "c_custkey", "left_anti").select(
        "c_custkey",
        "c_name",
        "acctbal",
        F.lit(1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    expired = c.join(updates.select("c_custkey"), "c_custkey", "left_semi").select(
        "c_custkey",
        "c_name",
        "acctbal",
        F.lit(1).alias("version"),
        F.lit(False).alias("is_current"),
    )
    fresh = updates.select(
        "c_custkey",
        "c_name",
        "acctbal",
        F.lit(2).alias("version"),
        F.lit(True).alias("is_current"),
    )
    return unchanged.unionByName(expired).unionByName(fresh)


def except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference, preserving duplicate counts):
    lineitem ship-mode-ish flags minus the returned subset — the
    bag-semantics counterpart of set_ops_nations."""
    li = load_table(spark, sf_dir, "lineitem")
    all_rows = li.select("l_returnflag", "l_linestatus")
    returned = li.filter(F.col("l_returnflag") == "R").select(
        "l_returnflag", "l_linestatus"
    )
    return (
        all_rows.exceptAll(returned)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via arithmetic bucketing (floor((x-lo)/w)) —
    the scalable histogram: one projection + one tiny groupBy, no sort,
    no per-bucket pass."""
    o = load_table(spark, sf_dir, "orders")
    lo, width = 0.0, 25000.0
    bucket = F.floor((F.col("o_totalprice") - F.lit(lo)) / F.lit(width)).cast("long")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * width + lo).alias("lo_edge"),
            "n",
        )
    )


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id() to disambiguate the
    aggregation level from genuine NULL keys."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
               CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
               COUNT(*) AS n
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame: for each order, how many orders
    of the same status fall within the preceding 5000-price band — frame
    membership by value, not row position, so ties are handled
    deterministically by definition."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-5000, 0)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.count(F.lit(1)).over(w).alias("n_in_band"),
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: order-priority checking — orders in one quarter
    having at least one returned lineitem, counted by priority.  (The
    fixture ships no commit/receipt dates, so ``l_returnflag = 'R'``
    stands in for Q4's late-delivery EXISTS; the plan shape — filtered
    scan + EXISTS-as-semi-join + count by priority — is the point.)

    Scale: the date filter pushes into the orders scan and the
    returnflag filter into lineitem; the EXISTS is a left-semi join, so
    no lineitem columns are carried and duplicates never multiply rows.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by revenue lost to returned
    items in one quarter — 4-way join (customer × orders × returned
    lineitems × nation) + agg + top-k.

    Scale: nation broadcasts; the quarter+returnflag filters shrink the
    fact side before the customer join; top-k is a heap
    (TakeOrderedAndProject), never a global sort.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(disc_price_sum("l_extendedprice", "l_discount").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def salted_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: salt the 3-value hot key
    (l_returnflag) with pmod(xxhash64(rowkey), 16), partially aggregate
    per (key, salt), then re-aggregate per key.

    Result is identical to the direct groupBy (the oracle IS the direct
    SQL) because the cent-product sums are exact decimals — associative
    under any grouping.  Scale: with 3 hot keys and 1000 executors, the
    direct plan funnels everything through 3 reducers; the salted plan
    spreads stage one across 48 and stage two moves only 48 rows.  (AQE
    skew handling covers joins, not aggregations — salting is still the
    tool for hot-key group-bys.)
    """
    from ..functions import disc_price

    li = load_table(spark, sf_dir, "lineitem")
    salt = F.pmod(F.xxhash64("l_orderkey"), F.lit(16)).alias("salt")
    partial = (
        li.groupBy("l_returnflag", salt)
        .agg(
            F.sum(disc_price("l_extendedprice", "l_discount").cast("decimal(38,0)"))
            .alias("psum"),
            F.count(F.lit(1)).alias("pn"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        (F.sum("psum").cast("double") / 10000.0).alias("revenue"),
        F.sum("pn").alias("n_items"),
    )


def date_spine_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine densification: one row per day in 1996-Q1 with that
    day's order count and revenue, zeros on quiet days — the
    sequence+explode generated-table pattern every reporting pipeline
    needs (a missing day must appear as 0, not vanish).

    Scale: the spine is generated, tiny, and broadcast; the fact side
    aggregates to O(days) rows before the join, so the left join moves
    no fact rows.
    """
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-03-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("o_totalprice").alias("rev"),
        )
    )
    return spine.join(daily, "day", "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_orders"),
        F.coalesce(F.col("rev"), F.lit(0.0)).alias("revenue"),
    )


def argmax_order_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max without a window: max over struct(price, key) is a
    lexicographic single-pass aggregate — per status, the highest-priced
    order (orderkey breaks price ties).

    Scale: this is the shuffle-cheapest arg-max — map-side partial max,
    3 rows cross the wire; the window/row_number alternative sorts every
    partition.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.max(F.struct("o_totalprice", "o_orderkey")).alias("mx"))
        .select(
            "o_orderstatus",
            F.col("mx.o_totalprice").alias("top_price"),
            F.col("mx.o_orderkey").alias("top_orderkey"),
        )
    )


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over an unbounded frame per
    customer (date+orderkey ordering — unique, so every frame function is
    deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


def mode_quantity_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent l_quantity per return flag):
    count per value + row_number with a value tiebreak — built-in MODE()
    breaks ties arbitrarily and differently per engine, this never does.

    Scale: the count groupBy is map-side partial; the window runs over
    ≤ |distinct values| rows per key, not over the fact table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n").desc(), F.col("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("n").alias("n_occurrences"),
        )
    )


JOIN_SALTS = 8


def salted_join_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join: events (fact) joined to customer (dim)
    on user_id with the dim side replicated across 8 salt buckets and the
    fact side salted by a deterministic row property, then revenue rolled
    up per market segment.  Result is value-identical to the plain join —
    the salt only changes the *physical* key distribution, which is the
    point: a hot user_id no longer lands on a single reducer.

    At this dim size broadcast is the right physical plan and AQE picks
    it; the salted shape is registered because at 100 TB with a
    non-broadcastable dim and a power-law fact key, salting (or AQE skew
    splitting, which handles sort-merge spills but not single-key
    reducers) is the standard mitigation.  The oracle is the plain join —
    proving the rewrite is semantics-preserving is the test.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted_dim = c.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALTS - 1)))
    )
    salted_fact = e.withColumn(
        "salt", (F.col("event_id") % F.lit(JOIN_SALTS)).cast("int")
    )
    joined = salted_fact.join(
        salted_dim,
        (F.col("user_id") == F.col("c_custkey")) & (salted_fact["salt"] == salted_dim["salt"]),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (change-data-capture readout): compare two versions
    of the documents table — "old" (doc_id % 7 != 0) vs "new"
    (doc_id % 5 != 0, with text rewritten where doc_id % 3 == 0) — and
    classify every key as added / removed / changed / unchanged, with
    per-class counts.  The derived versions are deterministic, so the
    diff itself is the operator under test, exactly what an
    incremental-pipeline audit runs between dataset releases.

    Scale: a single full-outer join on the key plus a 4-row aggregate;
    comparing a content hash (here the raw text — at 100 TB a digest
    column) avoids shipping both payloads when only equality matters.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = d.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("k_old"), F.col("text").alias("text_old")
    )
    new = d.where(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("k_new"),
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit("v2 "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text_new"),
    )
    j = old.join(new, old.k_old == new.k_new, "full_outer")
    status = (
        F.when(F.col("k_old").isNull(), F.lit("added"))
        .when(F.col("k_new").isNull(), F.lit("removed"))
        .when(F.col("text_old") != F.col("text_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.groupBy(status.alias("status"))
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("status")
    )


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostics: for each candidate key column
    (events.user_id, lineitem.l_orderkey), the group-size distribution —
    distinct keys, mean/max group size, the p99 group size, and the
    max/mean skew ratio.  This is the report that decides whether a
    shuffle needs salting or AQE skew splitting before a 100 TB run.

    Scale: one aggregation per key column at the key's own cardinality,
    then a 1-row summary of each — output is 2 rows regardless of SF.
    """
    def profile(df: DataFrame, table: str, key: str) -> DataFrame:
        sizes = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("sz")
        )
        return sizes.agg(
            F.lit(table).alias("table_name"),
            F.lit(key).alias("key_col"),
            F.count(F.lit(1)).alias("n_keys"),
            (F.round(F.avg("sz"), 4) + F.lit(0.0)).alias("mean_sz"),
            F.max("sz").alias("max_sz"),
            (F.round(F.percentile("sz", F.lit(0.99)), 4) + F.lit(0.0)).alias(
                "p99_sz"
            ),
            (F.round(F.max("sz") / F.avg("sz"), 4) + F.lit(0.0)).alias(
                "skew_ratio"
            ),
        )
    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    return profile(ev, "events", "user_id").unionAll(
        profile(li, "lineitem", "l_orderkey")
    )


def null_safe_join_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (Spark's ``eqNullSafe`` / SQL ``<=>``):
    both sides derive a nullable bucket key (NULLIF(user_id % 10, 0) /
    NULLIF(c_custkey % 10, 0)); under <=> the NULL buckets MATCH each
    other — the semantics regular equi-joins silently drop.  Output is
    per-bucket match counts with the NULL bucket present.

    Scale: <=> is still hash-joinable (null becomes an ordinary key
    value), so the plan stays a shuffled/broadcast hash join — no
    fallback to nested-loop.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.nullif(F.col("user_id") % 10, F.lit(0)).alias("eb")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_custkey") % 10, F.lit(0)).alias("cb"),
        "c_custkey",
    )
    cnt = c.groupBy("cb").agg(F.count(F.lit(1)).alias("n_cust"))
    return (
        e.join(F.broadcast(cnt), F.col("eb").eqNullSafe(F.col("cb")))
        .groupBy(F.coalesce(F.col("eb"), F.lit(-1)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("n_cust").alias("n_cust"),
        )
        .orderBy("bucket")
    )


def daily_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue deltas: daily order revenue (exact decimal
    sum), previous-day revenue via lag, absolute change, and percent
    change rounded — the time-series readout every revenue dashboard
    computes.

    Scale: one aggregation to the day key space (tiny), one window over
    it — the window runs over the aggregate, never the facts.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        money_sum("o_totalprice").alias("revenue")
    )
    w = Window.orderBy("d")
    return (
        daily.withColumn("prev_revenue", F.lag("revenue").over(w))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "revenue",
            "prev_revenue",
            (
                F.round(F.col("revenue") - F.col("prev_revenue"), 2) + F.lit(0.0)
            ).alias("abs_change"),
            (
                F.round(
                    (F.col("revenue") - F.col("prev_revenue"))
                    / F.col("prev_revenue")
                    * 100,
                    4,
                )
                + F.lit(0.0)
            ).alias("pct_change"),
        )
        .orderBy("day")
    )


def quantile_binning_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-binned feature discretization: global quartile thresholds
    of order totalprice (exact interpolated percentiles), every order
    assigned to its quartile bucket, per-bucket counts and exact money
    mass — the discretization step of a feature pipeline plus its audit.

    Scale: the 1-row threshold aggregate broadcasts onto the fact scan;
    bucketing is a per-row CASE; the audit aggregates on 4 keys.  At
    100 TB swap the exact percentile for approx_percentile — the plan
    shape is unchanged.
    """
    o = load_table(spark, sf_dir, "orders")
    q = o.agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("q2"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    p = F.col("o_totalprice")
    bin_ = (
        F.when(p <= F.col("q1"), F.lit("q1"))
        .when(p <= F.col("q2"), F.lit("q2"))
        .when(p <= F.col("q3"), F.lit("q3"))
        .otherwise(F.lit("q4"))
    )
    return (
        o.join(F.broadcast(q))
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("total_value"),
            (F.round(F.min("o_totalprice"), 2) + F.lit(0.0)).alias("min_value"),
            (F.round(F.max("o_totalprice"), 2) + F.lit(0.0)).alias("max_value"),
        )
        .orderBy("bin")
    )


def nested_lineitems_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data round trip: denormalize lineitems into a sorted
    array<struct> per order (the nested-parquet layout document stores
    and log pipelines use), aggregate INSIDE the array with a
    higher-order function (decimal fold — no explode), and report
    per-priority order/item counts and exact item value mass.  The
    oracle computes the same numbers from the flat join, proving the
    nested construction loses nothing.

    Scale: one shuffle to nest (groupBy orderkey), one equi-join to
    orders, and a tiny aggregation; the HOF fold runs inside the row —
    no second explode shuffle.  Arrays are per-order (≤7 items) so no
    group blows memory.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            )
        ).alias("items")
    )
    j = o.join(nested, o.o_orderkey == nested.l_orderkey)
    item_mass = F.aggregate(
        "items",
        F.lit(0).cast("decimal(18,2)"),
        lambda acc, x: (acc + x["l_extendedprice"].cast("decimal(18,2)")).cast(
            "decimal(18,2)"
        ),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.size("items")).cast("long").alias("n_items"),
            F.sum(item_mass).cast("double").alias("items_value"),
        )
        .orderBy("o_orderpriority")
    )


def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint report (Deequ-style): declarative
    uniqueness / range / domain / completeness checks over the core
    tables, one row per constraint with its violation count — the gate a
    production pipeline runs before promoting a dataset version.

    Scale: every constraint is an aggregate over one scan of its table
    (uniqueness via count vs distinct-count, the rest via conditional
    sums); constraints on the same table share the scan.  Output is
    O(#constraints) regardless of SF.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")

    def report(df: DataFrame, table: str, pairs: list) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        names = []
        for name, viol in pairs:
            aggs.append(viol.alias(name))
            names.append(name)
        # One aggregate row per table, but unpivoted by a per-constraint
        # select union — checkpoint it so each table really is scanned
        # once, not once per constraint.
        row = df.agg(*aggs).localCheckpoint(eager=False)
        out = None
        for name in names:
            r = row.select(
                F.lit(table).alias("table_name"),
                F.lit(name).alias("constraint_name"),
                F.col("n_rows"),
                F.col(name).cast("long").alias("n_violations"),
                (F.col(name) == 0).alias("passed"),
            )
            out = r if out is None else out.unionByName(r)
        return out

    uniq_orders = F.count(F.lit(1)) - F.countDistinct("o_orderkey")
    reports = [
        report(
            o,
            "orders",
            [
                ("unique_orderkey", uniq_orders),
                (
                    "positive_totalprice",
                    F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
                ),
            ],
        ),
        report(
            c,
            "customer",
            [
                (
                    "acctbal_not_null",
                    F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)),
                ),
                (
                    "nationkey_in_range",
                    F.sum(
                        F.when(
                            (F.col("c_nationkey") < 0) | (F.col("c_nationkey") > 24),
                            1,
                        ).otherwise(0)
                    ),
                ),
            ],
        ),
        report(
            e,
            "events",
            [
                (
                    "known_event_type",
                    F.sum(
                        F.when(
                            ~F.col("event_type").isin(
                                "click", "view", "purchase", "signup", "error"
                            ),
                            1,
                        ).otherwise(0)
                    ),
                ),
            ],
        ),
        report(
            li,
            "lineitem",
            [
                (
                    "discount_in_unit_interval",
                    F.sum(
                        F.when(
                            (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                        ).otherwise(0)
                    ),
                ),
            ],
        ),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("table_name", "constraint_name")


def spend_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing windows: each market segment's customers ranked
    by total spend with percent_rank and cume_dist — the two analytic
    functions (beyond rank/ntile) a percentile-based segmentation uses.
    Output keeps the top 5 spenders per segment for bounded size.

    Scale: one aggregation on custkey, one window shuffle on segment.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    spend = (
        o.groupBy("o_custkey")
        .agg(money_sum("o_totalprice").alias("spent"))
        .join(c, F.col("o_custkey") == c.c_custkey)
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("spent").asc(), F.col("c_custkey").asc()
    )
    ranked = spend.select(
        "c_mktsegment",
        "c_custkey",
        "spent",
        (F.round(F.percent_rank().over(w), 6) + F.lit(0.0)).alias("pct_rank"),
        (F.round(F.cume_dist().over(w), 6) + F.lit(0.0)).alias("cume"),
        F.row_number()
        .over(
            Window.partitionBy("c_mktsegment").orderBy(
                F.col("spent").desc(), F.col("c_custkey").asc()
            )
        )
        .cast("int")
        .alias("top_rn"),
    )
    return (
        ranked.where(F.col("top_rn") <= 5)
        .select("c_mktsegment", "c_custkey", "spent", "pct_rank", "cume")
        .orderBy("c_mktsegment", F.col("spent").desc(), "c_custkey")
    )


def revenue_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates: slope / intercept / r² of daily
    revenue against the day index (regr_slope family — the SQL-standard
    trend fit a dashboard computes without leaving the engine).

    Scale: the regression inputs aggregate to one row of sufficient
    statistics (sums and cross-products) — a single map-side-combined
    pass over the daily aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        money_sum("o_totalprice").alias("revenue")
    )
    x = F.datediff(F.col("d"), F.lit("1992-01-01").cast("date")).cast("double")
    return daily.select(F.col("revenue").alias("y"), x.alias("x")).agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.round(F.regr_slope("y", "x"), 4) + F.lit(0.0)).alias("slope"),
        (F.round(F.regr_intercept("y", "x"), 2) + F.lit(0.0)).alias("intercept"),
        (F.round(F.regr_r2("y", "x"), 6) + F.lit(0.0)).alias("r2"),
    )


def region_nation_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg surface: per region, the comma-joined sorted
    list of its nation names plus the count — the denormalized label
    column BI exports ask for.  Sorting inside the aggregate
    (array_sort before array_join) makes the string deterministic
    regardless of partitioning.
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nation_csv"
            ),
        )
        .orderBy("r_name")
    )


_RESERVOIR_PRIME = 2654435761
_RESERVOIR_MOD = 2147483647
_RESERVOIR_K = 3


def reservoir_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key uniform sample: keep K=3 orders per
    o_orderstatus, chosen by multiplicative hash rank — the reproducible
    per-group sampling primitive (a distributed reservoir whose "random"
    tape is a hash, so reruns and backfills pick identical rows).

    Scale: one hash exchange on the group key + per-group window top-K —
    state per group is K rows, never the group's full contents; no RNG
    state, no driver participation.  Equivalent to reservoir sampling
    with a deterministic tape: rank-by-hash over the group IS a uniform
    K-subset when the hash is uniform.  The reference has no sampling at
    all (SURVEY.md §2.2).
    """
    o = load_table(spark, sf_dir, "orders")
    h = ((F.col("o_orderkey") % F.lit(_RESERVOIR_MOD)) * F.lit(_RESERVOIR_PRIME)) % F.lit(_RESERVOIR_MOD)
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("h").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_orderstatus", "o_orderkey", "o_totalprice")
        .withColumn("h", h)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _RESERVOIR_K)
        .select(
            "o_orderstatus",
            F.col("rk").cast("bigint").alias("rk"),
            "o_orderkey",
            cents("o_totalprice").alias("price_cents"),
        )
        .orderBy("o_orderstatus", "rk")
    )


def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem numeric measures —
    the feature-correlation scan every model-building pipeline runs
    before feature selection.

    Determinism: corr is a single-pass covariance aggregate on both
    engines; rounded to 4dp (+0.0 for negative zero) to absorb
    summation-order float drift.  Scale: ONE scan computes all six
    pairs in one partial-aggregate pass (no per-pair rescans), reduced
    to a single row per pair — no shuffle beyond the final 1-partition
    aggregate of partials.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"),
        ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    aggs = [
        (F.round(F.corr(a, b), 4) + F.lit(0.0)).alias(f"corr_{a}_{b}")
        for a, b in pairs
    ]
    wide = li.agg(*aggs)
    # melt to (pair, corr) rows so the schema stays stable if pairs grow
    stack_expr = "stack({n}, {args}) as (pair, corr)".format(
        n=len(pairs),
        args=", ".join(f"'{a}~{b}', corr_{a}_{b}" for a, b in pairs),
    )
    return wide.selectExpr(stack_expr).orderBy("pair")


def chisq_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for o_orderpriority ×
    o_orderstatus: observed vs expected cell counts from the two
    marginals — the categorical-association screen (feature vs label)
    run before one-hot encoding.

    Scale: one groupBy builds the contingency table (tiny: 5×3 cells);
    marginals come from window sums over the cells, NOT rescans of the
    fact table; the chi-square reduce is over ≤15 rows.  Determinism:
    cell math is exact integers until the final division, rounded 4dp.
    """
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_row = Window.partitionBy("o_orderpriority")
    w_col = Window.partitionBy("o_orderstatus")
    w_all = Window.partitionBy()
    enriched = cells.select(
        "o_orderpriority",
        "o_orderstatus",
        "n",
        F.sum("n").over(w_row).alias("row_n"),
        F.sum("n").over(w_col).alias("col_n"),
        F.sum("n").over(w_all).alias("total_n"),
    )
    term = (
        F.pow(
            F.col("n") - F.col("row_n") * F.col("col_n") / F.col("total_n"), F.lit(2.0)
        )
        / (F.col("row_n") * F.col("col_n") / F.col("total_n"))
    )
    return enriched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        (F.round(F.sum(term), 4) + F.lit(0.0)).alias("chi_square"),
    )


def incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-custkey
    (count, revenue-sum) MV built from the base partition (orders with
    o_orderkey % 5 != 0) is refreshed with the delta partition
    (% 5 == 0) by ALGEBRAIC MERGE — union the MV with the delta's
    partial aggregate and re-aggregate — never rescanning the base fact
    rows.  The oracle is the from-scratch aggregate over ALL rows:
    equality IS the correctness proof of the merge algebra.

    At 100 TB this is the difference between a nightly full recompute
    and touching only the day's delta: count/sum/min/max are mergeable,
    so refresh cost is O(|delta| + |MV|).  (avg is derived sum/count at
    read time; non-algebraic aggs need sketches — see kmv_set_ops /
    tdigest_quantiles_events.)
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 5 != 0)
    delta = o.where(F.col("o_orderkey") % 5 == 0)

    def partial(df: DataFrame) -> DataFrame:
        # keep the MV column DECIMAL (not double): partial sums must stay
        # exact so the merge re-sum is associative across refreshes
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )

    mv = partial(base)  # the stored MV (in production: read from parquet)
    refreshed = (
        mv.unionByName(partial(delta))
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue").alias("revenue"),
        )
    )
    return refreshed.select(
        "o_custkey",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("revenue").cast("double").alias("revenue"),
    ).orderBy("o_custkey")


_Z_BITS = 8


def _interleave_expr(xcol: str, ycol: str) -> F.Column:
    """Bit-interleave two 8-bit values into a 16-bit Morton (z-order)
    code: x bits land at even positions, y bits at odd ones."""
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(F.col(xcol), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(F.col(ycol), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def zorder_curve_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve bucketing of orders on the two most common
    filter dimensions, (customer, order date): interleave the low 8 bits
    of each into a 16-bit z-value and report per-bucket (z >> 10) counts
    and the min/max span of BOTH dims.

    Why it matters at 100 TB: sorting a table by the z-curve before
    writing gives every file a bounded range in EVERY interleaved
    dimension simultaneously (unlike a single-column sort, which makes
    the second dimension's per-file span as wide as the table) — so
    min/max row-group stats prune scans for filters on either dim.  The
    bucket spans this query emits are exactly the per-file stats a
    z-sorted write would produce; the curve math is integer-exact and
    oracle-checked bit for bit.  See
    tests/test_scale_techniques.py::test_zorder_write_bounds_both_dims
    for the layout effect on real parquet footers.
    """
    o = load_table(spark, sf_dir, "orders")
    prepared = o.select(
        (F.col("o_custkey") % 256).alias("xk"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256).alias("yk"),
    )
    z = prepared.withColumn("z", _interleave_expr("xk", "yk"))
    return (
        z.groupBy((F.col("z") / F.lit(1024)).cast("long").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("xk").alias("x_min"),
            F.max("xk").alias("x_max"),
            F.min("yk").alias("y_min"),
            F.max("yk").alias("y_max"),
        )
        .orderBy("z_bucket")
    )


def lateral_topn_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: for each order status, the top-3
    orders by price via a per-row dependent subquery with ORDER BY +
    LIMIT — the SQL-dialect twin of the window row_number pattern
    (topk_orders / window_rank_orders).  Catalyst decorrelates the
    lateral into a row_number window + broadcast join — two scans total,
    never |statuses| rescans — so the shape survives 100 TB (the
    DataFrame window variant stays the leaner plan; this pins the SQL
    dialect's decorrelation).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sqlv_lat_orders")
    return spark.sql(
        """
        SELECT s.o_orderstatus, l.o_orderkey, l.price_cents
        FROM (SELECT DISTINCT o_orderstatus FROM sqlv_lat_orders) s,
        LATERAL (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM sqlv_lat_orders o
            WHERE o.o_orderstatus = s.o_orderstatus
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) l
        ORDER BY o_orderstatus, price_cents DESC, o_orderkey
        """
    )


_CK_P1 = 2654435761
_CK_P2 = 40503
_CK_MOD = 2147483647


def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum: each row maps to a bounded
    arithmetic hash of its business key + money value, summed per status
    and globally — the replica-reconciliation primitive (compare two
    copies of a 100 TB table by exchanging ONE row per partition key, no
    data movement).  Commutative sum ⇒ partitioning/order invariant;
    pure integer arithmetic ⇒ bit-identical on any engine.
    """
    o = load_table(spark, sf_dir, "orders")
    row_h = (
        ((F.col("o_orderkey") % F.lit(_CK_MOD)) * F.lit(_CK_P1)) % F.lit(_CK_MOD)
        + (cents("o_totalprice") * F.lit(_CK_P2)) % F.lit(_CK_MOD)
    ) % F.lit(_CK_MOD)
    per_status = (
        o.select("o_orderstatus", row_h.alias("h"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("h") % F.lit(_CK_MOD)).alias("checksum"),
        )
    )
    return per_status.orderBy("o_orderstatus")


def pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / contribution analysis: rank customers by revenue, add
    cumulative share of total, and report how deep the 50% / 80% / 95%
    revenue lines reach — the 80/20 concentration readout behind
    account-tiering decisions.

    Scale: one partial-agg groupBy to per-customer revenue, ONE global
    window ordered by (revenue desc, custkey) for the cumsum — at
    extreme |customers| the global cumsum becomes two passes
    (per-partition partials + broadcast offsets); at this shape the
    single window is the right plan.  Exact cents end-to-end; one
    rounded division at the output.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("rev_cents")
    )
    w = Window.orderBy(F.col("rev_cents").desc(), F.col("o_custkey"))
    total = per_cust.agg(F.sum("rev_cents").alias("total_cents"))
    ranked = (
        per_cust.crossJoin(F.broadcast(total))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "cum_share",
            F.sum("rev_cents").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            / F.col("total_cents"),
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min(F.when(F.col("cum_share") >= 0.5, F.col("rk"))).alias("n_for_50pct"),
        F.min(F.when(F.col("cum_share") >= 0.8, F.col("rk"))).alias("n_for_80pct"),
        F.min(F.when(F.col("cum_share") >= 0.95, F.col("rk"))).alias("n_for_95pct"),
    )


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan counts
    for every FK edge (lineitem→orders, lineitem→part, lineitem→supplier,
    orders→customer, customer→nation) via left-anti joins — the
    constraint layer a lake has to run itself (no FK enforcement in
    parquet).

    Scale: each edge is an anti join that broadcasts the smaller key
    set (dims) or shuffles once (orders); counts reduce to one row.
    Every edge shares the stack-melted output schema, so new edges are
    one line each.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    def orphans(edge, child, ckey, parent, pkey):
        # one lazy 1-row branch per edge; the union stays a single plan
        # (no driver-side .count() loop — 5 actions become 1)
        return (
            child.select(F.col(ckey).alias("k"))
            .join(parent.select(F.col(pkey).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(edge).alias("fk_edge"), "n_orphans")
        )

    edges = [
        orphans("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
        orphans("lineitem->part", li, "l_partkey", p, "p_partkey"),
        orphans("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"),
        orphans("orders->customer", o, "o_custkey", c, "c_custkey"),
        orphans("customer->nation", c, "c_nationkey", n, "n_nationkey"),
    ]
    report = edges[0]
    for e in edges[1:]:
        report = report.unionByName(e)
    return report.orderBy("fk_edge")


def gini_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the inequality readout
    that pairs with ``pareto_customers``' concentration curve.

    Uses the rank formulation G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    over revenue cents sorted ascending (unique-key tiebreak on custkey),
    so everything stays in exact integer/decimal arithmetic until one final
    division.  Plan: partial-agg groupBy to per-customer cents, one global
    row_number window (at extreme |customers|: two-pass partial cumsums),
    then a 1-row aggregate; sum(i*x) goes through DECIMAL(38,0) because it
    overflows bigint at scale and DuckDB widens to HUGEINT.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("rev_cents")
    )
    w = Window.orderBy(F.col("rev_cents"), F.col("o_custkey"))
    ranked = per_cust.withColumn("rk", F.row_number().over(w).cast("bigint"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("rk") * F.col("rev_cents")).cast("decimal(38,0)")).alias("six"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    six = F.col("six").cast("double")
    gini = (2.0 * six - (n + 1.0) * sx) / (n * sx)
    return agg.select(
        "n",
        (F.round(gini, 6) + F.lit(0.0)).alias("gini"),
    ).withColumnRenamed("n", "n_customers")


def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over part: the parts not dominated on
    (minimize retail price, maximize size) — the classic multi-criteria
    shortlist operator.

    Scalable decomposition: (1) exact reduction to one row per distinct
    price with the max size at that price (map-side combine, tiny output);
    (2) frontier test on the reduced set with two running-max windows over
    integer price cents — strictly-cheaper max size and cheaper-or-equal
    max size; (3) semi-join back to recover every part on a frontier
    point.  The full table is never globally sorted — only the distinct
    price list is, and at 100 TB that reduction output is bounded by the
    price domain, not the row count.

    A part is dominated iff some other part has (price < p and size >= s)
    or (price <= p and size > s).
    """
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        cents("p_retailprice").alias("price_cents"), F.col("p_size")
    )
    per_price = pts.groupBy("price_cents").agg(F.max("p_size").alias("max_size"))
    w_lt = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_leq = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    frontier = (
        per_price.withColumn("max_lt", F.max("max_size").over(w_lt))
        .withColumn("max_leq", F.max("max_size").over(w_leq))
        .where(
            (F.col("max_lt").isNull() | (F.col("max_lt") < F.col("max_size")))
            & (F.col("max_leq") <= F.col("max_size"))
        )
        .select("price_cents", F.col("max_size").alias("p_size"))
    )
    return (
        part.withColumn("price_cents", cents("p_retailprice"))
        .join(F.broadcast(frontier), ["price_cents", "p_size"], "left_semi")
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


def brand_price_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / geometric / harmonic mean retail price per brand — the
    three Pythagorean means in one partial-agg pass (geometric via
    exp(mean(ln x)), harmonic via n/sum(1/x)); the skew diagnostic for
    price distributions (AM >= GM >= HM, gaps widen with spread).
    """
    part = load_table(spark, sf_dir, "part")
    p = F.col("p_retailprice")
    agg = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(p).alias("s"),
        F.sum(F.log(p)).alias("slog"),
        F.sum(F.lit(1.0) / p).alias("sinv"),
    )
    n = F.col("n_parts").cast("double")
    return agg.select(
        "p_brand",
        "n_parts",
        (F.round(F.col("s") / n, 4) + F.lit(0.0)).alias("mean_price"),
        (F.round(F.exp(F.col("slog") / n), 4) + F.lit(0.0)).alias("geo_mean_price"),
        (F.round(n / F.col("sinv"), 4) + F.lit(0.0)).alias("harm_mean_price"),
    ).orderBy("p_brand")


def order_revenue_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact reconciliation: does each order's header total agree
    with the sum of its line items?  Classifies every order as matched /
    mismatched / missing-lines and reports counts plus the total absolute
    discrepancy — the data-quality audit run after every ingest of a
    header/detail pair.

    Exact integer cents end-to-end (the comparison is equality on cents,
    never float).  Plan: partial-agg groupBy on lineitem to per-order
    cents, then ONE shuffle join with orders on the shared key; both
    sides partition on o_orderkey so AQE can co-locate, and the final
    rollup is a 3-row aggregate.  (The synthetic fixture's totals are
    independent of its line items, so most orders land in 'mismatch' —
    the operator's job is attribution, not absolution.)
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(cents("l_extendedprice")).alias("line_cents")
    )
    joined = o.select(
        "o_orderkey", cents("o_totalprice").alias("hdr_cents")
    ).join(per_order, o.o_orderkey == per_order.l_orderkey, "left")
    status = (
        F.when(F.col("line_cents").isNull(), F.lit("missing_lines"))
        .when(F.col("line_cents") == F.col("hdr_cents"), F.lit("matched"))
        .otherwise(F.lit("mismatched"))
    )
    return (
        joined.select(
            status.alias("status"),
            F.coalesce(
                F.abs(F.col("hdr_cents") - F.col("line_cents")), F.lit(0)
            ).alias("abs_diff_cents"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("abs_diff_cents").cast("decimal(38,0)"))
            .cast("double")
            .alias("total_abs_diff_cents"),
        )
        .orderBy("status")
    )


_BLOOM_BITS = 1 << 16  # 65536 bits = 1024 longs ≈ 8 KB; ~1% fp at ~3k keys, k=2
_BLOOM_WORDS = _BLOOM_BITS // 64


def bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime-filter join: revenue of orders placed by
    BUILDING-segment customers in low-key nations, where the fact scan is
    pre-filtered by an 8 KB Bloom filter built from the dimension's keys
    before the exact join runs.

    This is the runtime-filter pattern Spark itself applies in
    `spark.sql.optimizer.runtime.bloomFilter.enabled` (and engines like
    Trino/Snowflake apply as "dynamic filters"), made explicit as an
    operator:
    1. the qualifying keys' k=2 xxhash64 bit positions aggregate into a
       1024-word bitmap ENTIRELY as one aggregation — explode positions,
       bit_or(shiftleft) per 64-bit word, then a map-backed dense-array
       fill into a single row.  No driver collect, no extra jobs: the
       1-row bitmap frame broadcast-joins like every other corpus scalar
       in this repo;
    2. the ~8 KB bitmap is constant size regardless of fact scale,
       unlike a broadcast hash join's full key set;
    3. the fact table filters rows through the bitmap (two shifts + ANDs,
       whole-stage codegen) BEFORE the exact semi join that removes the
       ~1% false positives.

    Semantics are exactly the plain semi join (oracle = plain SQL IN);
    the Bloom stage is pure physical optimization.  At 100 TB the value
    is: when the dimension key set is too large to broadcast, the shuffle
    of the fact side ships only bloom-surviving rows — the 8 KB bitmap
    rides the closure to every executor while a shuffle-hash semi join
    would move the full fact table.  A pytest pins bloom-passed counts
    strictly between the true match count and the table count.
    """
    _o, keys, passed = _bloom_probe(spark, sf_dir)
    return (
        passed.select("o_custkey", "o_orderstatus", "o_totalprice")
        # exact semi join kills the Bloom's false positives
        .join(F.broadcast(keys), F.col("o_custkey") == F.col("c_custkey"), "semi")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


def _bloom_probe(spark: SparkSession, sf_dir: str):
    """(orders, qualifying customer keys, the orders whose keys pass the
    Bloom bitmap) for :func:`bloom_filter_join`."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    keys = c.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") < 10)
    ).select("c_custkey")

    def positions(col: F.Column) -> list[F.Column]:
        return [
            F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(_BLOOM_BITS)) for seed in (1, 2)
        ]

    # Aggregate-built bitmap: positions → per-word bit_or → dense 1024-long
    # array on ONE row.  Stays entirely JVM-side; zero driver round-trips.
    per_word = (
        keys.select(F.explode(F.array(*positions(F.col("c_custkey")))).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    bmdf = (
        per_word.groupBy()
        .agg(
            F.map_from_arrays(
                F.collect_list("w"), F.collect_list("bits")
            ).alias("bm_map")
        )
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(_BLOOM_WORDS - 1)),
                lambda i: F.coalesce(F.element_at(F.col("bm_map"), i), F.lit(0).cast("long")),
            ).alias("bm")
        )
    )

    probed = o.join(F.broadcast(bmdf))
    for i, p in enumerate(positions(F.col("o_custkey"))):
        probed = probed.withColumn(f"__p{i}", p).withColumn(
            f"__w{i}", F.element_at(F.col("bm"), (F.col(f"__p{i}") / 64).cast("int") + 1)
        )
    bloom_pass = F.expr(
        "(shiftright(__w0, cast(__p0 % 64 as int)) & 1) = 1 "
        "AND (shiftright(__w1, cast(__p1 % 64 as int)) & 1) = 1"
    )
    return o, keys, probed.where(bloom_pass)


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: group customers by the
    (c_mktsegment, c_nationkey) quasi-identifier tuple and report, per
    segment, how many equivalence classes fall below k=10 members and how
    many individuals sit in those re-identifiable classes — the
    release-gate check privacy-aware data publishing runs before sharing
    "anonymized" extracts (Sweeney, IJUFKS 2002).

    Scale: two cascaded aggregations, each keyed on a tiny domain
    (segment × nation, then segment) — map-side partials everywhere; the
    quasi-identifier grouping is the only data-scale shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    k = 10
    classes = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        classes.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("class_size") < k, 1).otherwise(0))
            .cast("long")
            .alias("n_small_classes"),
            F.min("class_size").alias("min_class_size"),
            F.sum(F.when(F.col("class_size") < k, F.col("class_size")).otherwise(0))
            .cast("long")
            .alias("n_customers_at_risk"),
        )
        .orderBy("c_mktsegment")
    )


def range_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition planner: split ``o_totalprice`` into 16
    buckets of ~equal row count and report each bucket's row count and
    exact [lo, hi] cent bounds — the boundary table a 100 TB
    ``repartitionByRange`` / range-bucketed layout is driven by (Spark
    samples to estimate these; this is the exact version).

    Scalable formulation: NO global sort/ntile (a single-partition window
    over the fact table is the classic scale-killer).  The fact table
    first aggregates to (distinct value -> count) — orders of magnitude
    smaller — then ONE tiny window over the distinct values assigns
    ``bucket = floor(cum_rows_before * B / n)``.  Ties never straddle a
    bucket (a property ntile cannot give), so the assignment is
    deterministic under any parallelism.
    """
    b = 16
    o = load_table(spark, sf_dir, "orders")
    vals = (
        o.select(cents("o_totalprice").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    tot = vals.agg(F.sum("cnt").alias("n"))
    assigned = (
        vals.join(F.broadcast(tot))
        .withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .withColumn(
            "bucket",
            F.floor(F.col("cum_before") * F.lit(b) / F.col("n")).cast("int"),
        )
    )
    return (
        assigned.groupBy("bucket")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.min("v").alias("lo_cents"),
            F.max("v").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan over the daily order-revenue series:
    cusum_i = Σ_{j<=i} x_j − i·μ (cumulative deviation from the global
    mean), with days flagged where |cusum| exceeds 2σ·√n — the classic
    drift detector for metric monitoring (Page, Biometrika 1954).

    Determinism: the running sum is EXACT integer cents (order-fixed
    window over unique dates); μ and σ come from exact global moments
    (Σx, Σx² as DECIMAL(38,0)) with the same double expression tree in
    the oracle — no float accumulation anywhere.

    Scale: the fact table aggregates to the daily grain first (the only
    data-scale shuffle); the CUSUM window runs over O(days) rows.  The
    single-partition window over days is bounded by the calendar, not
    the data.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("x")
    )
    dec = lambda c: c.cast("decimal(38,0)")
    glob = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wi = Window.orderBy("day")
    mu = F.col("sx").cast("double") / F.col("n")
    var = F.col("sxx").cast("double") / F.col("n") - mu * mu
    joined = (
        daily.join(F.broadcast(glob))
        .withColumn("run", F.sum("x").over(w))
        .withColumn("i", F.row_number().over(wi).cast("bigint"))
    )
    cusum = F.col("run").cast("double") - F.col("i") * mu
    thresh = F.lit(2.0) * F.sqrt(var) * F.sqrt(F.col("n").cast("double"))
    return joined.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").alias("rev_cents"),
        (F.round(cusum, 4) + F.lit(0.0)).alias("cusum"),
        (F.abs(cusum) > thresh).alias("drift_flag"),
    ).orderBy("day")


def item_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over co-purchases: for every
    part, the top-3 recommended parts by co-occurrence cosine
    sim(i,j) = cooc(i,j) / √(n_i·n_j), on pairs co-bought in ≥2 orders —
    the classic Amazon-style neighborhood recommender (Linden et al.,
    IEEE Internet Computing '03).

    Scale: the pair expansion joins per-order DISTINCT part lists (never
    raw lineitems); the ≥2-support filter is the k=2 Apriori prune that
    bounds the candidate set; marginal counts broadcast.  Determinism:
    integer counts, one rounded division, (sim, id) tiebreak.
    """
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    cnt = po.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    cooc = (
        po.alias("a")
        .join(po.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cooc"))
        .filter(F.col("cooc") >= 2)
    )
    sym = cooc.union(
        cooc.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "cooc")
    )
    joined = (
        sym.join(cnt.select(F.col("p").alias("pa"), F.col("n").alias("na")), "pa")
        .join(cnt.select(F.col("p").alias("pb"), F.col("n").alias("nb")), "pb")
        .withColumn(
            "sim",
            F.round(F.col("cooc") / F.sqrt(F.col("na") * F.col("nb")), 6),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.col("sim").desc(), F.col("pb").asc())
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select(
            F.col("pa").alias("part"),
            "rk",
            F.col("pb").alias("rec_part"),
            "sim",
        )
        .orderBy("part", "rk")
    )


def adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the order–part bipartite graph:
    score(i,j) = Σ_{shared orders o} 1/ln(|o|) — shared SMALL baskets
    are stronger evidence of affinity than shared huge ones (Adamic &
    Adar, Social Networks 2003).  Top-20 predicted links.

    Determinism: each order's 1/ln weight is rounded to 9 dp and summed
    as DECIMAL(18,9) — exact and order-free — because a plain double sum
    over shuffled partitions is run-to-run nondeterministic.  Scale:
    weights attach to the per-order part lists before the pair
    expansion; orders with one part contribute nothing and drop early.
    """
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    osz = po.groupBy("o").agg(F.count(F.lit(1)).alias("sz")).filter(F.col("sz") >= 2)
    wpo = po.join(osz, "o").withColumn(
        "wt", F.round(F.lit(1.0) / F.log(F.col("sz")), 9).cast("decimal(18,9)")
    )
    aa = (
        wpo.alias("a")
        .join(
            wpo.alias("b"),
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.round(F.sum(F.col("a.wt")).cast("double"), 6).alias("aa_score"),
        )
    )
    w = Window.orderBy(F.col("aa_score").desc(), F.col("pa").asc(), F.col("pb").asc())
    return (
        aa.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 20)
        .select("rk", "pa", "pb", "n_shared", "aa_score")
        .orderBy("rk")
    )


def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift bins: order prices of the LAST
    order-year vs all prior years, binned by global price deciles, with
    the per-bin PSI term (p−q)·ln(p/q) (Laplace-smoothed) — the ML
    monitoring metric for "did the serving distribution drift from
    training?".

    Scale: decile boundaries come from the same value-level cumulative
    trick as range_partition_planner (no global row sort); everything
    else is two tiny aggregations.  Determinism: integer bin counts,
    smoothed ratios and ln on a fixed expression tree, per-bin values
    only (a float total would sum in nondeterministic order; consumers
    can decimal-sum the rounded terms).
    """
    b = 10
    o = load_table(spark, sf_dir, "orders")
    priced = o.select(
        cents("o_totalprice").alias("v"),
        F.year("o_orderdate").alias("yr"),
    )
    maxy = priced.agg(F.max("yr").alias("maxy"))
    vals = priced.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    tot = vals.agg(F.sum("cnt").alias("n"))
    buckets = (
        vals.join(F.broadcast(tot))
        .withColumn("cum_before", F.coalesce(F.sum("cnt").over(wv), F.lit(0)))
        .withColumn(
            "bucket", F.floor(F.col("cum_before") * F.lit(b) / F.col("n")).cast("int")
        )
        .select("v", "bucket")
    )
    binned = (
        priced.join(F.broadcast(maxy))
        .join(buckets, "v")
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("yr") < F.col("maxy"), 1).otherwise(0))
            .cast("long")
            .alias("n_early"),
            F.sum(F.when(F.col("yr") == F.col("maxy"), 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
        )
    )
    totals = binned.agg(
        F.sum("n_early").alias("te"), F.sum("n_late").alias("tl")
    )
    p = (F.col("n_early") + 1).cast("double") / (F.col("te") + b).cast("double")
    q = (F.col("n_late") + 1).cast("double") / (F.col("tl") + b).cast("double")
    return (
        binned.join(F.broadcast(totals))
        .select(
            "bucket",
            "n_early",
            "n_late",
            (F.round((p - q) * F.log(p / q), 8) + F.lit(0.0)).alias("psi_term"),
        )
        .orderBy("bucket")
    )


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed
    leading-digit shares vs the log10(1+1/d) expectation — the
    fraud/synthetic-data screen auditors run on financial fact tables
    (fabricated amounts flunk Benford).

    Determinism: the leading digit comes from the STRING of the exact
    integer cents (never floating log10, whose boundary cells misbin);
    shares are single rounded divisions of integer counts.  Scale: one
    9-key aggregation with map-side combine.
    """
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(cents("o_totalprice").cast("string"), 1, 1)
    tot = o.agg(F.count(F.lit(1)).alias("n"))
    benford = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")), 6)
    return (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            (F.round(F.col("n_orders") / F.col("n"), 6) + F.lit(0.0)).alias("obs_share"),
            (benford + F.lit(0.0)).alias("benford_share"),
            (
                F.round(
                    F.col("n_orders") / F.col("n")
                    - F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")),
                    6,
                )
                + F.lit(0.0)
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate of daily order revenue over the
    last 120 order days: the MEDIAN of all pairwise slopes — immune to
    the outlier days that wreck least-squares (Sen, JASA 1968;
    complements the OLS revenue_trend_regression).

    Determinism: slopes are exact-cents differences over integer day
    gaps (one double division each); the median picks values at fixed
    rank positions of the sorted multiset (tie order cannot change the
    value at a rank) and averages the two middles with the same (a+b)/2
    tree as the oracle.  Scale: the pair expansion is O(days²) —
    bounded by the CALENDAR window (120 ⇒ ≤7140 pairs), never by data
    volume; the raw scan aggregates to the daily grain first.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("y")
    )
    maxd = daily.agg(F.max("day").alias("maxd"))
    recent = (
        daily.join(F.broadcast(maxd))
        .withColumn("i", F.datediff("day", "maxd"))
        .filter(F.col("i") > -120)
        .select("i", "y")
    )
    slopes = (
        recent.alias("a")
        .join(recent.alias("b"), F.col("a.i") < F.col("b.i"))
        .select(
            (
                (F.col("b.y") - F.col("a.y")).cast("double")
                / (F.col("b.i") - F.col("a.i")).cast("double")
            ).alias("s")
        )
    )
    w = Window.orderBy("s")
    ranked = slopes.withColumn("rn", F.row_number().over(w))
    tot = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    k1 = F.floor((F.col("n_pairs") + 1) / 2)
    k2 = F.floor(F.col("n_pairs") / 2) + 1
    picked = ranked.join(F.broadcast(tot)).filter(
        (F.col("rn") == k1) | (F.col("rn") == k2)
    )
    ndays = recent.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        picked.groupBy("n_pairs")
        .agg((F.round(F.sum("s") / F.count(F.lit(1)), 6) + F.lit(0.0)).alias("slope_cents_per_day"))
        .join(F.broadcast(ndays))
        .select("n_days", "n_pairs", "slope_cents_per_day")
    )


_PR_MASS = 1_000_000_000_000  # 1e12 integer mass units per node
_PR_BASE = 150_000_000_000  # 0.15 * mass
_PR_ITERS = 10


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the (symmetrized) part co-purchase graph, computed
    in EXACT INTEGER arithmetic: ranks live in 1e-12 mass units and
    every step is ``base + (85 · Σ (r DIV deg)) DIV 100`` — floor
    divisions only, so ten distributed iterations produce bit-identical
    ranks on any partitioning AND match a DuckDB recursive-CTE oracle
    value-for-value (float PageRank cannot cross-check this way: its
    per-node sums are order-dependent).

    The engine's third iterative-algorithm shape (after label
    propagation and Lloyd): a Python driver loop over joins with
    localCheckpoint truncating lineage each round.  At 100 TB: ranks
    and edges partition on node id so each iteration is one
    co-partitioned join + one aggregation; iterations write to parquet
    instead of checkpointing memory.
    """
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    pairs = (
        po.alias("a")
        .join(po.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("pa", "pb")
    )
    sym = pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).union(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = sym.join(deg, "src").localCheckpoint()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(_PR_MASS).cast("long").alias("r")
    ).localCheckpoint()
    for _ in range(_PR_ITERS):
        contrib = edges.join(
            ranks, edges.src == ranks.node
        ).select("dst", F.expr("r div deg").alias("c"))
        ranks = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(_PR_BASE)
                    + F.expr(f"(85 * sum(c)) div 100")
                )
                .cast("long")
                .alias("r")
            )
            .localCheckpoint()
        )
    w = Window.orderBy(F.col("r").desc(), F.col("node").asc())
    return (
        ranks.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 20)
        .select("rk", F.col("node").alias("part"), F.col("r").alias("rank_units"))
        .orderBy("rk")
    )


def entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed entity-resolution flagship over structured records:
    dirty customer records (deterministic synthetic variants — every
    10th customer also appears with its name's 3rd character dropped
    and a suffixed id) are matched back to their canonicals via the
    classic ER topology: BLOCK on cheap keys → SCORE candidates with
    edit distance → RESOLVE to the canonical (smallest) id per match.

    Blocking keys are (first 2 name chars, nation) — candidates only
    form inside a block, the step that makes pairwise scoring feasible
    at scale (all-pairs over 10⁹ customers is impossible; blocks are
    bounded).  Scoring is levenshtein ≤ 2.  Resolution here is a
    min-per-key aggregate (variants link only to canonicals); densely
    linked records would feed dedup_clusters' label propagation.
    Output: per nation, records in, matches found, distinct resolved
    entities.
    """
    # fixture c_name is sequential ("Customer#0000...") — every record is
    # within edit distance 1 of its neighbor, which makes edit-distance ER
    # degenerate; derive discriminative synthetic names (12 hex chars of
    # md5(custkey)) so matches mean something
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12).alias("c_name"),
        "c_nationkey",
    )
    variants = c.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("c_custkey"),
        F.concat(
            F.substring("c_name", 1, 2), F.substring("c_name", 4, 1000)
        ).alias("c_name"),
        "c_nationkey",
    )
    allrec = c.union(variants)
    blocked = allrec.withColumn("blk", F.substring("c_name", 1, 2))
    cand = (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("dist"),
            F.col("a.c_nationkey").alias("nation"),
        )
        .filter((F.col("dist") > 0) & (F.col("dist") <= 2))
    )
    resolved = cand.groupBy("id_b", "nation").agg(F.min("id_a").alias("canonical"))
    n_rec = allrec.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_records"))
    return (
        resolved.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.countDistinct("canonical").cast("long").alias("n_entities"),
        )
        .join(
            n_rec.select(F.col("c_nationkey").alias("nation"), "n_records"), "nation"
        )
        .select("nation", "n_records", "n_matched", "n_entities")
        .orderBy("nation")
    )


def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join: each order joins the
    customer-dimension VERSION that was valid on its order date — the
    query pattern every SCD2 warehouse lives on (joining the current
    version instead silently rewrites history).

    The versioned dimension is synthesized deterministically: every
    customer has version 1 from the epoch; every 3rd customer gains a
    version 2 (balance +100) effective 1995-06-01.  The join predicate
    is ``key match AND valid_from <= o_date < valid_to`` — a bounded
    interval join that Spark executes as an equi-join on the key with
    the interval as residual filter (each key has ≤2 versions, so the
    per-key expansion is constant; no range-bucket machinery needed).
    Output: revenue and order counts per dimension version — which
    splits exactly at the effective date.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    v1 = c.select(
        "c_custkey",
        F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        F.lit(1).cast("long").alias("version"),
        F.lit("1970-01-01").cast("date").alias("valid_from"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("1995-06-01"))
        .otherwise(F.lit("9999-12-31"))
        .cast("date")
        .alias("valid_to"),
    )
    v2 = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") + 100.0, 2).alias("acctbal"),
            F.lit(2).cast("long").alias("version"),
            F.lit("1995-06-01").cast("date").alias("valid_from"),
            F.lit("9999-12-31").cast("date").alias("valid_to"),
        )
    )
    dim = v1.unionByName(v2)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("o_date"), "o_totalprice"
    )
    joined = o.join(
        dim,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("valid_from") <= F.col("o_date"))
        & (F.col("o_date") < F.col("valid_to")),
    )
    return (
        joined.groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("revenue"),
        )
        .orderBy("version")
    )


def connected_components_stars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-purchase graph via the
    alternating LARGE-STAR / SMALL-STAR algorithm (Kiveris et al.,
    SoCC'14) — the O(log n)-round formulation that replaces naive
    min-label propagation (O(diameter) rounds) on 100 TB graphs:

    * large-star: every node hangs its larger neighbors onto its
      smallest known neighbor — long chains collapse geometrically;
    * small-star: every node re-hangs its smaller-or-equal neighbors
      (and itself) onto that minimum — stars canonicalize.

    Since round 6 the loop lives in ``operators.dedup._cc_alternating_stars``
    (exceptAll fixed-point detection, convergence round-count pinned on a
    planted 600-node chain in test_scale_techniques.py) and is shared
    with the whole dedup-cluster family.  Output: the 20 largest
    components (size desc, id).  Oracle: recursive-CTE transitive
    closure — algorithm-independent ground truth.
    """
    from .dedup import _cc_alternating_stars

    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    pairs = (
        po.alias("x")
        .join(po.alias("y"), (F.col("x.o") == F.col("y.o")) & (F.col("x.p") < F.col("y.p")))
        .groupBy(F.col("x.p").alias("doc_a"), F.col("y.p").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("doc_a", "doc_b")
    )
    labels, _ = _cc_alternating_stars(pairs)
    comp = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_nodes"))
    w = Window.orderBy(F.col("n_nodes").desc(), F.col("cluster_id").asc())
    return (
        comp.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 20)
        .select("rk", "cluster_id", "n_nodes")
        .orderBy("rk")
    )


def association_rules_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for brand pairs
    co-purchased in one order, support / confidence / lift — the a-priori
    mining primitive behind "customers also bought" (reference has no
    counterpart; this is the §2.3 group-by family applied to pair mining).

    Scale: each order collapses to its sorted distinct-brand basket in ONE
    orderkey groupBy (collect_set partial-aggregates map-side, subsuming
    the former separate DISTINCT), and brand pairs are generated map-side
    from the basket array — bounded by brands-per-order² (small constant),
    never by line count, with no self-join.  Brand counts are a 25-row
    aggregate, broadcast to the pair table.  At 100 TB the only large
    shuffle is the basket groupBy — hash-partitioned on orderkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = li.select("l_orderkey", "l_partkey").join(
        part.select("p_partkey", "p_brand"), li.l_partkey == part.p_partkey
    ).select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
    # One groupBy collapses each order to its sorted distinct-brand basket
    # (collect_set dedups, so the separate DISTINCT shuffle is gone); the
    # per-order brand pairs are then generated MAP-SIDE from the array —
    # bounded by brands-per-order² (small constant), replacing the former
    # okey self-join (two shuffled sides + join) with zero joins.  The
    # basket table is checkpointed for its three consumers (pair counts,
    # basket count, brand marginals).
    baskets = (
        items.groupBy("okey")
        .agg(F.array_sort(F.collect_set("brand")).alias("brands"))
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    brand_counts = baskets.select(
        F.explode("brands").alias("brand")
    ).groupBy("brand").agg(F.count(F.lit(1)).alias("cnt"))
    # unordered pairs in (asc, asc) order — identical to the former
    # a.brand < b.brand self-join output because brands is sorted distinct
    pair_structs = F.expr(
        "flatten(transform(brands, (x, i) -> "
        "transform(slice(brands, i + 2, size(brands)), "
        "y -> struct(x as brand_a, y as brand_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    ca = brand_counts.select(
        F.col("brand").alias("brand_a"), F.col("cnt").alias("cnt_a")
    )
    cb = brand_counts.select(
        F.col("brand").alias("brand_b"), F.col("cnt").alias("cnt_b")
    )
    out = (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "pair_orders",
            (F.round(F.col("pair_orders").cast("double") / F.col("n_orders"), 6) + F.lit(0.0)).alias("support"),
            (F.round(F.col("pair_orders").cast("double") / F.col("cnt_a"), 6) + F.lit(0.0)).alias("confidence"),
            (
                F.round(
                    F.col("pair_orders").cast("double")
                    * F.col("n_orders")
                    / (F.col("cnt_a").cast("double") * F.col("cnt_b")),
                    6,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("lift").desc(), F.col("brand_a").asc(), F.col("brand_b").asc()
    ).limit(20)


def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags 1..7 —
    the seasonality fingerprint a forecasting pipeline computes before
    choosing model order.

    Scale: the raw fact table collapses to one row per day (exact cents
    partial agg) before any windowing, so the series is |days| rows no
    matter the input volume; the lag joins and the 1-row moment aggregate
    are all broadcast-sized.  ACF is over the day-ordered series by
    position (row index), pairing r[t] with r[t-k].
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
        .select("day", F.col("rev_cents").cast("double").alias("rev"))
    )
    w = Window.orderBy("day")
    series = daily.select(
        F.row_number().over(w).cast("bigint").alias("idx"), "rev"
    )
    moments = series.agg(
        F.avg("rev").alias("mean_rev"), F.count(F.lit(1)).alias("n")
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = series.alias("a")
    b = series.alias("b")
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("a.idx") == F.col("b.idx") + F.col("lag"))
        .crossJoin(F.broadcast(moments))
    )
    num = paired.groupBy("lag").agg(
        F.sum(
            (F.col("a.rev") - F.col("mean_rev")) * (F.col("b.rev") - F.col("mean_rev"))
        ).alias("num")
    )
    den = (
        series.crossJoin(F.broadcast(moments))
        .agg(
            F.sum(
                (F.col("rev") - F.col("mean_rev")) * (F.col("rev") - F.col("mean_rev"))
            ).alias("den")
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            (F.round(F.col("num") / F.col("den"), 4) + F.lit(0.0)).alias("acf"),
        )
        .orderBy("lag")
    )


def target_encoding_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding of the customer market segment against
    order value — the leakage-safe categorical encoder of a feature
    pipeline: encoded = (sum_target + m·global_mean) / (n + m), m = 20.

    Scale: one join orders→customer (customer side shuffles on custkey;
    at scale AQE picks the strategy), then a 5-row group-by; the global
    mean is a broadcast 1-row aggregate.  Money goes through exact cents.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(
        c.select("c_custkey", "c_mktsegment"), o.o_custkey == c.c_custkey
    )
    glob = joined.agg(
        (
            F.sum(cents("o_totalprice")).cast("double")
            / F.count(F.lit(1))
            / F.lit(100.0)
        ).alias("global_mean")
    )
    per_seg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("sum_cents"),
    )
    m = F.lit(20.0)
    return (
        per_seg.crossJoin(F.broadcast(glob))
        .select(
            "c_mktsegment",
            "n_orders",
            (F.round(F.col("sum_cents").cast("double") / F.lit(100.0) / F.col("n_orders"), 4) + F.lit(0.0)).alias("raw_mean"),
            (
                F.round(
                    (F.col("sum_cents").cast("double") / F.lit(100.0) + m * F.col("global_mean"))
                    / (F.col("n_orders") + m),
                    4,
                )
                + F.lit(0.0)
            ).alias("encoded"),
        )
        .orderBy("c_mktsegment")
    )


def gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure cascade audit: given an erasure set of customers
    (synthetic predicate custkey % 97 == 0), count rows deleted vs
    retained in every downstream table (orders, lineitem) — the
    compliance report a data platform emits before executing the purge.

    Scale: the erase set is derived by predicate, so each cascade level
    is a semi/anti join that shuffles on its own key (custkey, then
    orderkey) — no driver-side key list, no broadcast of an SF-scaled
    set; AQE picks broadcast when the erased-order side is small.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    erased_c = c.where(F.col("c_custkey") % 97 == 0).select("c_custkey")
    erased_o = o.join(
        erased_c, o.o_custkey == erased_c.c_custkey, "left_semi"
    ).select("o_orderkey")
    erased_li = li.join(
        erased_o, li.l_orderkey == erased_o.o_orderkey, "left_semi"
    )

    def level(name: str, total_df: DataFrame, erased_df: DataFrame) -> DataFrame:
        t = total_df.agg(F.count(F.lit(1)).alias("total"))
        e = erased_df.agg(F.count(F.lit(1)).alias("n_deleted"))
        return t.crossJoin(e).select(
            F.lit(name).alias("entity"),
            "n_deleted",
            (F.col("total") - F.col("n_deleted")).alias("n_retained"),
        )

    out = (
        level("customer", c, erased_c)
        .unionByName(level("orders", o, erased_o))
        .unionByName(level("lineitem", li, erased_li))
    )
    return out.orderBy("entity")


def calibration_bins_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration curve scaffold: squash a standardized order value
    through a sigmoid into a pseudo-score, bin scores into deciles, and
    compare mean score vs observed event rate (order finalized) per bin —
    the reliability-diagram aggregation of an ML evaluation pipeline.

    Scale: global mean/std is a 1-row broadcast aggregate; scoring is a
    pure Catalyst expression over one scan; the final group-by has 10
    groups.  No Python in the loop.
    """
    o = load_table(spark, sf_dir, "orders")
    # mu/sigma from EXACT decimal cent moments (s1, s2), not AVG/STDDEV_POP
    # over raw doubles: float accumulation order differs across engines and
    # partitionings, and a last-ulp sigma difference can flip a decile bin.
    stats = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("o_totalprice").cast("decimal(28,0)")).alias("s1c"),
        F.sum((cents("o_totalprice") * cents("o_totalprice")).cast("decimal(38,0)")).alias("s2c"),
    ).select(
        (F.col("s1c").cast("double") / F.col("n") / 100.0).alias("mu"),
        F.sqrt(
            F.greatest(
                F.col("s2c").cast("double") / F.col("n") / 10000.0
                - (F.col("s1c").cast("double") / F.col("n") / 100.0)
                * (F.col("s1c").cast("double") / F.col("n") / 100.0),
                F.lit(0.0),
            )
        ).alias("sigma"),
    )
    z = F.when(
        F.col("sigma") > 0.0,
        (F.col("o_totalprice") - F.col("mu")) / F.col("sigma"),
    ).otherwise(F.lit(0.0))
    scored = o.crossJoin(F.broadcast(stats)).select(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("score"),
        F.when(F.col("o_orderstatus") == "F", F.lit(1)).otherwise(F.lit(0)).alias("outcome"),
    )
    binned = scored.select(
        F.least(F.lit(9), F.floor(F.col("score") * 10)).cast("bigint").alias("bin"),
        "score",
        "outcome",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.avg("score"), 4) + F.lit(0.0)).alias("avg_score"),
            (F.round(F.avg(F.col("outcome").cast("double")), 4) + F.lit(0.0)).alias("event_rate"),
        )
        .orderBy("bin")
    )


def ts_features_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting feature frame over the daily-revenue series: lag-1,
    lag-7, trailing-28-day mean, and day-over-day pct change per day —
    the supervised-learning matrix a demand model trains on.

    Scale: the fact table collapses to |days| rows (exact cents partial
    agg) before any window; the windows then run on the tiny series.  At
    100 TB the only heavy stage is the first group-by, hash-partitioned
    on day with map-side combine.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("rev_cents")
    )
    w = Window.orderBy("day")
    w28 = w.rowsBetween(-27, 0)
    rev = F.col("rev_cents").cast("double") / 100.0
    lag1 = F.lag("rev_cents", 1).over(w)
    lag7 = F.lag("rev_cents", 7).over(w)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.round(rev, 2) + F.lit(0.0)).alias("revenue"),
        (F.round(F.coalesce(lag1.cast("double") / 100.0, F.lit(-1.0)), 2) + F.lit(0.0)).alias("lag1"),
        (F.round(F.coalesce(lag7.cast("double") / 100.0, F.lit(-1.0)), 2) + F.lit(0.0)).alias("lag7"),
        (F.round(F.avg(F.col("rev_cents").cast("double")).over(w28) / 100.0, 4) + F.lit(0.0)).alias("ma28"),
        (
            F.round(
                F.coalesce(
                    (F.col("rev_cents") - lag1).cast("double") / lag1.cast("double"),
                    F.lit(0.0),
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("pct_change"),
    ).orderBy("day")


def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue:
    trend = centered 7-day moving average, seasonal = mean detrended
    value per day-of-week, residual = remainder — the STL-lite pass a
    forecasting pipeline runs before modeling.

    Day-of-week is computed arithmetically (datediff mod 7) so both
    engines agree without calendar-locale coupling.  Scale: the fact
    table collapses to |days| rows before any window; everything after
    is broadcast-sized.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(cents("o_totalprice")).cast("double") / 100.0).alias("rev")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    witht = daily.select(
        "day",
        "rev",
        F.avg("rev").over(w7).alias("trend"),
        (F.datediff(F.col("day"), F.lit("1995-01-01").cast("date")) % 7).alias("dow"),
    ).withColumn("detrended", F.col("rev") - F.col("trend"))
    seasonal = witht.groupBy("dow").agg(F.avg("detrended").alias("seasonal"))
    return (
        witht.join(F.broadcast(seasonal), "dow")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.round("rev", 2) + F.lit(0.0)).alias("revenue"),
            (F.round("trend", 4) + F.lit(0.0)).alias("trend"),
            (F.round("seasonal", 4) + F.lit(0.0)).alias("seasonal"),
            (F.round(F.col("detrended") - F.col("seasonal"), 4) + F.lit(0.0)).alias("residual"),
        )
        .orderBy("day")
    )


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sampling allocation: given a total
    sample budget of 1000, allocate to strata (market segments)
    proportionally to N_h·S_h — the survey-sampling planner that decides
    how many rows to draw per stratum before the sampling job runs.

    Per-stratum stddev is derived from exact decimal cent moments
    (sqrt(E[x²]−E[x]²)), not the engine's streaming stddev, so both
    engines agree bit-for-bit before rounding.  Scale: one partial-agg
    group-by; the allocation step is a 5-row broadcast.
    """
    c = load_table(spark, sf_dir, "customer")
    base = c.select("c_mktsegment", cents("c_acctbal").alias("cb"))
    per = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(F.col("cb").cast("decimal(28,0)")).alias("s1"),
        F.sum((F.col("cb") * F.col("cb")).cast("decimal(38,0)")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_h")
    var = F.col("s2").cast("double") / F.col("n_h") - mean * mean
    withsd = per.select(
        "c_mktsegment",
        "n_h",
        (F.sqrt(F.greatest(var, F.lit(0.0))) / 100.0).alias("s_h"),
    ).withColumn("weight", F.col("n_h") * F.col("s_h"))
    tot = withsd.agg(F.sum("weight").alias("tot_w"))
    return (
        withsd.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            "n_h",
            (F.round("s_h", 4) + F.lit(0.0)).alias("s_h"),
            F.when(
                F.col("tot_w") > 0.0,
                F.round(F.lit(1000.0) * F.col("weight") / F.col("tot_w")),
            )
            .otherwise(F.lit(0.0))
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("c_mktsegment")
    )


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., TKDD 2007), the
    companion to k_anonymity_audit: within each (segment, nation)
    quasi-identifier class, the sensitive attribute (account-balance
    thousand-band) must take ≥ l = 3 distinct values; report per segment
    how many classes violate and how many individuals they expose.

    Scale: one quasi-identifier group-by carrying a distinct-count (the
    only data-scale shuffle), then a segment rollup over the tiny class
    table.
    """
    c = load_table(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    classes = c.select(
        "c_mktsegment", "c_nationkey", sens.alias("band")
    ).groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("band").alias("n_sensitive"),
    )
    viol = F.col("n_sensitive") < 3
    return (
        classes.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(viol, 1).otherwise(0)).cast("bigint").alias("n_violating"),
            F.sum(F.when(viol, F.col("class_size")).otherwise(0))
            .cast("bigint")
            .alias("exposed_individuals"),
        )
        .orderBy("c_mktsegment")
    )


def bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round BFS shortest-hop distances over the symmetrized part
    co-purchase graph from a deterministic seed set (partkey % 1000 ==
    0): distance-frontier expansion for 3 rounds, then the hop-count
    histogram — the "degrees of separation" reachability report (the
    engine's 4th iterative-graph shape after PageRank, CC, and Lloyd).

    Scale: each round is one co-partitioned join frontier⋈edges + a
    min-aggregate; frontier and visited-set partition on node id, and
    lineage is truncated per round.  The round bound (3) caps the
    number of shuffles regardless of graph size.

    Oracle: DuckDB recursive CTE with UNION (set semantics) over the
    same edge construction, min distance per node.
    """
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    pairs = (
        po.alias("a")
        .join(po.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("pa", "pb")
    )
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .union(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    dist = nodes.where(F.col("node") % 1000 == 0).select(
        "node", F.lit(0).cast("int").alias("hops")
    ).localCheckpoint()
    for h in range(1, 4):
        frontier = dist.where(F.col("hops") == h - 1)
        reached = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"), F.lit(h).cast("int").alias("hops"))
            .distinct()
        )
        new = reached.join(dist.select("node"), "node", "left_anti")
        dist = dist.unionByName(new).localCheckpoint()
    return (
        dist.groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("hops").cast("bigint").alias("hops"), "n_nodes")
        .orderBy("hops")
    )


def max_drawdown_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst peak-to-trough drawdowns of the daily-revenue series: the
    running historical peak per day and the relative drop from it,
    ranked — the risk metric ops/finance dashboards track, computed as
    a prefix-scan (running max window), not a quadratic pair search.

    Scale: facts collapse to |days| rows first; the running max is one
    window over the tiny series.  Top-10 with day tiebreak.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(cents("o_totalprice")).cast("double") / 100.0).alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        "rev",
        F.max("rev").over(w).alias("peak"),
    ).select(
        "day",
        "rev",
        "peak",
        ((F.col("peak") - F.col("rev")) / F.col("peak")).alias("raw_dd"),
    )
    return (
        dd.orderBy(F.col("raw_dd").desc(), F.col("day").asc())
        .limit(10)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.round("rev", 2) + F.lit(0.0)).alias("revenue"),
            (F.round("peak", 2) + F.lit(0.0)).alias("peak"),
            (F.round("raw_dd", 6) + F.lit(0.0)).alias("drawdown_pct"),
        )
    )


_GEO_PRIME_LAT = 2654435761
_GEO_PRIME_LON = 2246822519
_GEO_MOD = 2147483647


def _synth_lat(key):
    return (((key % _GEO_MOD) * _GEO_PRIME_LAT) % _GEO_MOD % 18000) / 100.0 - 90.0


def _synth_lon(key):
    return (((key % _GEO_MOD) * _GEO_PRIME_LON) % _GEO_MOD % 36000) / 100.0 - 180.0


def haversine_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial nearest-neighbor join: assign every customer the
    closest supplier in its nation by haversine great-circle distance
    (coordinates synthesized deterministically from keys — both engines
    derive identical points).  The store-assignment / fulfillment
    routing query of a logistics pipeline.

    Scale: the candidate join is blocked on nationkey (the natural
    partition key); at 100 TB the block becomes a geohash-cell prefilter
    (join on neighboring cells) so candidates stay bounded per customer.
    Argmin via (distance, suppkey) row_number — deterministic under
    ties.  Top-100 customers by custkey keep the result bounded.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.radians(_synth_lat(F.col("c_custkey"))).alias("c_lat"),
        F.radians(_synth_lon(F.col("c_custkey"))).alias("c_lon"),
    ).where(F.col("c_custkey") <= 100)
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.radians(_synth_lat(F.col("s_suppkey"))).alias("s_lat"),
        F.radians(_synth_lon(F.col("s_suppkey"))).alias("s_lon"),
    )
    j = c.join(s, c.c_nationkey == s.s_nationkey)
    a = (
        F.pow(F.sin((F.col("s_lat") - F.col("c_lat")) / 2), 2)
        + F.cos("c_lat")
        * F.cos("s_lat")
        * F.pow(F.sin((F.col("s_lon") - F.col("c_lon")) / 2), 2)
    )
    dist = F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a))
    scored = j.select(
        "c_custkey", "s_suppkey", dist.alias("dist_km")
    )
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("dist_km").asc(), F.col("s_suppkey").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "c_custkey",
            "s_suppkey",
            (F.round("dist_km", 2) + F.lit(0.0)).alias("dist_km"),
        )
        .orderBy("c_custkey")
    )


_BOOT_PRIME = 2654435761
_BOOT_MOD = 2147483647
# Poisson(1) CDF steps for deterministic pseudo-Poisson bootstrap weights
_POIS_CDF = [0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
             0.9810118431238462, 0.9963401531726563]


def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value: 100
    replicates, each weighting every order by a DETERMINISTIC
    pseudo-Poisson(1) draw (hash of (orderkey, replicate) → uniform →
    inverse CDF), replicate means from exact integer cent sums, then
    the 2.5/97.5 percentile interval and bootstrap SE — the
    embarrassingly-parallel resampling recipe for big data (each row
    never materializes B copies of the dataset; the explode factor is
    the constant B).

    Scale: |rows|·100 skinny (replicate, w, w·cents) tuples with
    map-side partial aggregation down to 100 partials; everything after
    is driver-trivial.  Replicate means are decimal-cast before the SE
    aggregate so cross-engine addition order cannot show.
    """
    o = load_table(spark, sf_dir, "orders")
    reps = spark.range(0, 100).select(F.col("id").alias("b"))
    # every intermediate stays < 2^63: reduce mod _BOOT_MOD (2^31-1)
    # BEFORE the 2654435761 multiply, so the hash never wraps int64 even
    # at o_orderkey ~ 6e9 (SF 1000) — Spark would wrap silently under
    # non-ANSI while DuckDB errors, breaking cross-engine determinism
    u = (
        (((F.col("o_orderkey") % _BOOT_MOD) * 31 + F.col("b")) % _BOOT_MOD)
        * _BOOT_PRIME
        % _BOOT_MOD
    ).cast("double") / float(_BOOT_MOD)
    wgt = (
        F.when(u < _POIS_CDF[0], 0)
        .when(u < _POIS_CDF[1], 1)
        .when(u < _POIS_CDF[2], 2)
        .when(u < _POIS_CDF[3], 3)
        .when(u < _POIS_CDF[4], 4)
        .otherwise(5)
    )
    weighted = (
        o.select("o_orderkey", cents("o_totalprice").alias("cts"))
        .crossJoin(F.broadcast(reps))
        .select("b", wgt.alias("w"), "cts")
    )
    per_rep = weighted.groupBy("b").agg(
        F.sum(F.col("w").cast("bigint") * F.col("cts")).alias("wsum"),
        F.sum(F.col("w").cast("bigint")).alias("wn"),
    ).select(
        "b",
        F.when(
            F.col("wn") > 0,
            F.round(F.col("wsum").cast("double") / F.col("wn") / 100.0, 6),
        ).alias("rep_mean"),
    ).where(F.col("rep_mean").isNotNull())
    ranked = per_rep.select(
        "rep_mean",
        F.row_number().over(Window.orderBy(F.col("rep_mean").asc(), F.col("b").asc())).alias("rk"),
    )
    point = o.agg(
        (F.sum(cents("o_totalprice")).cast("double") / F.count(F.lit(1)) / 100.0).alias("point_mean")
    )
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.min(F.when(F.col("rk") == 3, F.col("rep_mean"))).alias("ci_low"),
        F.min(F.when(F.col("rk") == 98, F.col("rep_mean"))).alias("ci_high"),
        F.sum(F.col("rep_mean").cast("decimal(18,6)")).alias("s1"),
        F.sum((F.col("rep_mean") * F.col("rep_mean")).cast("decimal(28,10)")).alias("s2"),
    )
    mean_r = F.col("s1").cast("double") / F.col("n_replicates")
    var_r = F.col("s2").cast("double") / F.col("n_replicates") - mean_r * mean_r
    return stats.crossJoin(F.broadcast(point)).select(
        "n_replicates",
        (F.round("point_mean", 4) + F.lit(0.0)).alias("point_mean"),
        (F.round(F.sqrt(F.greatest(var_r, F.lit(0.0))), 4) + F.lit(0.0)).alias("boot_se"),
        (F.round("ci_low", 4) + F.lit(0.0)).alias("ci_low"),
        (F.round("ci_high", 4) + F.lit(0.0)).alias("ci_high"),
    )


def sla_attainment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA attainment per order priority: share of orders whose first
    shipment left within 30 days, plus exact p50/p90 days-to-first-ship
    (rank-picked from integer day latencies, not interpolated — both
    engines select identical order statistics).

    Scale: lineitem collapses to per-order MIN(shipdate) with map-side
    partials before joining orders; the percentile pick is a per-group
    window over the already-aggregated per-order rows.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    j = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey).select(
        "o_orderpriority",
        "o_orderkey",
        F.datediff("first_ship", F.to_date("o_orderdate")).alias("days"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("days", "o_orderkey")
    cnt = Window.partitionBy("o_orderpriority")
    ranked = j.select(
        "o_orderpriority",
        "days",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n_orders"),
            (
                F.round(
                    F.sum(F.when(F.col("days") <= 30, 1).otherwise(0)).cast("double")
                    / F.max("n"),
                    6,
                )
                + F.lit(0.0)
            ).alias("on_time_frac"),
            F.max(
                F.when(F.col("rk") == F.ceil(F.col("n") * 0.5), F.col("days"))
            ).cast("bigint").alias("p50_days"),
            F.max(
                F.when(F.col("rk") == F.ceil(F.col("n") * 0.9), F.col("days"))
            ).cast("bigint").alias("p90_days"),
        )
        .orderBy("o_orderpriority")
    )


def degree_distribution_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph in log2 buckets
    — the one-pass structural profile (power-law check) a graph
    pipeline emits before choosing partitioning/skew strategy for
    heavier algorithms.

    Scale: same edge construction as PageRank/BFS; degrees are one
    group-by, the histogram a second over |nodes| rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    pairs = (
        po.alias("a")
        .join(po.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("pa", "pb")
    )
    sym = pairs.select(F.col("pa").alias("node"), F.col("pb").alias("nbr")).union(
        pairs.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    bucket = F.floor(F.log2(F.col("deg").cast("double"))).cast("bigint")
    return (
        deg.groupBy(bucket.alias("log2_deg_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").cast("bigint").alias("min_deg"),
            F.max("deg").cast("bigint").alias("max_deg"),
        )
        .orderBy("log2_deg_bucket")
    )


def rbo_rank_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS 2010) between two
    customer rankings — by exact revenue vs by order count — at depth
    50 with persistence p = 1/2 (chosen so p^(d-1) = 2^-(d-1) is exact
    in binary floating point on both engines; libm pow of arbitrary
    bases is not ulp-stable cross-engine): the top-weighted
    ranking-agreement metric an eval pipeline uses to compare
    retrieval/scoring variants.

    Scale trick: per-depth overlap never materializes depth × list
    pairs — each customer contributes to all depths ≥ max(r1, r2), so
    overlap(d) is a count over the m = max-rank histogram (a |k|-row
    range join), and RBO = (1−p) Σ p^(d−1) · overlap(d)/d.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w1 = Window.orderBy(F.col("rev_cents").desc(), F.col("o_custkey").asc())
    w2 = Window.orderBy(F.col("n_orders").desc(), F.col("o_custkey").asc())
    ranked = per_cust.select(
        "o_custkey",
        F.row_number().over(w1).alias("r1"),
        F.row_number().over(w2).alias("r2"),
    ).select(
        "o_custkey", F.greatest("r1", "r2").alias("m")
    ).where(F.col("m") <= 50)
    depths = spark.range(1, 51).select(F.col("id").cast("int").alias("d"))
    overlap = (
        depths.join(ranked, ranked.m <= depths.d, "left")
        .groupBy("d")
        .agg(F.count("o_custkey").alias("overlap"))
    )
    term = (
        F.pow(F.lit(2.0), -(F.col("d") - 1).cast("double"))
        * F.col("overlap").cast("double")
        / F.col("d")
    )
    return overlap.agg(
        F.count(F.lit(1)).alias("depth"),
        (
            F.round(
                F.lit(0.5)
                * F.sum(term.cast("decimal(28,12)")).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("rbo"),
        F.max(F.when(F.col("d") == 50, F.col("overlap")))
        .cast("bigint")
        .alias("overlap_at_50"),
    )


def fd_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freedman–Diaconis auto-binned histogram of part retail prices:
    bin width = 2·IQR/n^(1/3) (IQR from rank-picked exact order
    statistics, width rounded to whole cents so both engines bucket
    identically), then the bin counts — the statistically-sized
    histogram a profiling pipeline draws instead of guessing bins.

    Scale: two passes — exact quartiles via the distributed-rank
    primitive (`ranking.with_global_rank`: parallel range sort +
    broadcast prefix offsets, no single-task window), then one
    scan+group-by with the broadcast width scalar.
    """
    from .ranking import with_global_rank

    p = load_table(spark, sf_dir, "part")
    base = p.select(cents("p_retailprice").alias("cts"), "p_partkey")
    ranked = with_global_rank(
        base, ["cts", "p_partkey"], rank_col="rk", total_col="n"
    ).select("cts", "rk", "n")
    quart = ranked.agg(
        F.max(F.when(F.col("rk") == F.ceil(F.col("n") * 0.25), F.col("cts"))).alias("q1"),
        F.max(F.when(F.col("rk") == F.ceil(F.col("n") * 0.75), F.col("cts"))).alias("q3"),
        F.max("n").alias("n"),
    ).select(
        "q1",
        "q3",
        "n",
        F.greatest(
            F.lit(1),
            F.round(
                F.lit(2.0)
                * (F.col("q3") - F.col("q1")).cast("double")
                / F.cbrt(F.col("n").cast("double"))
            ).cast("bigint"),
        ).alias("width_cents"),
    )
    binned = base.crossJoin(F.broadcast(quart)).select(
        (F.floor(F.col("cts") / F.col("width_cents")) * F.col("width_cents")).alias("bin_low_cents"),
        "width_cents",
    )
    return (
        binned.groupBy("bin_low_cents", "width_cents")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            (F.col("bin_low_cents").cast("double") / 100.0).alias("bin_low"),
            F.col("width_cents").cast("bigint").alias("width_cents"),
            "n_parts",
        )
        .orderBy("bin_low")
    )


def price_volume_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume decomposition of revenue change per brand between
    1996 and 1997 (Laspeyres-style): Δrevenue = volume effect
    (Δqty · price96) + price effect (Δprice · qty96) + interaction
    (Δprice · Δqty) — the "why did revenue move" bridge an FP&A or
    pricing pipeline produces.  Unit price per brand-year is exact
    cents revenue / exact quantity; all effects are rounded rationals
    of exact integer aggregates.

    Scale: one lineitem⋈orders (date filter pushed to the orders side)
    ⋈ part scan, collapsed to brand-year partials map-side; the
    decomposition itself runs on the 25×2-row pivot.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    yr = F.year(F.to_date("o_orderdate"))
    base = (
        li.join(o.select("o_orderkey", yr.alias("y")), li.l_orderkey == o.o_orderkey)
        .where(F.col("y").isin(1996, 1997))
        .join(p.select("p_partkey", "p_brand"), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "y")
        .agg(
            F.sum(cents("l_extendedprice")).alias("rev_cents"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("qty"),
        )
    )
    y96 = base.where(F.col("y") == 1996).select(
        "p_brand",
        F.col("rev_cents").alias("rev96"),
        F.col("qty").alias("qty96"),
    )
    y97 = base.where(F.col("y") == 1997).select(
        "p_brand",
        F.col("rev_cents").alias("rev97"),
        F.col("qty").alias("qty97"),
    )
    j = y96.join(y97, "p_brand")
    price96 = F.col("rev96").cast("double") / F.col("qty96")
    price97 = F.col("rev97").cast("double") / F.col("qty97")
    dqty = (F.col("qty97") - F.col("qty96")).cast("double")
    dprice = price97 - price96
    return j.select(
        "p_brand",
        (F.round((F.col("rev97") - F.col("rev96")).cast("double") / 100.0, 2) + F.lit(0.0)).alias("delta_revenue"),
        (F.round(dqty * price96 / 100.0, 2) + F.lit(0.0)).alias("volume_effect"),
        (F.round(dprice * F.col("qty96") / 100.0, 2) + F.lit(0.0)).alias("price_effect"),
        (F.round(dprice * dqty / 100.0, 2) + F.lit(0.0)).alias("interaction"),
    ).orderBy("p_brand")


def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between customer revenue and order
    count (ranks broken deterministically by custkey — the documented
    row_number variant, which keeps every quantity an exact integer):
    ρ = 1 − 6·Σd² / (n(n²−1)) — the monotonic-association twin of the
    Pearson operators, exact because rank sums are integers.

    Scale: one per-customer aggregate, two rank windows over the
    reduced frame, one integer rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w1 = Window.orderBy(F.col("rev_cents").desc(), F.col("o_custkey").asc())
    w2 = Window.orderBy(F.col("n_orders").desc(), F.col("o_custkey").asc())
    ranked = per_cust.select(
        (F.row_number().over(w1) - F.row_number().over(w2))
        .cast("long")
        .alias("d")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sum_d2"),
    ).select(
        "n_customers",
        "sum_d2",
        (
            F.round(
                F.when(
                    F.col("n_customers") > 1,
                    F.lit(1.0)
                    - F.lit(6.0)
                    * F.col("sum_d2").cast("double")
                    / (
                        F.col("n_customers").cast("double")
                        * (
                            F.col("n_customers").cast("double")
                            * F.col("n_customers")
                            - 1.0
                        )
                    ),
                ).otherwise(F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("spearman_rho"),
    )


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release mechanism demo: per-segment customer
    counts with Laplace(1/ε) noise, ε = 1 (count queries have L1
    sensitivity 1) — the third privacy-family op next to k_anonymity_audit
    and l_diversity_audit, showing the noise-calibration side instead of
    the suppression side.

    The Laplace draw is DETERMINISTIC for cross-engine replay: the
    segment's md5 prefix (7 hex chars, < 2^28 — under the 2^31 hash
    ceiling) maps to u ∈ [0,1) and inverse-CDF transforms to
    -sign(u-½)·ln(1-2|u-½|).  A real release would use a sealed RNG; the
    mechanism, sensitivity math, and shape are exactly the production
    ones.  Scale: one map-side-combined groupBy on a 5-value key; the
    noise is a per-group scalar expression.
    """
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_exact"))
    u = F.conv(F.substring(F.md5("c_mktsegment"), 1, 7), 16, 10).cast(
        "double"
    ) / F.lit(268435456.0)  # 2^28
    centered = u - F.lit(0.5)
    noise = -F.signum(centered) * F.log(F.lit(1.0) - 2.0 * F.abs(centered))
    return counts.select(
        "c_mktsegment",
        "n_exact",
        (F.round(noise, 4) + F.lit(0.0)).alias("laplace_noise"),
        (F.round(F.col("n_exact") + noise, 4) + F.lit(0.0)).alias("n_released"),
    ).orderBy("c_mktsegment")


def conformal_prediction_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per market segment: a
    deterministic 80/20 hash split of orders into train/calibration, a
    per-segment mean-price "model" fit on train, the 0.9 quantile of
    absolute calibration residuals as the conformal radius, and the
    resulting distribution-free ~90% interval — the uncertainty wrapper
    modern ML serving puts around point predictions (Vovk et al.;
    Angelopoulos & Bates 2023 tutorial formulation).

    Determinism: the split reuses the multiplicative-hash recipe of
    train_split_assign (no RNG), the model mean comes from exact decimal
    cent sums, and the radius uses interpolated percentile — the same
    definition in Spark (F.percentile) and DuckDB (quantile_cont).
    Scale: one hash-partitioned aggregation per split over a 5-value
    key; residuals are a broadcast-join expression; the quantile runs
    per tiny group.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    # o_orderkey reduced mod 2^31-1 BEFORE the prime multiply: every
    # intermediate stays < 2^63 at any SF (the bootstrap_ci_revenue recipe)
    fold = F.pmod(
        (F.col("o_orderkey") % F.lit(2147483647)) * F.lit(2654435761)
        % F.lit(2147483647),
        F.lit(5),
    )
    tagged = o.select(
        "c_mktsegment", "o_totalprice", (fold == 0).alias("is_cal")
    )
    model = (
        tagged.where(~F.col("is_cal"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            (
                F.sum(cents("o_totalprice").cast("decimal(28,0)")).cast("double")
                / F.count(F.lit(1))
                / 100.0
            ).alias("seg_mean"),
        )
    )
    cal = tagged.where(F.col("is_cal")).join(F.broadcast(model), "c_mktsegment")
    return (
        cal.select(
            "c_mktsegment",
            "n_train",
            "seg_mean",
            F.abs(F.col("o_totalprice") - F.col("seg_mean")).alias("resid"),
        )
        .groupBy("c_mktsegment", "n_train", "seg_mean")
        .agg(
            F.count(F.lit(1)).alias("n_cal"),
            F.percentile("resid", F.lit(0.9)).alias("q90"),
        )
        .select(
            "c_mktsegment",
            "n_train",
            "n_cal",
            (F.round("seg_mean", 4) + F.lit(0.0)).alias("seg_mean"),
            (F.round("q90", 4) + F.lit(0.0)).alias("conformal_radius"),
            (F.round(F.col("seg_mean") - F.col("q90"), 4) + F.lit(0.0)).alias("pi_lo"),
            (F.round(F.col("seg_mean") + F.col("q90"), 4) + F.lit(0.0)).alias("pi_hi"),
        )
        .orderBy("c_mktsegment")
    )


def group_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free grouped K-fold assignment over events: every event of
    a user lands in the SAME fold (fold = multiplicative hash of user_id
    mod 5), the grouped-CV discipline that prevents a user's behavior
    leaking between train and validation — the k-fold counterpart of
    train_split_assign's per-row split.

    Scale: fold is a per-row expression (no RNG, no shuffle to assign);
    the report is one aggregation keyed on 5 folds.  By construction a
    user cannot appear in two folds; the pytest pins it anyway.
    """
    e = load_table(spark, sf_dir, "events")
    fold = F.pmod(
        (F.col("user_id") % F.lit(2147483647)) * F.lit(2654435761)
        % F.lit(2147483647),
        F.lit(5),
    )
    tot = e.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        e.select(fold.alias("fold"), "user_id")
        .groupBy("fold")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .join(F.broadcast(tot))
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            "n_users",
            "n_events",
            (
                F.round(F.col("n_events").cast("double") / F.col("n_total"), 6)
                + F.lit(0.0)
            ).alias("event_share"),
        )
        .orderBy("fold")
    )


GRID_CELL_CENTI = 500  # 5-degree cells in centi-degrees (~555 km at equator)
GRID_RADIUS_KM = 500.0


def grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial radius join: customer-supplier pairs within
    500 km by haversine, with candidates generated from a 5° lat/lng
    grid (a customer probes its cell + the 8 neighbors) instead of the
    all-pairs cross join — the geo analog of the LSH-band/IVF-cell
    blocking this repo uses for text and vectors.

    Cells are computed in INTEGER centi-degrees (the synthesized
    coordinates are integer-derived, so cell ids are integer division —
    no float-floor cross-engine hazard).  The candidate join is an
    equi-join on (cell_x, cell_y); the probe ring is LATITUDE-ADAPTIVE:
    the longitude probe half-width k = ceil(500 km / (111.045·cos(lat)·5°))
    cells (capped at 36), so the ring covers the full radius even where
    meridians converge — a fixed ±1 ring under-probes above |lat| 60°
    (geohash systems widen rings with latitude the same way).  Latitude
    probes stay ±1 (one 5° cell ≥ 555 km meridionally).  Verification is
    the exact haversine.  Longitude probe cells WRAP
    modulo the 72-cell ring, so pairs straddling the ±180° antimeridian
    are found.  Remaining documented edge (mirrored in the oracle): the
    36-cell cap leaves |lat| ≳ 88.5° under-probed.  Customers bounded to custkey ≤ 300 to
    keep driver output small.

    Scale: the blocking equi-join shuffles on cell id — candidates per
    customer are the ring population (9 cells at low latitude, more near
    the poles, hard-capped), independent of corpus size; at 100 TB both
    sides write bucketed by cell and the join co-locates.
    """
    def coords(df, key, lat_alias, lon_alias):
        return df.select(
            F.col(key),
            _synth_lat(F.col(key)).alias(lat_alias),
            _synth_lon(F.col(key)).alias(lon_alias),
        )

    c = coords(
        load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300),
        "c_custkey", "c_lat", "c_lon",
    )
    s = coords(load_table(spark, sf_dir, "supplier"), "s_suppkey", "s_lat", "s_lon")

    def cell(lat_col, lon_col):
        # integer centi-degrees -> integer division (exact both engines)
        y = F.expr(f"cast(round(({lat_col} + 90.0) * 100) as bigint) div {GRID_CELL_CENTI}")
        x = F.expr(f"cast(round(({lon_col} + 180.0) * 100) as bigint) div {GRID_CELL_CENTI}")
        return x, y

    sx, sy = cell("s_lat", "s_lon")
    s_cells = s.select("s_suppkey", "s_lat", "s_lon", sx.alias("cx"), sy.alias("cy"))
    cx, cy = cell("c_lat", "c_lon")
    # latitude-adaptive longitude half-width (cells), capped at 36
    kx = F.least(
        F.ceil(
            F.lit(GRID_RADIUS_KM)
            / (
                F.lit(111.045)
                * F.greatest(F.cos(F.radians(F.col("c_lat"))), F.lit(1e-6))
                * F.lit(5.0)
            )
        ).cast("bigint"),
        F.lit(36),
    )
    c_cells = (
        c.select("c_custkey", "c_lat", "c_lon", cx.alias("cx0"), cy.alias("cy0"),
                 kx.alias("kx"))
        .select("*", F.explode(F.sequence(-F.col("kx"), F.col("kx"))).alias("dx"))
        .select("*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy"))
        .select(
            "c_custkey", "c_lat", "c_lon",
            # lon cells wrap the 72-cell ring (antimeridian-safe)
            F.pmod(F.col("cx0") + F.col("dx"), F.lit(72)).alias("cx"),
            (F.col("cy0") + F.col("dy")).alias("cy"),
        )
    )
    j = c_cells.join(s_cells, ["cx", "cy"])
    lat1, lon1 = F.radians("c_lat"), F.radians("c_lon")
    lat2, lon2 = F.radians("s_lat"), F.radians("s_lon")
    a = (
        F.pow(F.sin((lat2 - lat1) / 2), 2)
        + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin((lon2 - lon1) / 2), 2)
    )
    dist = F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a))
    return (
        j.select("c_custkey", "s_suppkey", dist.alias("dist_km"))
        .where(F.col("dist_km") <= GRID_RADIUS_KM)
        .dropDuplicates(["c_custkey", "s_suppkey"])
        .select(
            "c_custkey",
            "s_suppkey",
            (F.round("dist_km", 2) + F.lit(0.0)).alias("dist_km"),
        )
        .orderBy("c_custkey", "s_suppkey")
    )


T_CLOSE_BINS = 10
T_CLOSE_T = 0.2


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
    completing the privacy-release family next to k_anonymity_audit,
    l_diversity_audit, and dp_noisy_counts: for every quasi-identifier
    equivalence class (c_mktsegment, c_nationkey), the Earth Mover's
    Distance between the class's distribution over an ORDERED sensitive
    attribute (account-balance decile) and the global distribution; a
    release violates t-closeness when any class's EMD exceeds t = 0.2.
    For equally-spaced ordered bins, EMD = Σ|cumQ − cumP| / (bins−1).

    Determinism: deciles reproduce global ntile(10) with a custkey
    tiebreak EXACTLY, but via the distributed-rank primitive
    (`ranking.with_global_rank`: range repartition + per-partition
    row_number + broadcast prefix offsets) and pure bigint NTILE
    arithmetic — no single-task global window anywhere; the DuckDB
    oracle keeps plain ntile().  All distributions are exact
    integer-count ratios; the EMD sums 10 terms per class from a
    windowed cumsum — rounded at 6 dp.  Scale: the rank pass is a
    parallel range sort; then two map-side-combined aggregations and a
    10-row-per-class cumsum window.  Class count is bounded by the
    quasi-id domain, not the row count.
    """
    from .ranking import ntile_from_rank, with_global_rank

    c = load_table(spark, sf_dir, "customer")
    ranked = with_global_rank(
        c.select("c_mktsegment", "c_nationkey", "c_acctbal", "c_custkey"),
        ["c_acctbal", "c_custkey"],
        rank_col="rk",
        total_col="n_all",
    )
    binned = ranked.select(
        "c_mktsegment",
        "c_nationkey",
        ntile_from_rank(F.col("rk"), F.col("n_all"), T_CLOSE_BINS).alias(
            "decile"
        ),
    )
    # per_class is the ONLY consumer of the rank pass; every other
    # distribution derives from it by re-aggregation.  Checkpointing this
    # |classes|x|bins| table (bounded by the quasi-id domain) means the
    # range-sort/rank pipeline runs exactly once — the round-11 plan audit
    # showed the 32-partition rank pass replayed in 19 of 22 jobs (653
    # tasks for a 10-bin histogram) because the class and global
    # histograms each re-derived it.
    per_class = (
        binned.groupBy("c_mktsegment", "c_nationkey", "decile")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    class_tot = per_class.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("n").alias("class_n")
    )
    glob = per_class.groupBy("decile").agg(F.sum("n").alias("gn"))
    gtot = glob.agg(F.sum("gn").alias("g_total"))
    # dense (class × decile) grid so empty cells contribute q=0
    classes = class_tot.select("c_mktsegment", "c_nationkey", "class_n")
    grid = classes.crossJoin(F.broadcast(glob.join(F.broadcast(gtot))))
    cells = grid.join(
        per_class, ["c_mktsegment", "c_nationkey", "decile"], "left"
    ).select(
        "c_mktsegment",
        "c_nationkey",
        "decile",
        "class_n",
        (F.coalesce("n", F.lit(0)).cast("double") / F.col("class_n")).alias("q"),
        (F.col("gn").cast("double") / F.col("g_total")).alias("p"),
    )
    w_cum = Window.partitionBy("c_mktsegment", "c_nationkey").orderBy("decile")
    emd_terms = cells.withColumn(
        "cum_diff", F.abs(F.sum(F.col("q") - F.col("p")).over(w_cum))
    )
    per_class_emd = emd_terms.groupBy("c_mktsegment", "c_nationkey", "class_n").agg(
        (
            F.round(F.sum("cum_diff") / (T_CLOSE_BINS - 1), 6) + F.lit(0.0)
        ).alias("emd")
    )
    return (
        per_class_emd.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            (F.round(F.max("emd"), 6) + F.lit(0.0)).alias("max_emd"),
            F.sum(F.when(F.col("emd") > T_CLOSE_T, 1).otherwise(0))
            .cast("bigint")
            .alias("classes_violating_t"),
            F.sum(
                F.when(F.col("emd") > T_CLOSE_T, F.col("class_n")).otherwise(0)
            )
            .cast("bigint")
            .alias("individuals_in_violating"),
        )
        .orderBy("c_mktsegment")
    )


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size and skew forecast from per-key histograms — the planner
    diagnostic a pipeline runs BEFORE submitting a 100 TB join: for each
    candidate equi-join, the exact output size Σ_k cnt_a(k)·cnt_b(k),
    the heaviest key's contribution, and the skew factor (max key
    contribution / mean per-key contribution).  A skew factor ≫ 1 says
    "salt this join or let AQE split it".

    Determinism: everything is exact integer arithmetic on group-by
    counts until two final scaled-integer-rounded ratios.  Scale: each
    side collapses to its per-key histogram FIRST (map-side combine), so
    the estimator's join runs on |distinct keys| rows, never data rows —
    the whole point of estimating before joining.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")

    def estimate(a: DataFrame, ka: str, b: DataFrame, kb: str, name: str) -> DataFrame:
        ha = a.groupBy(F.col(ka).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
        hb = b.groupBy(F.col(kb).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
        per_key = ha.join(hb, "k").select(
            "k", (F.col("ca") * F.col("cb")).alias("rows_k")
        )
        return per_key.agg(
            F.lit(name).alias("join_name"),
            F.count(F.lit(1)).alias("n_join_keys"),
            F.sum("rows_k").alias("est_join_rows"),
            F.max("rows_k").alias("max_key_rows"),
        )

    est = (
        estimate(o, "o_orderkey", li, "l_orderkey", "orders_x_lineitem")
        .unionByName(estimate(c, "c_custkey", o, "o_custkey", "customer_x_orders"))
        .unionByName(estimate(ev, "user_id", ev, "user_id", "events_self_user"))
    )
    skew4 = (
        F.round(
            F.col("max_key_rows") * F.col("n_join_keys") * 10000.0
            / F.col("est_join_rows")
        )
        .cast("bigint")
        .cast("double")
        / 10000.0
    )
    return est.select(
        "join_name",
        "n_join_keys",
        "est_join_rows",
        "max_key_rows",
        (skew4 + F.lit(0.0)).alias("skew_factor"),
    ).orderBy("join_name")


def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free side-channel metrics via the Observation API: while a real
    per-source aggregation runs over documents, ``df.observe`` captures
    corpus-level data-quality metrics (row count, total/min/max bytes of
    n_chars, empty-doc count) from the SAME single scan — the pattern
    that replaces the separate "profile the table first" pass every
    pipeline otherwise pays (at 100 TB: one scan instead of two, and the
    metrics land on the driver without any extra shuffle or action).

    The output row combines the observed metrics with the per-source
    aggregation's group count, so both channels of the one pass are
    checked; an ANSI oracle recomputes all of it exactly (everything is
    integer aggregates — no float drift).  Runs its (bounded: ~5-row
    collect) action at DataFrame-build time, like the other
    BOUNDED_BUILD_JOBS queries.
    """
    from pyspark.sql import Observation

    d = load_table(spark, sf_dir, "documents")
    obs = Observation("corpus_dq")
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum((F.col("n_chars") == 0).cast("long")).alias("n_empty"),
    )
    per_source = observed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_sources = len(per_source.collect())  # the action that fills `obs`
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["sum_chars"],
                m["min_chars"],
                m["max_chars"],
                m["n_empty"],
                n_sources,
            )
        ],
        "n_rows long, sum_chars long, min_chars long, max_chars long, "
        "n_empty long, n_sources long",
    )


def customer_order_gaps_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer inter-order gap statistics via the grouped
    ``applyInArrow`` surface (Spark 4), with BLOCK-keyed groups: groups
    are 64-customer blocks (``o_custkey div 64``), and the closure
    resolves per-customer segments inside each block with vectorized
    numpy boundary math.  Grouped-map dispatch costs milliseconds per
    group (Arrow slice + Python call + table build — measured ~8 ms);
    keyed on raw o_custkey that is 15k dispatches at sf0.1 and the
    dispatch dominates (~6 s serial).  Block keys amortize it ~64×
    (measured 6.4 s → 2.1 s) while keeping the key HIGH-cardinality —
    block count grows with the data, no low-cardinality funnel, per
    group rows stay bounded (≤64 customers × orders-per-customer).
    This is the general recipe for grouped-map over many tiny groups.

    Determinism: days are exact integers (``epoch seconds div 86400`` —
    floor division, mirrored as ``CAST(epoch(..) AS BIGINT) // 86400``);
    per-customer segments come from a lexsort on (custkey, day), so gaps
    are diffs of each customer's SORTED day multiset and tie order is
    irrelevant; the median is the LOWER median (element at index
    (n-1)//2 of the sorted gaps), picked explicitly in both engines
    rather than trusting either engine's quantile convention.
    Single-order customers have no gaps and are excluded (mirrored).

    The explicit ``repartition(P, blk)`` is load-bearing for parallelism:
    AQE would coalesce the small shuffle to 1-2 partitions by byte size,
    serializing the Python stage whose cost AQE cannot see; a
    user-specified repartition is exempt from coalescing.  The closure is
    self-contained (imports inside, CLAUDE.md invariant 1).
    """
    num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    o = load_table(spark, sf_dir, "orders")
    days = o.select(
        "o_custkey",
        # NTZ → timestamp is a re-tag under the pinned UTC session tz
        F.expr(
            "unix_timestamp(cast(o_orderdate as timestamp)) div 86400"
        ).alias("day"),
        F.expr("o_custkey div 64").alias("blk"),
    ).repartition(num_parts, "blk")

    def gap_stats(tbl):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np
        import pyarrow as pa

        ck = tbl.column("o_custkey").to_numpy(zero_copy_only=False)
        dy = tbl.column("day").to_numpy(zero_copy_only=False)
        order = np.lexsort((dy, ck))
        ck, dy = ck[order], dy[order]
        cuts = np.flatnonzero(np.diff(ck)) + 1
        out = {k: [] for k in
               ("o_custkey", "n_orders", "span_days",
                "max_gap_days", "med_gap_days")}
        for seg_ck, seg in zip(np.split(ck, cuts), np.split(dy, cuts)):
            if len(seg) < 2:
                continue
            gaps = np.sort(np.diff(seg))
            out["o_custkey"].append(int(seg_ck[0]))
            out["n_orders"].append(len(seg))
            out["span_days"].append(int(seg[-1] - seg[0]))
            out["max_gap_days"].append(int(gaps[-1]))
            out["med_gap_days"].append(int(gaps[(len(gaps) - 1) // 2]))
        return pa.table(
            {k: pa.array(v, pa.int64()) for k, v in out.items()}
        )

    return days.groupBy("blk").applyInArrow(
        gap_stats,
        schema=(
            "o_custkey long, n_orders long, span_days long, "
            "max_gap_days long, med_gap_days long"
        ),
    )


def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the part co-purchase graph (edge =
    two parts co-ordered in ≥2 distinct orders, same edge rule as
    pagerank_copurchase) with the DEGREE-ORIENTED wedge join: every
    undirected edge is directed from its lower-(degree, id) endpoint to
    the higher, so each triangle is generated by exactly ONE wedge —
    the one rooted at its lowest-ordered vertex — and out-degrees are
    O(sqrt(m)) on any graph (Chiba–Nishizeki / "compact-forward").
    A naive wedge join keyed on raw ids would explode on hub vertices
    (a degree-d hub yields d² wedges; orientation caps it at the
    sqrt(m) out-degree), which is the difference between feasible and
    not at 100 TB.

    Output is one row: node/edge/wedge/triangle counts plus the global
    clustering coefficient 3·Δ/wedges, rounded in scaled-integer space
    (invariant 6).  All counts are exact integers; the oracle counts the
    same triangles via the canonical a<b<c three-way self-join (order
    independence of the census makes the two formulations equal).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # one orderkey groupBy collapses each order to its sorted distinct
    # part basket (collect_set subsumes the former separate DISTINCT);
    # co-purchase pairs are generated MAP-SIDE from the array — bounded
    # by parts-per-order² (TPC-H ≤ 7 lines/order), replacing the former
    # orderkey self-join (two shuffled sides + join) with zero joins
    baskets = li.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair_structs = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> struct(x as u, y as v))))"
    )
    edges = (
        baskets.select(F.explode(pair_structs).alias("e"))
        .groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("u", "v")
        # localCheckpoint is a COST fix, not correctness: four consumers
        # (degrees, orientation, closing-edge probe, edge count) would
        # each replay the pair-generation pass without it (measured
        # 5.9s → materialized-once at sf0.1); at 100 TB the edge list is
        # a persisted stage table
        .localCheckpoint(eager=False)
    )
    # undirected degree per node (edges are canonical u<v); checkpointed —
    # four consumers (both orientation sides, node count, wedge count)
    # would each replay the union+groupBy over the edge list otherwise
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    # orient each edge from lower (deg, id) to higher; reuse one physical
    # edge frame for both the wedge legs and the closing-edge probe
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ranked = edges.join(du, "u").join(dv, "v")
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=False)
    # wedges rooted at src: unordered out-neighbor pairs, emitted in
    # canonical (min,max) id order so the closing probe hits the u<v set
    w1 = oriented.select(F.col("src").alias("c"), F.col("dst").alias("x"))
    w2 = oriented.select(F.col("src").alias("c"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "c").filter(F.col("x") < F.col("y"))
    closed = wedges.join(
        edges.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
    )
    n_tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n")).select("n")
    # node and wedge counts are BOTH aggregates of deg — one pass, one
    # subtree (they were two separate replays of the degree derivation)
    deg_stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n")).select("n")
    row = (
        deg_stats.crossJoin(F.broadcast(n_edges.select(F.col("n").alias("n_edges"))))
        .crossJoin(F.broadcast(n_tri.select(F.col("n").alias("n_triangles"))))
    )
    from ..functions import round_scaled

    return row.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        # A wedge-free non-empty graph (all degrees <= 1) makes the
        # denominator 0, not NULL: 0.0/0.0 = NaN and round_scaled's
        # bigint cast raises under ANSI.  NULL clustering is the
        # defined answer there (mirrored as CASE WHEN in the oracle).
        F.when(
            F.col("n_wedges") > 0,
            round_scaled(
                F.col("n_triangles") * 3.0 / F.col("n_wedges"), 6
            )
            + F.lit(0.0),
        ).alias("global_clustering"),
    )


def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: compress each customer's
    order history into validity intervals of consecutive same-priority
    runs (the warehouse pattern for turning an event log into a
    versioned dimension).  Islands = difference of two row_numbers,
    both windows partitioned by o_custkey — a HIGH-cardinality key that
    grows with the data (the partition-window lint's allowed shape),
    ordered by the unique (day, o_orderkey).

    valid_to is the NEXT version's valid_from (exclusive convention);
    the open current version carries the 99999 sentinel day so the
    schema stays atomic bigint (no NULL-vs-string branch to desync the
    engines).
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        "o_orderpriority",
        F.expr(
            "unix_timestamp(cast(o_orderdate as timestamp)) div 86400"
        ).alias("day"),
        "o_orderkey",
    )
    w_all = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    w_pri = Window.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "day", "o_orderkey"
    )
    islands = base.withColumn(
        "island", F.row_number().over(w_all) - F.row_number().over(w_pri)
    )
    runs = islands.groupBy("o_custkey", "o_orderpriority", "island").agg(
        F.min("day").cast("long").alias("valid_from"),
        # two runs can share a start day (same-day orders of different
        # priorities) — the first order key is the unique succession
        # tiebreak (invariant 3), mirrored in the oracle
        F.min("o_orderkey").alias("first_key"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w_next = Window.partitionBy("o_custkey").orderBy("valid_from", "first_key")
    return runs.select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        "valid_from",
        F.coalesce(F.lead("valid_from").over(w_next), F.lit(99999))
        .cast("long")
        .alias("valid_to"),
        "n_orders",
    )


def sql_udf_revenue_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs (Spark 4 ``CREATE FUNCTION ... RETURN``), the
    one SQL-frontend surface the engine had not yet exercised — both
    kinds: a scalar function (discount-tier classifier + exact-cents
    effective price) and a TABLE function (orders above a price floor),
    composed into one aggregation.

    Unlike a Python UDF, a SQL UDF's body is INLINED by the analyzer
    into the calling plan — the physical plan shows the CASE and the
    cents expression inside WholeStageCodegen partial aggregates, zero
    Python boundary, full pushdown/pruning through the function call.
    That is why this is the right extension point for reusable business
    logic at 100 TB and Python UDFs are the last resort.

    Determinism: tier boundaries compare parquet doubles exactly;
    effective price is quantized to integer cents INSIDE the scalar
    function (one round of a mirrored expression tree), so the sum is
    exact bigint; the oracle mirrors the inlined bodies verbatim.
    """
    prefix = "sqludf_"
    register_views(spark, sf_dir, prefix=prefix)
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION disc_tier(d DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN d <= 0.01 THEN 'none'
                    WHEN d <= 0.05 THEN 'low'
                    ELSE 'high' END"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION eff_cents(
            ep DOUBLE, d DOUBLE, t DOUBLE) RETURNS BIGINT
        RETURN CAST(round(ep * (1 - d) * (1 + t) * 100) AS BIGINT)"""
    )
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION orders_above(thr DOUBLE)
        RETURNS TABLE (o_orderkey BIGINT)
        RETURN SELECT o_orderkey FROM {prefix}orders
        WHERE o_totalprice > thr"""
    )
    return spark.sql(
        f"""
        SELECT disc_tier(l.l_discount) AS tier,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(eff_cents(l.l_extendedprice, l.l_discount,
                                  l.l_tax)) AS BIGINT) AS eff_cents_sum
        FROM orders_above(200000.0) o
        JOIN {prefix}lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1
        """
    )


# Bucketed warehouse stage tables for the co-located join demo.  At
# 100 TB these are the bucketed fact tables a warehouse maintains
# precisely so recurring joins on the bucket key never shuffle.
_BUCKET_MEMO = SessionMemo(4)


def _bucketed_order_tables(spark: SparkSession, sf_dir: str):
    """Write orders/lineitem ONCE per (session, fixture) as 8-bucket
    warehouse tables bucketed+sorted on the order key, one file per
    bucket (the pre-write ``repartition(8, key)`` gives every writer
    task exactly one bucket, so the bucketed scan needs no merge-sort
    across files).  External tables (explicit temp path) — nothing is
    written relative to the driver's unknown cwd."""
    import os
    import uuid

    def build() -> Owned:
        suffix = uuid.uuid4().hex[:10]
        names = (f"mps_bkt_orders_{suffix}", f"mps_bkt_lineitem_{suffix}")
        root = scratch_dir("mps_bucketed_")
        o = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .repartition(8, "o_orderkey")
        )
        (
            o.write.format("parquet")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(root, "orders"))
            .mode("overwrite")
            .saveAsTable(names[0])
        )
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .repartition(8, "l_orderkey")
        )
        (
            li.write.format("parquet")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(root, "lineitem"))
            .mode("overwrite")
            .saveAsTable(names[1])
        )
        return Owned(names, dirs=(root,), tables=names)

    return _BUCKET_MEMO.get(spark, sf_dir, ("orders", "lineitem"), build)


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-shuffle fact-to-fact join via BUCKETED warehouse tables —
    the storage-layout answer to the biggest shuffle in any star-schema
    workload.  orders and lineitem are persisted once per (session,
    fixture) as 8-bucket tables bucketed AND sorted on the order key
    (``_bucketed_order_tables``); the join then reads bucket i of each
    side into the same task: the physical plan is a SortMergeJoin with
    NO Exchange under either side (pinned by
    tests/test_engine_surfaces.py) — at 100 TB this is the difference
    between a full two-sided repartition of the fact tables on every
    run and none at all.  The MERGE hint keeps the demonstration stable
    (a broadcast join would also be shuffle-free but exercises nothing).

    Determinism: revenue in exact cents (mirrored round) summed as
    bigint; output per priority.
    """
    ot, lt = _bucketed_order_tables(spark, sf_dir)
    o = spark.table(ot)
    li = spark.table(lt)
    joined = o.hint("merge").join(
        li, o["o_orderkey"] == li["l_orderkey"]
    )
    cents_expr = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
    ).cast("bigint")
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(cents_expr).cast("long").alias("rev_cents"),
    )


_PART_ORDERS_MEMO = SessionMemo(4)


def _partitioned_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Orders persisted ONCE per (session, fixture) as a HIVE-PARTITIONED
    parquet layout (o_month=YYYY-MM directories, ~80 partitions, one
    file each via the pre-write repartition) — the physical layout that
    makes partition pruning (static and dynamic) possible.  External
    temp path."""
    import os

    def build() -> Owned:
        root = os.path.join(scratch_dir("mps_part_orders_"), "orders")
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
            .repartition("o_month")
            .write.partitionBy("o_month")
            .mode("overwrite")
            .parquet(root)
        )
        return Owned(root, dirs=(os.path.dirname(root),))

    return _PART_ORDERS_MEMO.get(spark, sf_dir, ("orders",), build)


def dpp_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the Catalyst scale feature no other
    registry entry exercises: the fact side scans the hive-partitioned
    orders layout (`_partitioned_orders_path`), the dim side is a small
    runtime-derived month list (ship months of fully-discounted returned
    lineitems), and because the join key IS the partition column,
    Catalyst injects a DynamicPruningExpression subquery into the fact
    scan's PartitionFilters: partitions for months not in the dim are
    never read.  At 100 TB this is the difference between scanning 80
    months and scanning the ~dozen the dim selects — pruning decided AT
    RUNTIME from the dim's broadcast result, which no static filter
    could know (plan-pinned in tests/test_scale_techniques.py).

    Determinism: month strings from date_format/strftime; revenue in
    exact cents (invariant 3).
    """
    from pyspark.sql.types import StringType

    # explicit schema: an EMPTY fixture writes a partition-less dir that
    # schema inference cannot read (the zero-matching-partition case is
    # normal at 100 TB)
    fact_schema = load_table(spark, sf_dir, "orders").schema.add(
        "o_month", StringType()
    )
    fact = spark.read.schema(fact_schema).parquet(
        _partitioned_orders_path(spark, sf_dir)
    )
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        li.where(
            (F.round(F.col("l_discount") * 100).cast("bigint") == 10)
            & (F.col("l_returnflag") == "R")
            & (F.round(F.col("l_tax") * 100).cast("bigint") == 8)
            & (F.col("l_quantity") >= 45)
        )
        .select(F.date_format("l_shipdate", "yyyy-MM").alias("o_month"))
        .distinct()
    )
    return (
        fact.join(dim, "o_month")
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents_sum"),
        )
        .orderBy("o_month")
    )


def pipe_syntax_supplier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 ``|>`` operator chains): the linear
    FROM → WHERE → EXTEND → AGGREGATE → ORDER BY form of a supplier
    balance rollup — same Catalyst plan as the nested-SELECT dialect
    (sql_frontend_revenue), parsed through the pipe-operator frontend.

    EXTEND (compute a column mid-pipe) and AGGREGATE ... GROUP BY are
    the two pipe-specific clauses exercised; the money sum rides the
    cents-integer determinism contract (invariant 3).
    """
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "pipev_supplier"
    )
    return spark.sql(
        """
        FROM pipev_supplier
        |> WHERE s_acctbal > 0
        |> EXTEND CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                     CAST(SUM(bal_cents) AS BIGINT) AS bal_cents_sum
           GROUP BY s_nationkey
        |> ORDER BY s_nationkey
        """
    )


def parameterized_sql_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers, Spark 3.4+ ``args=``):
    the injection-safe query shape every templated dashboard/report
    runs — parameters bind as typed literals in the parsed plan, so
    Catalyst constant-folds and pushes them down exactly like inline
    literals (the parquet scan carries the p_size bounds as
    PushedFilters).
    """
    load_table(spark, sf_dir, "part").createOrReplaceTempView("paramv_part")
    return spark.sql(
        """
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents_sum
        FROM paramv_part
        WHERE p_size BETWEEN :lo AND :hi AND p_retailprice >= :minprice
        GROUP BY p_brand
        ORDER BY p_brand
        """,
        args={"lo": 10, "hi": 30, "minprice": 940.0},
    )


def listagg_segments_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``listagg`` aggregate (new in Spark 4.0): DISTINCT +
    WITHIN GROUP (ORDER BY ...) ordered string concatenation — the ISO
    SQL:2023 form — over customer market segments per nation.  Distinct
    from region_nation_list, which builds its CSV via
    sort_array(collect_list()): this exercises the dedicated aggregate's
    parser/planner path (Spark requires the WITHIN GROUP sort key to
    equal the DISTINCT expression, mirrored by DuckDB's
    string_agg(DISTINCT ... ORDER BY ...)).

    Engine bug dodged: putting listagg(DISTINCT) beside a SECOND
    distinct aggregate (COUNT(DISTINCT ...)) in one Aggregate trips a
    ClassCastException in ListAgg.withNewChildrenInternal during the
    distinct-rewrite (Spark 4.1.2, collect.scala:543) — the segment
    count is derived from the CSV in an outer projection instead.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "lagv_customer"
    )
    return spark.sql(
        """
        SELECT c_nationkey, segments_csv,
               CAST(size(split(segments_csv, ',')) AS BIGINT) AS n_segments
        FROM (SELECT c_nationkey,
                     listagg(DISTINCT c_mktsegment, ',')
                         WITHIN GROUP (ORDER BY c_mktsegment) AS segments_csv
              FROM lagv_customer GROUP BY c_nationkey)
        ORDER BY c_nationkey
        """
    )


def polymorphic_split_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF via the static ``analyze()`` hook (Spark
    3.5+): the OUTPUT SCHEMA is computed from the call's constant
    argument — ``split_first_words(p_name, 4)`` resolves to columns
    w0..w3 at analysis time, something a fixed ``returnType`` cannot
    express.  The third UDTF surface beside chunk_tokens_udtf (lateral,
    static schema) and event_runs_udtf (TABLE ARGUMENT + PARTITION BY).

    Like event_runs_udtf, the per-row eval is the API's documented
    cost, not a scale path (excluded from the bench headline); the
    oracle replays the same padding semantics with list indexing.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf(useArrow=True)
    class SplitFirstWords:
        # self-contained: pickled by value (local class, builtins +
        # in-function pyspark imports only)
        @staticmethod
        def analyze(s: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            from pyspark.sql.types import StringType, StructType

            st = StructType()
            for i in range(n.value):
                st = st.add(f"w{i}", StringType())
            return AnalyzeResult(schema=st)

        def eval(self, s, n):
            toks = (s or "").split()
            yield tuple(
                toks[i] if i < len(toks) else None for i in range(n)
            )

    spark.udtf.register("split_first_words", SplitFirstWords)
    load_table(spark, sf_dir, "part").createOrReplaceTempView(
        "__part_for_split"
    )
    return spark.sql(
        """
        SELECT p_partkey, s.w0, s.w1, s.w2, s.w3
        FROM __part_for_split, LATERAL split_first_words(p_name, 4) s
        """
    )


def sql_script_trimmed_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 ``BEGIN ... END`` compound with DECLAREd
    local variables and a WHILE loop): the iterative 2x-mean trim — a
    DATA-DEPENDENT-iteration-count computation no single SELECT can
    express.  In exact integer cents (invariant 3):

        t_0     = 2 * floor_mean(cents of ALL orders)
        t_{k+1} = 2 * floor_mean(cents <= t_k)

    rebinding while the threshold strictly decreases (monotone, so it
    reaches an integer fixpoint; capped at 8 rebinds).  Returns the
    rebind count, the fixpoint threshold, and the surviving order
    count/sum — the classic outlier-trim loop every data-quality sweep
    runs, here executed entirely inside the SQL-scripting interpreter
    (variables + control flow server-side, no driver round-trips per
    statement result).

    At 100 TB: each loop step is ONE set-based scan+aggregate (a scalar
    subquery Catalyst plans like any other agg, parquet-pruned to the
    single money column); the cap bounds the whole query at <= 10
    scans.  The oracle replays the identical recurrence as a DuckDB
    recursive CTE.

    The scripting conf is flipped on for the call and restored (the
    grading driver's session arrives bare — invariant 2).
    """
    load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    ).createOrReplaceTempView("scriptv_order_cents")
    key = "spark.sql.scripting.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        return spark.sql(
            """
            BEGIN
              DECLARE t BIGINT DEFAULT NULL;
              DECLARE nt BIGINT DEFAULT NULL;
              DECLARE i INT DEFAULT 0;
              SET t = (SELECT 2 * (SUM(cents) DIV NULLIF(COUNT(*), 0))
                       FROM scriptv_order_cents);
              SET nt = (SELECT 2 * (SUM(cents) DIV NULLIF(COUNT(*), 0))
                        FROM scriptv_order_cents WHERE cents <= t);
              WHILE i < 8 AND nt < t DO
                SET t = nt;
                SET i = i + 1;
                SET nt = (SELECT 2 * (SUM(cents) DIV NULLIF(COUNT(*), 0))
                          FROM scriptv_order_cents WHERE cents <= t);
              END WHILE;
              SELECT CAST(i AS BIGINT) AS n_iters,
                     COALESCE(t, -1) AS threshold_cents,
                     (SELECT CAST(COUNT(*) AS BIGINT)
                      FROM scriptv_order_cents WHERE cents <= t)
                         AS n_survivors,
                     (SELECT COALESCE(CAST(SUM(cents) AS BIGINT), 0)
                      FROM scriptv_order_cents WHERE cents <= t)
                         AS survivor_cents_sum;
            END
            """
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def execute_immediate_brand_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE`` (Spark 4.0 dynamic SQL): the statement text
    lives in a session VARIABLE and positional ``?`` markers bind via
    ``USING`` — the late-bound templated-report shape, one step more
    dynamic than parameterized_sql_brand_stats (whose text is fixed at
    call site and parameters bind as ``args=``).  Top-N brands by exact
    retail cents among parts under a size cap; the bound literals
    constant-fold, so the p_size cap still reaches the parquet scan as
    a pushed filter.
    """
    load_table(spark, sf_dir, "part").createOrReplaceTempView("execv_part")
    spark.sql("DECLARE OR REPLACE VARIABLE stmt_text STRING")
    spark.sql(
        """
        SET VAR stmt_text =
          'SELECT p_brand,
                  CAST(COUNT(*) AS BIGINT) AS n_parts,
                  CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT))
                       AS BIGINT) AS cents_sum
           FROM execv_part
           WHERE p_size <= ?
           GROUP BY p_brand
           ORDER BY cents_sum DESC, p_brand
           LIMIT ?'
        """
    )
    return spark.sql("EXECUTE IMMEDIATE stmt_text USING 25, 10")


def identifier_clause_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER(:param)`` clause (Spark 3.5+): table AND column
    names bound from parameters as identifiers, not strings — the
    injection-safe form of "pick the table/group-column at runtime"
    that string-concatenated SQL gets wrong.  Completes the dynamic-SQL
    family: parameterized_sql_brand_stats binds VALUES,
    execute_immediate_brand_topn binds whole statements, this binds
    IDENTIFIERS.  The rollup itself is a plain count/exact-cents
    group-by over the parameter-chosen orders table and priority
    column, so Catalyst plans it exactly like the literal query
    (constant-folded at parse time — same scan, same agg).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("identv_orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:gcol) AS o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(IDENTIFIER(:vcol) * 100) AS BIGINT))
                    AS BIGINT) AS cents_sum
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:gcol)
        ORDER BY o_orderpriority
        """,
        args={
            "tbl": "identv_orders",
            "gcol": "o_orderpriority",
            "vcol": "o_totalprice",
        },
    )


def group_by_all_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` (infer grouping keys from the select list,
    Spark 3.4+ / DuckDB-mirrorable verbatim) with the EXACT ordered-set
    percentile aggregates ``percentile_cont``/``percentile_disc``
    (``WITHIN GROUP`` syntax) and ``median`` over integer cents.

    Determinism (invariant 3): inputs are exact bigint cents, and the
    continuous percentiles use only quarter fractions (0.25/0.5/0.75) —
    lower + (upper-lower)*frac on integers at dyadic fractions is
    binary-exact in ANY evaluation order, so both engines produce the
    identical double with no rounding step.  percentile_disc picks an
    actual data value (exact by construction).

    At 100 TB: ordered-set aggregates BUFFER each group's values, so
    the grouping key must be high-cardinality — per PART here (group
    count scales with the data, group size stays a bounded handful of
    lineitems), never per return flag (3 corpus-sized buffers, the
    low-cardinality-partition anti-pattern the window lint bans;
    measured 4.8s vs 1.7s at sf0.1).  A corpus-global exact percentile
    would swap to approx_percentile (documented trade, events.py:409).

    Buffer fusion (round 12, guide §1.2 step 2): ``median`` /
    ``percentile_cont(p)`` each compile to the same ``percentile``
    aggregate, so three scalar calls maintained THREE identical
    per-group counts-map buffers (plan receipt: 5 ObjectHashAggregate
    functions, 4 of them duplicate maps of the same column, all
    serialized through the exchange).  ``percentile(cents,
    array(0.25, 0.5, 0.75))`` computes all three from ONE buffer —
    Spark's Median/PercentileCont ARE Percentile expressions, so the
    interpolated doubles are bit-identical — and ``percentile_disc``
    keeps the WITHIN GROUP ordered-set surface the query demonstrates.
    """
    load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    ).createOrReplaceTempView("gballv_lineitem")
    return spark.sql(
        """
        SELECT l_partkey,
               n_items,
               pc[1] AS median_cents,
               pc[0] AS p25_cents,
               pc[2] AS p75_cents,
               p90_disc_cents
        FROM (
            SELECT l_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   percentile(cents, array(0.25D, 0.5D, 0.75D)) AS pc,
                   CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)
                        AS BIGINT) AS p90_disc_cents
            FROM gballv_lineitem
            GROUP BY ALL
        )
        ORDER BY l_partkey
        """
    )


_MERGE_SCHEMA_MEMO = SessionMemo(4)


def _schema_evolution_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage a two-generation parquet directory derived from orders:
    generation v1 (odd order keys) has columns (o_orderkey, cents);
    generation v2 (even keys) adds o_orderpriority — the lake layout
    every long-lived dataset grows into as writers evolve.  Memoized
    per (session, fixture)."""
    import os

    def build() -> Owned:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderpriority",
        )
        root = scratch_dir("schema_evo_")
        o.where(F.col("o_orderkey") % 2 == 1).drop("o_orderpriority").coalesce(
            2
        ).write.parquet(os.path.join(root, "gen=v1"))
        o.where(F.col("o_orderkey") % 2 == 0).coalesce(2).write.parquet(
            os.path.join(root, "gen=v2")
        )
        return Owned(root, dirs=(root,))

    return _MERGE_SCHEMA_MEMO.get(spark, sf_dir, ("orders",), build)


def merge_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution-on-READ (``option("mergeSchema", "true")``): one
    scan over a two-generation parquet directory whose older files lack
    a column — the parquet source reconciles footers into the union
    schema and fills the missing column with NULL, which the query
    rolls up per (generation, priority) with 'unknown' for pre-schema
    rows.  The source-level twin of union_schema_evolution (which
    merges two FRAMES via unionByName(allowMissingColumns)); here the
    merge happens inside ONE FileScan, the partition column `gen`
    carrying which generation each row came from.

    At 100 TB: mergeSchema prices as one footer read per file at
    planning time — fine for thousands of files, a reason to keep
    schema registries beyond that; the scan itself stays a single
    pruned pass.
    """
    root = _schema_evolution_dir(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        df.groupBy(
            "gen",
            F.coalesce(F.col("o_orderpriority"), F.lit("unknown")).alias(
                "priority"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
        )
        .orderBy("gen", "priority")
    )


def ansi_try_arithmetic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``try_*`` function family under ANSI mode (the session runs
    ANSI-on, so plain ``/ 0`` and bad casts RAISE): ``try_divide``
    yields NULL on a zero denominator and ``try_cast`` yields NULL on a
    malformed number — the per-row error-quarantine primitive a
    production pipeline uses where one poison row must not kill a 100
    TB job.  Per order priority: rows whose derived denominator
    (o_custkey % 5) is zero are counted as quarantined, the surviving
    exact-cents/denominator quotients are 3-dp scaled-integer rounded
    and summed, and a malformed-suffix try_cast proves the NULL (not
    raise) path.

    Determinism (invariant 3): the quotient divides two exact integers
    (one IEEE divide, bit-identical across engines), each quotient is
    quantized to a BIGINT of 1e-3 units BEFORE the sum (round_scaled's
    rule: sums of rounded doubles drift, sums of ints do not), and the
    DuckDB oracle mirrors try_divide as x / NULLIF(d, 0) and try_cast
    as TRY_CAST.  Scale (ADVICE_r10): at 1e-3 units a per-priority sum
    is ~8e9/row × 3e8 rows/group at SF 1000 ≈ 2.4e18 < 2^63 — the 1e-6
    scale overflowed ANSI bigint sums around SF 10.  No .5 boundary
    exists at this scale (den ∈ {1,2,3,4}: thirds never land on .5 and
    the power-of-two dens are binary-exact), so invariant 6 holds.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_custkey") % 5).cast("bigint").alias("den"),
        F.concat(F.col("o_totalprice").cast("string"), F.lit("x")).alias(
            "malformed"
        ),
    )
    ratio_units = F.expr(
        "CAST(round(try_divide(cents, den) * 1000.0) AS BIGINT)"
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum((F.col("den") == 0).cast("long"))
            .cast("bigint")
            .alias("n_quarantined"),
            F.coalesce(F.sum(ratio_units), F.lit(0))
            .cast("bigint")
            .alias("ratio_thousandths_sum"),
            F.sum(
                F.expr("try_cast(malformed AS DOUBLE)").isNull().cast("long")
            )
            .cast("bigint")
            .alias("n_cast_nulls"),
        )
        .orderBy("o_orderpriority")
    )


def tablesample_priority_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TABLESAMPLE (10 PERCENT) REPEATABLE(42)`` — SQL-standard
    Bernoulli sampling pushed INTO the scan (the plan shows ``Sample``
    directly over the FileScan, before any shuffle): per-priority
    sampled counts plus the exact sampling fraction realized, the
    profile a 100 TB EDA pass runs instead of a full aggregate.

    REPEATABLE(seed) makes the sample a pure function of (seed,
    partition layout): the row-level RNG is seeded per scan partition
    as seed + partitionIndex, so with the fixture file and runtime
    confs pinned (load_table/ensure_runtime_confs), repeated runs in
    any session return the SAME rows — pinned by the twin-run test in
    tests/test_streaming_ingest.py.  No DuckDB oracle: DuckDB's
    BERNOULLI sampler draws from a different RNG, so the exact sampled
    set is engine-specific by design (rows-only driver check).

    Scale: sampling is evaluated scan-side (no data movement beyond
    the sampled rows); the aggregate then moves per-priority partials
    only.  At 100 TB a 10 PERCENT profile reads every row group but
    ships 10% of rows into the agg — for block-level economy use
    ``TABLESAMPLE (n ROWS)`` or partition sampling instead.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "tsample_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents_sum
        FROM tsample_orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )
