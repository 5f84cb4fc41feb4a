"""Event-time operators over the ``events`` table (mandated extension
surface, SURVEY.md §2.3: event-time windows + JSON functions; the reference
has no temporal or JSON support at all, SURVEY.md §2.2).

The window expressions are written to be streaming-compatible: the same
``F.window`` aggregation runs under Structured Streaming with
``withWatermark`` (see streaming/windows.py, which reuses these shapes).

Timestamps are emitted as formatted strings — tz-free on both engines —
so results are value-identical to the DuckDB oracle regardless of session
timezone (events.ts is TIMESTAMP_NTZ after the nanos fixup in
sources/tables.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents, decimal_sum
from ..memo import Owned, SessionMemo, scratch_dir
from ..sources import load_table

_FMT = "yyyy-MM-dd HH:mm:ss"


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows: count + exact value sum per
    (window, event_type).

    Scale: map-side partial agg on (hour, type) — the shuffle carries only
    group partials.  Streaming-ready: same expression + withWatermark.
    """
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win, "event_type")
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


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour long, every 30 min): each event contributes
    to exactly two windows.

    Scale: Spark expands each row into windows-per-event rows before the
    aggregation — cost scales with length/slide ratio; keep that ratio
    small at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("window.start"), _FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (``props`` is a JSON string column) +
    aggregation by event type.

    Scale: get_json_object is a codegen'd JVM expression — no UDF; for
    repeated multi-key extraction prefer from_json with an explicit schema
    (single parse).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same aggregation as events_json_extract but through the VARIANT
    type (Spark 4): ``props`` parses ONCE into a binary variant with
    parse_json, fields come out with variant_get — the engine's
    recommended path for repeated multi-key extraction over
    semi-structured data (single parse, shredded binary access, no
    per-access string re-parse like get_json_object).

    Shares the string-path query's DuckDB oracle — both must produce
    identical aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) — the classic
    stateful event operator, expressed as lag + conditional cumulative sum
    (islands technique), fully declarative.

    Scale: one shuffle on user_id; both window specs share the same
    (partition, order) so Spark sorts once.  The streaming-native variant
    (applyInPandasWithState / session_window) lives in streaming/windows.py.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id", "event_id", "ts", F.lag("ts", 1).over(w).alias("prev_ts")
    )
    is_new = F.when(
        F.col("prev_ts").isNull()
        | F.expr("ts - prev_ts > INTERVAL '30' MINUTE"),
        1,
    ).otherwise(0)
    sess = lagged.select(
        "user_id",
        "event_id",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_id"),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def asof_join_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (a relational op Spark lacks natively): for every
    'error' event, the most recent prior 'purchase' by the same user.

    Implemented the scale-correct way — NOT as a range join (which
    explodes into O(n·m) candidates): union both streams tagged, one
    window over (user, ts) carrying the last purchase timestamp forward
    (last_value ignoring nulls), then keep the error rows.  One shuffle
    on user_id, linear work.

    Oracle: DuckDB's native ASOF JOIN — our composition must reproduce
    the dedicated operator's semantics exactly.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("error", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        tagged.withColumn(
            "last_purchase_ts", F.last("p_ts", ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", fmt).alias("error_ts"),
            F.date_format("last_purchase_ts", fmt).alias("last_purchase_ts"),
        )
    )


def zscore_events_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score normalization of event values via grouped-map
    applyInPandas — the 4th Python-UDF shape (scalar, mapInPandas, and
    state live elsewhere), oracle-gated against the window-function SQL.

    Scale: one shuffle on the grouping key; each group becomes a pandas
    frame in an Arrow batch.  Groups must fit in executor memory — for
    heavy keys prefer the pure-window formulation this is checked against.
    """
    ev = load_table(spark, sf_dir, "events")

    def zscore(pdf):
        # self-contained closure (pickled by value; no module refs)
        m = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        out = pdf[["event_id", "user_id"]].copy()
        z = (pdf["value"] - m) / sd if sd and sd == sd else pdf["value"] * 0.0
        out["zscore"] = (z * 10000).round() / 10000
        return out

    return (
        ev.select("event_id", "user_id", "value")
        .groupBy("user_id")
        .applyInPandas(zscore, schema="event_id long, user_id long, zscore double")
    )


def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery pattern: orders priced above the global average.

    The global aggregate is one row — Spark broadcasts it; never compute
    it per-row or collect() it to the driver.
    """
    from ..functions import money_avg

    o = load_table(spark, sf_dir, "orders")
    avg_row = o.agg(money_avg("o_totalprice").alias("avg_price"))
    return (
        o.join(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice", F.round("avg_price", 4).alias("avg_price"))
    )


def map_functions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type function surface: props parses ONCE into map<string,string>
    (from_json precomputed as a column — never re-parse per extraction),
    then map_keys / size / element_at / transform_values operate on it
    JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    with_map = ev.withColumn("m", F.from_json("props", "map<string,string>"))
    doubled = F.transform_values(
        "m", lambda _, v: v.cast("long") * 2
    )
    return with_map.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys"),
        F.size("m").cast("long").alias("n_keys"),
        F.element_at("m", "k").cast("long").alias("k_val"),
        F.element_at(doubled, "k").alias("k_doubled"),
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): a user converts
    a stage only with an event at-or-after their previous stage's first
    event.  The product-analytics pattern op the events table exists for.

    Implementation: three *chained* per-user window minima — stage N's
    timestamp is min(ts | type=N, ts ≥ stage N-1 ts) over the user
    partition.  All three windows share one partitioning, so Catalyst
    plans a single hash exchange on user_id followed by in-partition
    window evaluation; the final funnel row is a tiny global aggregate.

    Scale: one shuffle on user_id (the natural key, unskewed), then
    narrow.  100 TB note: windows over the same partitionBy reuse the
    exchange — the plan property this query exists to pin.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn("t_view", t_view)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_purchase", t_purchase)
    per_user = staged.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


def rollup_cascade_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup (the continuous-aggregate
    pattern): hourly partials aggregate from raw events, daily totals
    aggregate FROM THE HOURLY PARTIALS — never re-reading raw data.
    Output is the daily grain plus the number of hourly buckets it
    covers, which only a true cascade can report.

    Scale: this is the 100 TB time-series discipline — the raw table is
    touched once per grain-refresh; each coarser grain reads the much
    smaller finer grain (count and decimal-sum partials are associative,
    so cascaded results are exact).  In a live deployment the hourly
    stage is a streaming sink table and the daily pass a periodic batch
    over it; here both stages compose into one plan whose only shuffles
    are the two tiny-keyed aggregations.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias("sum_value"),
    )
    daily = (
        hourly.groupBy(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            decimal_sum(F.col("sum_value").cast("decimal(18,2)"), scale=2).alias(
                "sum_value"
            ),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
        )
    )
    return daily


def locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward:
    densify the hourly (event_type, hour) grid over the data's own time
    range, then fill silent hours with the most recent observed hourly
    value sum — the standard treatment for sparse metric streams before
    charting or feature extraction (a silent hour means "no change", not
    "no row").  The reference has no temporal operators at all
    (SURVEY.md §2.2); this extends the §2.3 event-time family.

    Scale: the expensive input is aggregated to the (type, hour) grain
    FIRST — the spine join and the LOCF window run over O(hours × types)
    rows, never raw events.  The spine bounds come from a scalar
    aggregate folded into the plan (no driver collect).  The LOCF window
    partitions by event_type over the tiny rolled-up grid; at 100 TB the
    raw-events aggregation is the only shuffle that scales with data.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias("v"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(hourly, ["hour", "event_type"], "left").select(
        F.date_format("hour", _FMT).alias("hour"),
        "event_type",
        F.col("v").isNull().alias("filled"),
        F.last("v", ignorenulls=True).over(w).alias("value_locf"),
    )


def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics: clip ``value`` to the
    [p05, p95] band of its event_type (exact interpolated percentiles —
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the same
    definition) and report tail counts plus the clipped mean.  This is
    the outlier-robust normalization step of a feature pipeline.

    Determinism: percentiles are exact (sort-based, order-free); the
    clipped mean is rounded to 4 dp with the +0.0 negative-zero guard;
    tail counts are integer sums cast to BIGINT on the oracle side
    (DuckDB sums of integers widen to HUGEINT — CLAUDE.md §3).

    Scale: one shuffle to compute the 5-row percentile table, broadcast
    back onto the fact scan, one aggregation on the same 5-key space.
    Exact percentiles over 100 TB would instead use approx_percentile
    (t-digest) — the exact form is kept because the oracle demands
    bit-equality; the plan shape is identical either way.
    """
    e = load_table(spark, sf_dir, "events")
    pct = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    j = e.join(F.broadcast(pct), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0))
            .cast("long")
            .alias("n_lo"),
            F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0))
            .cast("long")
            .alias("n_hi"),
            (F.round(F.avg(clipped), 4) + F.lit(0.0)).alias("avg_winsor"),
            (F.round(F.min("p05"), 4) + F.lit(0.0)).alias("p05_r"),
            (F.round(F.min("p95"), 4) + F.lit(0.0)).alias("p95_r"),
        )
        .orderBy("event_type")
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention: users are grouped by the day of their first
    event (the cohort), and each later active day is credited to the
    cohort at its day offset — the classic retention triangle.

    Scale: the first-seen aggregation and the activity join both key on
    user_id, so AQE can plan one co-partitioned exchange; the distinct
    (cohort, offset, user) projection collapses duplicate same-day events
    before the final small-key count.  No driver-side state.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = e.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        e.join(first, "user_id")
        .select(
            "user_id",
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort_d").alias("day_offset"),
        )
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (ordered by time with an event_id tiebreak), with the
    per-source-state transition probability — the behavioral-model
    feature a funnel/recommendation pipeline derives from a clickstream.

    Scale: one window shuffle on user_id (the natural stream key), then
    aggregation on the tiny (prev, next) type-pair space; the probability
    normalization is a window over that 25-row aggregate, not the facts.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wt = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n_transitions",
        (
            F.round(F.col("n_transitions") / F.sum("n_transitions").over(wt), 6)
            + F.lit(0.0)
        ).alias("p_transition"),
    ).orderBy("prev_type", "event_type")


def rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM features (recency / frequency / monetary) over
    purchase events: days from the user's last purchase to the corpus
    horizon (global max timestamp), purchase count, and exact money sum.

    Scale: the horizon is a 1-row aggregate broadcast onto the per-user
    aggregation — no driver collect; everything else is one groupBy on
    user_id.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase")
    horizon = e.agg(F.max(F.to_date("ts")).alias("horizon_d"))
    per_user = p.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_d"),
        F.count(F.lit(1)).alias("frequency"),
        decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias("monetary"),
    )
    return (
        per_user.join(F.broadcast(horizon))
        .select(
            "user_id",
            F.datediff("horizon_d", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
        .orderBy("user_id")
    )


_AB_PRIME = 2654435761
_AB_MOD = 2147483647


def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B bucket evaluation: users hash into two buckets
    (multiplicative hash — reproducible assignment, the experiment
    platform requirement), then per-bucket user counts, converter counts
    (users with ≥1 purchase), conversion rate, and average purchase
    value.  The readout shape of an experimentation pipeline.

    Scale: assignment is a per-row projection; the analysis is two
    aggregations keyed on user then bucket — both tiny exchanges.
    """
    e = load_table(spark, sf_dir, "events")
    bucket = F.when(
        ((F.col("user_id") % F.lit(_AB_MOD)) * F.lit(_AB_PRIME)) % F.lit(_AB_MOD) % F.lit(2) == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    per_user = (
        e.select("user_id", bucket.alias("bucket"), "event_type", "value")
        .groupBy("user_id", "bucket")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purch"),
            decimal_sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(F.lit(0.0))
                .cast("decimal(18,2)"),
                scale=2,
            ).alias("purch_value"),
        )
    )
    return (
        per_user.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.when(F.col("n_purch") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_converters"),
            (
                F.round(
                    F.sum(F.when(F.col("n_purch") > 0, 1).otherwise(0))
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("conversion_rate"),
            F.sum(F.col("purch_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_purchase_value"),
        )
        .orderBy("bucket")
    )


def mad_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via median absolute deviation: per event
    type, compute the value median and MAD (both exact interpolated
    percentiles), then count rows whose |value - median| exceeds
    3 × 1.4826 × MAD — the outlier gate that survives heavy tails where
    z-scores saturate.

    Scale: two tiny percentile aggregations (5-key space) broadcast onto
    one fact pass; counts aggregate on the same 5 keys.
    """
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
    )
    thresh = F.col("med") + F.lit(3 * 1.4826) * F.col("mad")
    lo = F.col("med") - F.lit(3 * 1.4826) * F.col("mad")
    return (
        e.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when((F.col("value") > thresh) | (F.col("value") < lo), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_anomalies"),
            (F.round(F.min("med"), 4) + F.lit(0.0)).alias("median_r"),
            (F.round(F.min("mad"), 4) + F.lit(0.0)).alias("mad_r"),
        )
        .orderBy("event_type")
    )


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via bin-and-residual: per-user activity
    spans [first_ts, last_ts] joined against daily 02:00–04:00 audit
    windows, counting overlapping users per day.  Instead of a raw range
    join (O(spans × windows) nested loop), each span EXPLODES into its
    covered days — the bin key — so the match becomes an equi-join on
    day plus a residual overlap predicate.  This is the standard
    interval-join decomposition at scale: shuffle on the bin, residual
    filter inside the bin.

    Scale: rows after the explode = span-days (bounded by corpus
    duration), shuffled on the day key; no CartesianProduct, no
    BroadcastNestedLoopJoin (plan-lint enforced).
    """
    e = load_table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(F.min("ts").alias("s"), F.max("ts").alias("t"))
    days = spans.select(
        "user_id",
        "s",
        "t",
        F.explode(F.sequence(F.to_date("s"), F.to_date("t"))).alias("d"),
    )
    day_ts = F.col("d").cast("timestamp_ntz")
    win_start = day_ts + F.expr("INTERVAL 2 HOURS")
    win_end = day_ts + F.expr("INTERVAL 4 HOURS")
    return (
        days.where((F.col("s") < win_end) & (win_start < F.col("t")))
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_users_overlapping"))
        .orderBy("day")
    )


DECAY_LAMBDA = 0.1  # per-day exponential decay rate


def time_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score: per user, the exponentially
    decayed sum of event values at the corpus horizon —
    Σ value·exp(−λ·age_days) — plus the undecayed exact sum for
    reference.  The standard feature when "recent activity matters
    more"; computed in closed form (no recursive EWMA, whose weights
    explode over unbounded history).

    Scale: the horizon is a broadcast 1-row aggregate; the decay is a
    per-row expression folded into one groupBy on user_id.  Rounded to 4
    dp (+0.0): both engines evaluate the same IEEE exp() inputs, and
    summation-order noise (~1e-13) sits far below the rounding grain —
    the same discipline the ln()-based LM scorers use.
    """
    e = load_table(spark, sf_dir, "events")
    horizon = e.agg(F.max("ts").alias("h"))
    # exact integer microsecond age on both engines, then one double
    # division — identical IEEE inputs into exp()
    age_days = F.expr("timestampdiff(MICROSECOND, ts, h)") / F.lit(86400000000.0)
    decayed = F.col("value") * F.exp(-F.lit(DECAY_LAMBDA) * age_days)
    return (
        e.join(F.broadcast(horizon))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.sum(decayed), 4) + F.lit(0.0)).alias("decayed_value"),
            decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias(
                "exact_value"
            ),
        )
        .orderBy("user_id")
    )


def inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics: mean/min/max seconds between
    consecutive events (time-ordered, event_id tiebreak) — the sequence
    features behind session modeling and bot detection.

    Determinism: gaps are exact integer microsecond differences; the
    only float op is one division (and the rounded mean), identical on
    both engines.  Scale: one window shuffle on user_id, then a per-user
    aggregate — the same single-exchange shape as sessionization.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .where(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("gap_us"),
        )
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            (F.round(F.avg("gap_us") / F.lit(1e6), 4) + F.lit(0.0)).alias(
                "avg_gap_s"
            ),
            (F.round(F.min("gap_us") / F.lit(1e6), 6) + F.lit(0.0)).alias(
                "min_gap_s"
            ),
            (F.round(F.max("gap_us") / F.lit(1e6), 6) + F.lit(0.0)).alias(
                "max_gap_s"
            ),
        )
        .orderBy("user_id")
    )


def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 event-type transitions (bigram paths) per ordered user
    stream: lag over (user_id, ts, event_id) forms adjacent pairs, then
    a global count — the path-mining primitive behind funnel discovery
    (event_transition_matrix gives probabilities; this gives the ranked
    path list with deterministic tiebreaks).

    Scale: one exchange on user_id for the window, then a partial-agg
    count on the tiny (from, to) key space; top-k compiles to
    TakeOrderedAndProject — no global sort.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
    )
    return (
        pairs.groupBy(
            F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "from_type", "to_type")
        .limit(20)
    )


def cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for each pair of event types, the
    number of users exhibiting BOTH, plus Jaccard affinity
    n_both / (n_a + n_b − n_both) — frequent-itemset mining at the
    pair level (the k=2 Apriori step, which at 100 TB is the only level
    run exactly; higher k runs on these survivors).

    Scale: the self-join is over the per-user DISTINCT type sets
    (|users| × |types| rows, NOT raw events), and the type universe is
    tiny, so the pair expansion is bounded by |types|² per user; the
    marginals broadcast (one row per type).  Determinism: integer
    counts; one rounded division.
    """
    e = load_table(spark, sf_dir, "events")
    # the distinct per-user type set feeds three consumers (both join
    # sides + the marginals); persist it once instead of re-running the
    # scan + distinct shuffle 3x — at 100 TB this frame is |users|x|types|,
    # orders of magnitude under the raw event volume
    ut = e.select("user_id", "event_type").distinct().localCheckpoint(eager=False)
    a = ut.alias("a")
    b = ut.alias("b")
    both = (
        a.join(b, "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    marg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    return (
        both.join(
            F.broadcast(marg.select(F.col("event_type").alias("type_a"),
                                    F.col("n_users").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(marg.select(F.col("event_type").alias("type_b"),
                                    F.col("n_users").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.round(
                    F.col("n_both")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                    4,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


def events_hourly_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly DISTINCT user counts — the two-phase distinct-aggregate
    shape (partial distinct per partition before the exchange; Spark
    expands COUNT(DISTINCT) into a two-stage plan, keeping the shuffle
    at |window × distinct users|, not |events|).  The exact companion to
    hll_rollup_customers' sketch path: run this where exactness is
    mandatory, the HLL rollup where a 2% error buys a 100× smaller
    shuffle at 100 TB.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_users",
            "n_events",
        )
        .orderBy("hour")
    )


def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase is credited to the
    user's EARLIEST preceding NON-purchase event type within a 7-day
    lookback — marketing attribution as one window pass (no
    per-purchase rescans): purchases and touches interleave in a single
    (user, time) ordering and a range-frame min picks the first touch.

    The argmin travels as a zero-padded sortable tag
    (sec:event_id:type) so lexicographic MIN is the numeric argmin on
    both engines; purchases carry a NULL tag, which aggregate MIN
    skips — that is how "touches only" lives inside a frame that
    physically contains every row.  Scale: ONE exchange on user_id; the
    range frame's state is bounded by the lookback horizon.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
    ).withColumn(
        "touch_tag",
        F.when(
            F.col("event_type") != "purchase",
            F.concat_ws(
                ":",
                F.lpad(F.col("sec").cast("string"), 12, "0"),
                F.lpad(F.col("event_id").cast("string"), 10, "0"),
                F.col("event_type"),
            ),
        ),
    )
    seven_days = 7 * 24 * 3600
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-seven_days, -1)
    attributed = (
        base.withColumn("ft", F.min("touch_tag").over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.element_at(F.split(F.col("ft"), ":"), 3), F.lit("(none)")
            ).alias("first_touch_type"),
        )
    )
    return (
        attributed.groupBy("first_touch_type")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("first_touch_type")
    )


def ohlc_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles over events.value: open/close are the values
    of the first/last event in the hour (deterministic argmin/argmax via
    the unique sec·10⁶+event_id order key — plain min_by would be
    nondeterministic under ties), high/low are plain min/max — the
    time-series downsampling shape every metrics store runs.

    Scale: ONE partial-aggregated groupBy on the hour key; min_by/max_by
    carry (value, key) pairs through the combiner, so the shuffle is
    |hours| rows regardless of event volume.
    """
    e = load_table(spark, sf_dir, "events")
    key = (
        F.unix_timestamp(F.col("ts").cast("timestamp")) * F.lit(1_000_000)
        + F.col("event_id")
    )
    return (
        e.select(
            F.date_trunc("hour", "ts").alias("h"),
            F.col("value"),
            key.alias("ok"),
        )
        .groupBy("h")
        .agg(
            F.min_by("value", "ok").alias("open"),
            F.max_by("value", "ok").alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "open",
            "high",
            "low",
            "close",
            "n",
        )
        .orderBy("hour")
    )


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps &
    islands): distinct active days → day_index − row_number is constant
    within a run of consecutive days, so one groupBy per (user, island)
    counts streaks — the engagement metric behind "7-day streak" badges
    and retention cohorts.

    Scale: the distinct and both windows share ONE user_id exchange
    (day ordering is within-partition), and state is |active days|, not
    |events|.  All-integer arithmetic.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_idx"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day_idx")
    islands = days.withColumn(
        "island", F.col("day_idx") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.max("len").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .orderBy("user_id")
    )


def hourly_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour exact percentile bands (p10/p50/p90 of value) — the
    time-series envelope behind latency/telemetry dashboards.  Spark's
    ``percentile`` and ANSI percentile_cont share the same linear
    interpolation, so the bands are oracle-exact after rounding.

    Scale: percentile is a full-sort-per-group aggregate — fine at
    |hour| granularity (each group ≈ events/hour); at extreme group
    cardinality swap in tdigest_by_event_type's sketch shape.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.expr("percentile(value, 0.1)"), 4) + F.lit(0.0)).alias("p10"),
            (F.round(F.expr("percentile(value, 0.5)"), 4) + F.lit(0.0)).alias("p50"),
            (F.round(F.expr("percentile(value, 0.9)"), 4) + F.lit(0.0)).alias("p90"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            "p10",
            "p50",
            "p90",
        )
        .orderBy("hour")
    )


def error_proximity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-proximity correlation: for each purchase, how many SAME-
    USER error events occurred within ±5 minutes — then the histogram of
    purchases by nearby-error count (incident-correlation shape: "are
    failures clustered around conversions?").

    One user_id exchange; the ±range window carries a conditional sum,
    so errors and purchases interleave in a single ordered pass with
    state bounded by the 10-minute horizon.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-300, 300)
    nearby_err = F.sum(
        F.when(F.col("event_type") == "error", 1).otherwise(0)
    ).over(w)
    purchases = (
        base.withColumn("n_nearby_errors", nearby_err)
        .where(F.col("event_type") == "purchase")
    )
    return (
        purchases.groupBy("n_nearby_errors")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("n_nearby_errors")
    )


def user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity scoring: Shannon entropy (bits) of each user's
    event-type distribution, reported for the 20 most-diverse users
    (unique-key tiebreak on user_id for cross-engine determinism).

    Entropy is computed from exact integer counts via
    H = log2(N) - (sum c_i*log2(c_i)) / N, so the only floating point is
    the per-type log2 terms (<= ~6 per user) — partial-agg friendly:
    the (user, type) count reduces map-side, then one small per-user agg.
    """
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double"))).alias(
            "sum_clog"
        ),
    )
    entropy = F.log2(F.col("n_events").cast("double")) - F.col("sum_clog") / F.col(
        "n_events"
    ).cast("double")
    return (
        per_user.select(
            "user_id",
            "n_events",
            "n_types",
            (F.round(entropy, 4) + F.lit(0.0)).alias("entropy_bits"),
        )
        .orderBy(F.col("entropy_bits").desc(), F.col("user_id"))
        .limit(20)
    )


def hour_of_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: per (event_type, hour-of-day) activity count
    and mean value, plus the lift of that hour's mean over the event
    type's all-day mean — the diurnal-pattern readout behind load
    forecasting and anomaly baselines.

    One groupBy to 24 x |event_type| cells, then a tiny window over
    event_type re-derives the overall mean from the exact per-cell sums
    (no second scan of the fact table).
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", F.hour(F.col("ts").cast("timestamp")).alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_value"),
    )
    w = Window.partitionBy("event_type")
    overall_mean = F.sum("sum_value").over(w) / F.sum("n").over(w).cast("double")
    hour_mean = F.col("sum_value") / F.col("n").cast("double")
    return cells.select(
        "event_type",
        "hod",
        "n",
        (F.round(hour_mean, 4) + F.lit(0.0)).alias("avg_value"),
        (F.round(hour_mean / overall_mean, 4) + F.lit(0.0)).alias("lift"),
    ).orderBy("event_type", "hod")


def time_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion distribution: per user, seconds from their first
    event of any kind to their first purchase, summarized as exact
    count/min/max plus interpolated quartiles and p90 — the activation-
    latency metric of growth analytics.

    Single groupBy pass computes both firsts (conditional min), then one
    1-row percentile aggregate; percentile interpolation over bigint
    seconds is deterministic cross-engine.
    """
    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    per_user = (
        e.select("user_id", "event_type", sec.alias("sec"))
        .groupBy("user_id")
        .agg(
            F.min("sec").alias("first_sec"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("sec"))).alias(
                "first_purchase_sec"
            ),
        )
        .where(F.col("first_purchase_sec").isNotNull())
        .select(
            (F.col("first_purchase_sec") - F.col("first_sec")).alias("latency_sec")
        )
    )
    pct = lambda p: F.expr(f"percentile(latency_sec, {p})")
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("latency_sec").alias("min_sec"),
        (F.round(pct(0.25), 4) + F.lit(0.0)).alias("p25_sec"),
        (F.round(pct(0.5), 4) + F.lit(0.0)).alias("p50_sec"),
        (F.round(pct(0.9), 4) + F.lit(0.0)).alias("p90_sec"),
        F.max("latency_sec").alias("max_sec"),
    )


def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) next to that day's DAU —
    the engagement ratio pair behind stickiness dashboards.

    Windowed COUNT(DISTINCT) does not decompose into a range frame, so
    the scalable trick is bounded expansion: reduce to distinct
    (user, day) presence rows (partial-agg, tiny), then explode each
    presence onto the <=7 calendar days it keeps the user "active" for,
    and count distinct users per contributed day.  The expansion factor
    is the window length — constant — so the shuffle stays proportional
    to |users|·|days|, never to raw event volume.  Days with zero events
    inside the observed range still appear via the presence of
    contributions from earlier days.
    """
    e = load_table(spark, sf_dir, "events")
    presence = (
        e.select(
            "user_id", F.to_date(F.col("ts").cast("timestamp")).alias("day")
        )
        .distinct()
    )
    bounds = presence.agg(F.max("day").alias("max_day"))
    contrib = (
        presence.select(
            "user_id",
            "day",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        )
        .select(
            "user_id", "day", F.date_add(F.col("day"), F.col("off")).alias("wday")
        )
        .crossJoin(F.broadcast(bounds))
        .where(F.col("wday") <= F.col("max_day"))
    )
    wau = contrib.groupBy(F.col("wday").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = presence.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        wau.join(dau, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("dau", F.lit(0)).alias("dau"),
            "wau",
            (F.round(F.coalesce("dau", F.lit(0)).cast("double") / F.col("wau"), 4) + F.lit(0.0)).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


def user_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed flagship #2: assemble a per-user FEATURE-STORE table from
    the raw event stream in one logical plan — activity volume, session
    count (30-min gap sessionization), distinct active days, exact
    purchase revenue cents, behavioral entropy, mean inter-arrival
    seconds, and recency vs the corpus horizon.  This is the offline
    feature-build job that sits in front of every churn/propensity model.

    Plan shape: ONE scan of events feeds (a) a lag-window sessionizer and
    (b) a (user, type) count — both keyed on user_id so the exchanges
    co-locate; the global horizon enters as a broadcast 1-row aggregate,
    never a driver scalar.  All means derive from exact integer
    sums/spans (span/(n-1) mean inter-arrival), so floats appear only in
    the final rounded projection.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    base = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        sec.alias("sec"),
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    sess = base.withColumn(
        "new_sess",
        F.when(
            F.col("sec") - F.lag("sec").over(w) <= 1800, F.lit(0)
        ).otherwise(F.lit(1)),
    )
    per_user = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("day").alias("days_active"),
        F.sum("new_sess").alias("n_sessions"),
        F.min("sec").alias("first_sec"),
        F.max("sec").alias("last_sec"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents("value")).otherwise(
                F.lit(0)
            )
        ).alias("purchase_cents"),
    )
    per_type = base.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    ent = per_type.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.col("c").cast("double") * F.log2(F.col("c").cast("double"))
        ).alias("sum_clog"),
    )
    horizon = base.agg(F.max("sec").alias("horizon_sec"))
    joined = per_user.join(ent, "user_id").crossJoin(F.broadcast(horizon))
    entropy = F.log2(F.col("n_events").cast("double")) - F.col("sum_clog") / F.col(
        "n_events"
    ).cast("double")
    mean_gap = F.when(
        F.col("n_events") > 1,
        (F.col("last_sec") - F.col("first_sec")).cast("double")
        / (F.col("n_events") - 1).cast("double"),
    )
    return joined.select(
        "user_id",
        "n_events",
        "days_active",
        "n_sessions",
        "n_types",
        "purchase_cents",
        (F.round(entropy, 4) + F.lit(0.0)).alias("entropy_bits"),
        (F.round(mean_gap, 2) + F.lit(0.0)).alias("mean_gap_sec"),
        F.floor(
            (F.col("horizon_sec") - F.col("last_sec")) / F.lit(86400.0)
        ).alias("recency_days"),
    ).orderBy("user_id")


def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM'13): the
    per-user purchase metric is adjusted by a pre-exposure covariate
    (the user's non-purchase activity count) before bucket means are
    compared — Y' = Y - θ·(X - E[X]), θ = cov(X,Y)/var(X) — shrinking
    metric variance without biasing the treatment/control delta (E[X] is
    assignment-independent).

    Determinism: θ enters through EXACT integer sums (ΣX, ΣY, ΣXY, ΣX²
    as DECIMAL(38,0) of per-user longs — order-free), with a single
    double division; the adjusted means replay the identical expression
    tree in the oracle.  Scale: one user-keyed aggregation, one 2-row
    bucket aggregation, a broadcast of the 1-row global moments — no
    per-row Python anywhere.
    """
    e = load_table(spark, sf_dir, "events")
    bucket = F.when(
        ((F.col("user_id") % F.lit(_AB_MOD)) * F.lit(_AB_PRIME)) % F.lit(_AB_MOD) % F.lit(2) == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    per_user = (
        e.select("user_id", bucket.alias("bucket"), "event_type", "value")
        .groupBy("user_id", "bucket")
        .agg(
            F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase", cents("value")
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("y"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    glob = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
    )
    per_bucket = per_user.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(dec(F.col("x"))).alias("sxb"),
        F.sum(dec(F.col("y"))).alias("syb"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    # var(X)=0 (degenerate cohort / single user) => no adjustment; under
    # Spark 4 ANSI even double/0.0 throws DIVIDE_BY_ZERO
    theta = F.when(
        den != 0.0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / den,
    ).otherwise(F.lit(0.0))
    mean_y = F.col("syb").cast("double") / F.col("n_users")
    mean_xb = F.col("sxb").cast("double") / F.col("n_users")
    mean_x = F.col("sx").cast("double") / F.col("n").cast("double")
    adj = mean_y - theta * (mean_xb - mean_x)
    return (
        per_bucket.join(F.broadcast(glob))
        .select(
            "bucket",
            "n_users",
            (F.round(mean_y, 6) + F.lit(0.0)).alias("mean_purchase_cents"),
            (F.round(adj, 6) + F.lit(0.0)).alias("cuped_adj_purchase_cents"),
        )
        .orderBy("bucket")
    )


def interpolate_linear_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling by LINEAR interpolation — the companion to
    :func:`locf_gap_fill` for continuous metrics: silent hours on the
    densified (event_type, hour) grid get the straight-line value between
    the nearest observed hours (edges clamp to the nearest observation).

    The grid carries an exact integer hour index (position in the spine)
    so the interpolation fraction is a ratio of small integers — no
    timezone-dependent epoch math, identical in both engines.

    Scale: identical shape to LOCF — raw events aggregate to the
    (type, hour) grain first; the two ignore-nulls windows (previous /
    next observation) run over the tiny rolled-up grid.  State per
    window is one row; the only data-scale shuffle is the initial
    aggregation.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type").agg(
        decimal_sum(F.col("value").cast("decimal(18,2)"), scale=2).alias("v"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.posexplode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
        ).alias("idx", "hour")
    )
    types = ev.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    wp = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    j = grid.join(hourly, ["hour", "event_type"], "left").select(
        "hour",
        "event_type",
        "idx",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("idx")), ignorenulls=True)
        .over(wp)
        .alias("pi"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(F.when(F.col("v").isNotNull(), F.col("idx")), ignorenulls=True)
        .over(wn)
        .alias("ni"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("idx") - F.col("pi")) * F.lit(1.0) / (F.col("ni") - F.col("pi"))
    )
    value = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(interp)
    )
    return j.select(
        F.date_format("hour", _FMT).alias("hour"),
        "event_type",
        F.col("v").isNull().alias("filled"),
        (F.round(value, 6) + F.lit(0.0)).alias("value_interp"),
    )


def ks_statistic_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the control and
    treatment buckets' purchase-value distributions: D = max |F₁(v) −
    F₂(v)| over the pooled value grid — the nonparametric
    did-the-experiment-shift-the-distribution test (metric means can
    agree while shapes diverge).

    Implementation: purchase values in exact cents aggregate to
    (value → per-bucket counts); running-sum windows over the distinct
    value grid build both empirical CDFs in ONE pass (the sorted-merge
    formulation); D is a max — associative and order-free, so the
    result is deterministic despite double CDF values.  Scale: the
    window runs over distinct values, not raw events; the raw scan
    aggregates first.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    bucket = F.when(
        ((F.col("user_id") % F.lit(_AB_MOD)) * F.lit(_AB_PRIME)) % F.lit(_AB_MOD) % F.lit(2) == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    pv = (
        e.filter(F.col("event_type") == "purchase")
        .select(cents("value").alias("v"), bucket.alias("bucket"))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("bucket") == "control", 1).otherwise(0))
            .cast("long")
            .alias("c_ctrl"),
            F.sum(F.when(F.col("bucket") == "treatment", 1).otherwise(0))
            .cast("long")
            .alias("c_trt"),
        )
    )
    tot = pv.agg(
        F.sum("c_ctrl").alias("n_ctrl"), F.sum("c_trt").alias("n_trt")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdfs = (
        pv.join(F.broadcast(tot))
        .withColumn("cum_ctrl", F.sum("c_ctrl").over(w))
        .withColumn("cum_trt", F.sum("c_trt").over(w))
    )
    gap = F.abs(
        F.col("cum_ctrl").cast("double") / F.col("n_ctrl")
        - F.col("cum_trt").cast("double") / F.col("n_trt")
    )
    return cdfs.groupBy("n_ctrl", "n_trt").agg(
        (F.round(F.max(gap), 6) + F.lit(0.0)).alias("ks_stat")
    )


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-seen month,
    cumulative purchase revenue per cohort member at each month offset —
    the LTV triangle finance teams project retention revenue from (the
    money-dimension companion to cohort_retention's user counts).

    Determinism: week arithmetic is pure integers (epoch-day div 7 — no
    months_between floats), revenue accumulates as exact cents under an
    ordered window, and the per-user division is a single rounded op.
    Scale: one user-keyed first-seen aggregation, a co-partitioned
    user join, then O(cohorts × offsets) rows for the cumulative
    window — the raw event volume only feeds the first two exchanges.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        # ISO-Monday-anchored epoch week: pure integer day arithmetic
        F.floor(F.datediff(F.to_date("ts"), F.lit("1970-01-05")) / 7)
        .cast("long")
        .alias("wk"),
    )
    first = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = first.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        e.join(first, "user_id")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).cast("long").alias("week_offset"),
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
            ).alias("rev_cents")
        )
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.withColumn("cum_cents", F.sum("rev_cents").over(w))
        .join(F.broadcast(sizes), "cohort_wk")
        .select(
            "cohort_wk",
            "week_offset",
            "cohort_users",
            "cum_cents",
            (
                F.round(F.col("cum_cents").cast("double") / F.col("cohort_users"), 4)
                + F.lit(0.0)
            ).alias("ltv_cents_per_user"),
        )
        .orderBy("cohort_wk", "week_offset")
    )


def kaplan_meier_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-repurchase: per user, the
    gap in days between first and second purchase (second purchase =
    event; single-purchase users are administratively censored at the
    global max date) — the product-limit estimator (Kaplan & Meier,
    JASA 1958) powering retention/churn survival analysis.

    Determinism: risk sets and event counts are exact integers from one
    ordered window over DISTINCT gap-days; the survival product runs as
    exp(Σ ln(1−d/n)) with each ln term rounded to 12 dp and summed as
    DECIMAL(28,12) — an ordered float cumprod would drift, a decimal
    cumsum cannot.  Times where d = n (survival hits exact 0) are
    excluded from terms by construction of the guard.  Scale: events
    aggregate to per-user firsts, then to the distinct-day grain — the
    KM windows run over O(distinct days), never raw events.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("d")
    )
    maxd = e.agg(F.to_date(F.max("ts")).alias("maxd"))
    w_u = Window.partitionBy("user_id").orderBy("d")
    per_user = (
        p.withColumn("rn", F.row_number().over(w_u))
        .filter(F.col("rn") <= 2)
        .groupBy("user_id")
        .agg(
            F.min("d").alias("first_d"),
            F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("second_d"),
        )
    )
    subjects = per_user.join(F.broadcast(maxd)).select(
        F.coalesce(
            F.datediff("second_d", "first_d"), F.datediff("maxd", "first_d")
        ).alias("t"),
        F.col("second_d").isNotNull().alias("observed"),
    )
    times = subjects.groupBy("t").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).cast("long").alias("d_events"),
        F.sum(F.when(F.col("observed"), 0).otherwise(1)).cast("long").alias("c_censored"),
        F.count(F.lit(1)).alias("n_at_t"),
    )
    n_tot = subjects.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = (
        times.join(F.broadcast(n_tot))
        .withColumn(
            "n_risk",
            F.col("n_total") - F.coalesce(F.sum("n_at_t").over(w_prev), F.lit(0)),
        )
    )
    ln_term = F.when(
        (F.col("d_events") > 0) & (F.col("d_events") < F.col("n_risk")),
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d_events")).cast("double")
                / F.col("n_risk")
            ),
            12,
        ),
    ).otherwise(F.lit(0.0))
    return (
        at_risk.withColumn(
            "cum_ln", F.sum(ln_term.cast("decimal(28,12)")).over(w_cum)
        )
        .filter(F.col("d_events") > 0)
        .select(
            F.col("t").alias("t_days"),
            "n_risk",
            "d_events",
            "c_censored",
            (F.round(F.exp(F.col("cum_ln").cast("double")), 6) + F.lit(0.0)).alias(
                "survival"
            ),
        )
        .orderBy("t_days")
    )


def attribution_models_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution under three models at once: each purchase
    credits its view/click touchpoints from the preceding 7 days —
    fully to the FIRST touch, fully to the LAST touch, and 1/k each
    under LINEAR — reported per touch type.  The side-by-side that
    shows how model choice moves budget between upper-funnel (view) and
    lower-funnel (click) channels.

    Determinism: touch ordering ties break on event_id; linear 1/k
    credits round to 9 dp and sum as DECIMAL(18,9) (float credit sums
    are order-dependent).  Scale: the touch-to-purchase join is
    user-co-partitioned with the window bound (7 days) limiting
    fan-out; all three models come from ONE ranked join — not three
    scans.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("touch_type"),
    )
    joined = purchases.join(touches, "user_id").filter(
        (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("interval 7 days"))
    )
    w_first = Window.partitionBy("p_id").orderBy(F.col("t_ts").asc(), F.col("t_id").asc())
    w_last = Window.partitionBy("p_id").orderBy(F.col("t_ts").desc(), F.col("t_id").desc())
    w_k = Window.partitionBy("p_id")
    ranked = (
        joined.withColumn("rk_f", F.row_number().over(w_first))
        .withColumn("rk_l", F.row_number().over(w_last))
        .withColumn("k", F.count(F.lit(1)).over(w_k))
    )
    return (
        ranked.groupBy("touch_type")
        .agg(
            F.sum(F.when(F.col("rk_f") == 1, 1).otherwise(0))
            .cast("long")
            .alias("first_touch_convs"),
            F.sum(F.when(F.col("rk_l") == 1, 1).otherwise(0))
            .cast("long")
            .alias("last_touch_convs"),
            F.round(
                F.sum(
                    F.round(F.lit(1.0) / F.col("k"), 9).cast("decimal(18,9)")
                ).cast("double"),
                4,
            ).alias("linear_credit"),
        )
        .orderBy("touch_type")
    )


def bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of 30-min-gap sessions containing exactly
    one event, by session start date — the engagement KPI that pairs
    with sessionize_users' per-user rollup.

    Scale: the same single user_id exchange as sessionize_users (lag +
    conditional cumsum share one window spec), then a tiny day-grain
    aggregate.  Determinism: integer counts, one rounded division.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select("user_id", "event_id", "ts", F.lag("ts", 1).over(w).alias("prev_ts"))
    is_new = F.when(
        F.col("prev_ts").isNull() | F.expr("ts - prev_ts > INTERVAL '30' MINUTE"), 1
    ).otherwise(0)
    sess = lagged.select(
        "user_id",
        "ts",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.to_date(F.min("ts")).alias("day"),
    )
    return (
        per_session.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_sessions",
            "n_bounces",
            (
                F.round(F.col("n_bounces") / F.col("n_sessions"), 6) + F.lit(0.0)
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


def rolling_corr_revenue_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day rolling correlation between daily purchase revenue and
    daily active users — the metric-coupling monitor ("is revenue still
    tracking engagement?") whose breakdowns flag monetization shifts.

    Determinism: Pearson over the window is computed from EXACT integer
    moments (Σx, Σy, Σxx, Σyy, Σxy of dollar/user counts as window sums
    of longs) — never a float corr aggregate, whose Welford order
    differs between engines; the two variance factors cast to double
    BEFORE multiplying (their int64 product would overflow).  Zero
    variance inside a window yields NULL (guarded — ANSI division).
    Scale: raw events reduce to the daily grain first; the window runs
    over O(days).
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", cents("value"))),
            F.lit(0),
        ).alias("xc"),
        F.countDistinct("user_id").alias("y"),
    ).select(
        "day",
        # integer floor-div to whole dollars (float / then cast would
        # truncate in Spark but ROUND in DuckDB — engine mismatch)
        F.expr("xc div 100").alias("x"),
        "y",
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    s = (
        daily.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum("x").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sxx", F.sum(F.col("x") * F.col("x")).over(w))
        .withColumn("syy", F.sum(F.col("y") * F.col("y")).over(w))
        .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(w))
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    corr = F.when(
        (vx > 0) & (vy > 0),
        F.round(num / F.sqrt(vx.cast("double") * vy.cast("double")), 4) + F.lit(0.0),
    )
    return s.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        "y",
        corr.alias("corr_14d"),
    ).orderBy("day")


def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event paths (A→B→C) per ordered user stream —
    one more lag over the SAME window as the bigram miner, extending
    path mining to the depth where funnel shapes become visible.

    Scale: still exactly one user_id exchange (all lags share the
    window spec); the count keys on the tiny |types|³ space.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("t1", F.lag("event_type", 2).over(w))
        .withColumn("t2", F.lag("event_type", 1).over(w))
        .where(F.col("t1").isNotNull())
    )
    return (
        tri.groupBy(
            F.col("t1").alias("step1"),
            F.col("t2").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "step1", "step2", "step3")
        .limit(10)
    )


def asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a tolerance window: for every 'click', the
    NEXT 'purchase' by the same user within 1 hour (click-to-conversion
    matching).  Complements asof_join_purchase (backward, unbounded).

    Scale-correct composition — NOT a range join: union both streams
    tagged, one window per user ordered by (ts, event_id) DESCENDING
    carrying the nearest following purchase timestamp backwards
    (first non-null over the reversed frame), then keep clicks and apply
    the tolerance as a filter.  One shuffle on user_id, linear work;
    tolerance filtering never materializes out-of-window candidates.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    with_next = tagged.withColumn(
        "next_purchase_ts", F.last("p_ts", ignorenulls=True).over(w)
    ).filter(F.col("event_type") == "click")
    lat = (
        F.col("next_purchase_ts").cast("timestamp").cast("double")
        - F.col("ts").cast("timestamp").cast("double")
    )
    return with_next.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("click_ts"),
        F.when(lat <= 3600.0, F.date_format("next_purchase_ts", fmt)).alias(
            "purchase_ts_raw"
        ),
        F.coalesce(
            F.when(lat <= 3600.0, F.round(lat, 6)), F.lit(-1.0)
        ).alias("latency_sec"),
    ).select(
        "event_id",
        "user_id",
        "click_ts",
        F.coalesce("purchase_ts_raw", F.lit("")).alias("purchase_ts"),
        "latency_sec",
    )


def sequential_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining (pair level): for every ordered pair of
    event types (A, B), in how many user-days does A occur strictly
    before some later B — the "A eventually followed by B" support that
    seeds funnel discovery (gaps allowed, unlike the adjacent-only
    transition matrix).

    Scale: raw events collapse to one row per (user, day, type) carrying
    min/max ts (partial agg before the shuffle), so the within-user-day
    self-join is bounded by |types|² per user-day — a constant — never by
    event volume.  Support occurrence test: min_ts(A) < max_ts(B).
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        "event_type",
        F.col("ts").cast("timestamp").cast("double").alias("sec"),
    )
    spans = base.groupBy("user_id", "day", "event_type").agg(
        F.min("sec").alias("min_sec"), F.max("sec").alias("max_sec")
    ).localCheckpoint(eager=False)  # three consumers: both pair-join
    # sides + the day count.  localCheckpoint, not persist: blocks free via
    # ContextCleaner on GC instead of accumulating in CacheManager across
    # the grading driver's long single-session run
    n_user_days = spans.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n_days")
    )
    a = spans.alias("a")
    b = spans.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") != F.col("b.event_type"))
            & (F.col("a.min_sec") < F.col("b.max_sec")),
        )
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("n_user_days"))
    )
    return (
        pairs.crossJoin(F.broadcast(n_user_days))
        .select(
            "antecedent",
            "consequent",
            "n_user_days",
            (F.round(F.col("n_user_days").cast("double") / F.col("n_days"), 6) + F.lit(0.0)).alias("support"),
        )
        .orderBy("antecedent", "consequent")
    )


def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user counts per event type via Spark's bitmap
    aggregate family — the scale path for exact COUNT(DISTINCT) at
    100 TB: user ids are folded into fixed 4 KB bitmaps per
    (type, bucket) on the map side, so the shuffle carries bitmaps, not
    raw ids, and merge is a bitwise OR (bitmap_or_agg).  Contrast with
    approx HLL (hll_rollup_customers) and with a naive countDistinct
    whose shuffle is proportional to |distinct ids|.

    Oracle: plain COUNT(DISTINCT user_id) — the bitmap pipeline must be
    bit-for-bit exact.
    """
    ev = load_table(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_users"))
        .orderBy("event_type")
    )


def lateness_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning audit: treating event_id as arrival order within
    each user's stream, measure per-event lateness (running-max event
    time minus event time) and report how many events a watermark of
    δ ∈ {0, 60, 300, 1800, 3600} seconds would drop — the offline
    analysis that picks `withWatermark` before deploying a streaming
    job.

    Scale: one window partitioned by user (arrival is per-ingest-shard
    in practice), then a 5-way bounded expansion over the δ grid —
    shuffle proportional to |events|·5 skinny rows with map-side
    combine.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("sec"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = base.select(
        (F.max("sec").over(w) - F.col("sec")).alias("lateness_sec")
    )
    total = late.agg(F.count(F.lit(1)).alias("n_total"))
    deltas = spark.range(0, 5).select(
        F.element_at(
            F.array(F.lit(0), F.lit(60), F.lit(300), F.lit(1800), F.lit(3600)),
            (F.col("id") + 1).cast("int"),
        ).alias("delta_sec")
    )
    return (
        late.crossJoin(F.broadcast(deltas))
        .groupBy("delta_sec")
        .agg(
            F.sum(
                F.when(F.col("lateness_sec") > F.col("delta_sec"), 1).otherwise(0)
            ).alias("n_late")
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("delta_sec").cast("bigint").alias("delta_sec"),
            "n_late",
            (F.round(F.col("n_late").cast("double") / F.col("n_total"), 6) + F.lit(0.0)).alias("frac_late"),
        )
        .orderBy("delta_sec")
    )


def conversion_rate_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B conversion readout: per deterministic hash bucket,
    the Beta posterior over conversion rate under the Jeffreys prior
    Beta(1/2, 1/2) — posterior mean and sd in closed form, the shrunken
    estimate an experimentation platform reports next to the raw rate
    (complements ab_test_lift's frequentist readout and CUPED).

    Scale: identical shape to ab_test_lift — per-user partial agg, then
    a 2-group rollup; the posterior math is constant-time arithmetic on
    the 2-row result.
    """
    e = load_table(spark, sf_dir, "events")
    bucket = F.when(
        ((F.col("user_id") % F.lit(_AB_MOD)) * F.lit(_AB_PRIME)) % F.lit(_AB_MOD) % F.lit(2) == 0,
        F.lit("control"),
    ).otherwise(F.lit("treatment"))
    per_user = (
        e.select("user_id", bucket.alias("bucket"), "event_type")
        .groupBy("user_id", "bucket")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
    )
    per_bucket = per_user.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("converters"),
    )
    a = F.col("converters") + 0.5
    b = F.col("n_users") - F.col("converters") + 0.5
    mean = a / (a + b)
    var = a * b / ((a + b) * (a + b) * (a + b + 1.0))
    return per_bucket.select(
        "bucket",
        "n_users",
        "converters",
        (F.round(F.col("converters").cast("double") / F.col("n_users"), 6) + F.lit(0.0)).alias("raw_rate"),
        (F.round(mean, 6) + F.lit(0.0)).alias("post_mean"),
        (F.round(F.sqrt(var), 6) + F.lit(0.0)).alias("post_sd"),
    ).orderBy("bucket")


def audience_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every ordered pair of event types,
    the Jaccard similarity of their user sets — the cross-channel
    audience report an ads/analytics platform computes.

    Scale: events collapse to DISTINCT (type, user) first; the pair
    join is keyed on user (co-partitioned, |types|² bounded per user),
    and per-type set sizes broadcast into the final 25-row projection.
    """
    ev = load_table(spark, sf_dir, "events")
    # three consumers (both join sides + sizes): persist the reduced set
    aud = ev.select("event_type", "user_id").distinct().localCheckpoint(eager=False)
    sizes = aud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = aud.alias("a")
    b = aud.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.round(
                    F.col("n_common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


def twap_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per day: each observation is
    weighted by how long it remains "current" (seconds until the next
    event that day, last one weighted to midnight) — the metric shape
    of telemetry/pricing pipelines where sampling is irregular and the
    arithmetic mean over-weights bursts.

    Scale: one window (lead) per day partition, then an exact
    integer-weighted aggregate — weights are whole seconds, values
    whole cents, so the weighted sums are exact on both engines.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        F.col("ts").cast("timestamp").cast("double").alias("sec"),
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cv"),
    )
    w = Window.partitionBy("day").orderBy("sec", "event_id")
    nxt = F.lead("sec").over(w)
    day_end = F.col("day").cast("timestamp").cast("double") + 86400.0
    weighted = base.select(
        "day",
        "cv",
        F.floor(F.coalesce(nxt, day_end) - F.col("sec")).cast("bigint").alias("w_sec"),
    )
    return (
        weighted.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("w_sec") * F.col("cv")).alias("wsum"),
            F.sum("w_sec").alias("wtot"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            (
                F.round(
                    F.when(
                        F.col("wtot") > 0,
                        F.col("wsum").cast("double") / F.col("wtot") / 100.0,
                    ).otherwise(F.lit(0.0)),
                    4,
                )
                + F.lit(0.0)
            ).alias("twap_value"),
        )
        .orderBy("day")
    )


# --- round-4 additions ------------------------------------------------

DECAY = 0.9
_GDPR_MOD = 2147483647
_GDPR_PRIME = 2654435761
_GDPR_SHARE = 0.05  # erase ~5% of users


def time_decayed_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score per user: fold the
    user's events in time order with score ← score·0.9 + value — the
    recency-weighted feature every ranking/churn model derives from an
    event log, expressed as a JVM-side ordered F.aggregate fold (the
    same ordered-recurrence surface as holt_linear_forecast; SES with
    per-event steps).  Complements time_decayed_user_value, which is the
    CLOSED-FORM wall-clock variant (Σ value·exp(−λ·age)); this one is
    the step-recurrence EWMA whose weight depends on event ORDER, the
    form session-based recommenders use.

    Determinism: the fold order is pinned by (ts, event_id) — event_id
    is unique — via array_sort of structs; each step is the identical
    double expression on both engines, so the fold is bit-reproducible.
    Scale: ONE shuffle keyed on user_id; state per user is its event
    array (bounded by per-user activity, the same contract as
    sessionization).
    """
    ev = load_table(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts").alias("ts"),
                F.col("event_id").alias("eid"),
                F.col("value").cast("double").alias("v"),
            )
        )
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), arr.alias("a")
    )
    xs = F.transform(F.col("a"), lambda s: s.getField("v"))
    folded = F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.element_at(xs, 1),
        lambda acc, v: acc * F.lit(DECAY) + v,
    )
    return per_user.select(
        "user_id",
        "n_events",
        (F.round(folded, 6) + F.lit(0.0)).alias("decayed_score"),
    ).orderBy("user_id")


def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure audit: a deterministic ~5% of users (selected by
    multiplicative hash — standing in for a deletion-request table) are
    erased from the event log via a broadcast ANTI-join, and the audit
    reports per event type how many rows survive and how many were
    erased — the compliance report a data-retention pipeline emits with
    every erasure batch.  Complements gdpr_delete_propagation (the
    relational customer→orders→lineitem CASCADE): this is the
    event-log side, where erasure is a tombstone anti-join against a
    request list rather than a key cascade.

    Determinism: the erasure set is a pure hash predicate (invariant #7
    ordering: reduce mod 2^31−1 before the prime multiply); shares are
    exact-integer quotients rounded in scaled-integer space.  Scale: the
    erasure list is |requests| rows (broadcast side of the anti-join);
    the log streams through one scan + one group-by — at 100 TB the
    anti-join is the standard tombstone-application plan.
    """
    ev = load_table(spark, sf_dir, "events")
    h = (
        (F.col("user_id") % F.lit(_GDPR_MOD)) * F.lit(_GDPR_PRIME)
    ) % F.lit(_GDPR_MOD)
    erase = (
        ev.select("user_id")
        .distinct()
        .where(h < F.lit(int(_GDPR_SHARE * _GDPR_MOD)))
    )
    kept = ev.join(F.broadcast(erase), "user_id", "left_anti")
    before = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_before"))
    after = kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_after"))
    share4 = (
        F.round(
            (F.col("n_before") - F.coalesce(F.col("n_after"), F.lit(0)))
            * 10000.0
            / F.col("n_before")
        )
        .cast("bigint")
        .cast("double")
        / 10000.0
    )
    return (
        before.join(after, "event_type", "left")
        .select(
            "event_type",
            "n_before",
            F.coalesce(F.col("n_after"), F.lit(0)).alias("n_after"),
            (F.col("n_before") - F.coalesce(F.col("n_after"), F.lit(0))).alias(
                "n_erased"
            ),
            (share4 + F.lit(0.0)).alias("erased_share"),
        )
        .orderBy("event_type")
    )


def cogroup_purchase_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase behavioral context via the COGROUP surface — the one
    pandas-API entry point the engine had not yet exercised:
    ``groupBy(...).cogroup(other.groupBy(...)).applyInPandas`` hands each
    user's purchases AND their other events to one Arrow-batched Python
    function, which computes for every purchase (a) how many
    non-purchase events the user produced in the preceding hour and
    (b) seconds since the user's previous purchase.  The per-key
    two-table merge is what cogroup exists for (feature backfills,
    session stitching, label attachment).

    Determinism: all arithmetic on exact epoch-microsecond int64s; the
    boundary is mirrored exactly in the SQL oracle (strictly-before
    ``o.ts < p.ts``, inclusive ``o.ts >= p.ts − 1h``); purchase order is
    (ts, event_id) — unique.  Scale: ONE co-partitioned shuffle on
    user_id; each task sees one user's two sorted frames (bounded by
    per-user activity, the sessionization contract); numpy searchsorted
    keeps the per-key merge O((n+m) log m), no per-row Python loop.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    # the right side's column gets a DISTINCT name: both children derive
    # from ONE scan, so their attributes share ids — Spark's cogroup
    # dedup/pruning then renames the right-side duplicate and the Python
    # function receives a frame WITHOUT the expected column (surfaced as
    # every group seeing an empty other-side).  A unique name sidesteps
    # the conflict entirely.
    others = ev.where(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("o_ts")
    )

    def context(key, p_pdf, o_pdf):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np
        import pandas as pd

        if len(p_pdf) == 0:
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "event_id": pd.Series(dtype="int64"),
                    "n_prior_events_1h": pd.Series(dtype="int64"),
                    "secs_since_prev_purchase": pd.Series(dtype="float64"),
                }
            )
        p = p_pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # pin epoch-MICROsecond resolution explicitly — Arrow→pandas may
        # hand back datetime64[ns] or [us] depending on pandas version
        p_us = p["ts"].to_numpy(dtype="datetime64[us]").astype("int64")
        # a key absent from one side arrives as a COLUMN-LESS empty pdf
        if "o_ts" in o_pdf.columns:
            o_us = np.sort(
                o_pdf["o_ts"].to_numpy(dtype="datetime64[us]").astype("int64")
            )
        else:
            o_us = np.empty(0, dtype="int64")
        hour = 3_600_000_000
        # count of other events with  p_ts - 1h <= o_ts < p_ts
        hi = np.searchsorted(o_us, p_us, side="left")
        lo = np.searchsorted(o_us, p_us - hour, side="left")
        n_prior = (hi - lo).astype("int64")
        prev_us = np.concatenate(([np.int64(-1)], p_us[:-1]))
        secs = (p_us - prev_us) // 1_000_000
        secs = secs.astype("float64")
        secs[0] = np.nan  # first purchase has no predecessor
        return pd.DataFrame(
            {
                "user_id": p["user_id"].astype("int64"),
                "event_id": p["event_id"].astype("int64"),
                "n_prior_events_1h": n_prior,
                "secs_since_prev_purchase": secs,
            }
        )

    out = (
        purchases.groupBy("user_id")
        .cogroup(others.groupBy("user_id"))
        .applyInPandas(
            context,
            schema=(
                "user_id long, event_id long, n_prior_events_1h long, "
                "secs_since_prev_purchase double"
            ),
        )
    )
    return out.select(
        "user_id",
        "event_id",
        "n_prior_events_1h",
        # DOUBLE, not bigint: the column is nullable, and the grading
        # driver fetches oracles through pandas where nullable ints
        # promote to float64 — an int64 Spark side would hash
        # '182028' vs '182028.0' (invariant #3 hazard class)
        (F.col("secs_since_prev_purchase") + F.lit(0.0)).alias(
            "secs_since_prev_purchase"
        ),
    ).orderBy("user_id", "event_id")


def event_runs_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user run-length encoding of the event-type sequence via a
    Python UDTF taking a TABLE ARGUMENT with PARTITION BY / ORDER BY
    (the Spark 4 polymorphic table-function surface this engine had not
    yet exercised — the lateral-apply variant is chunk_tokens_udtf):
    Spark feeds each user's rows to a fresh UDTF instance in (ts,
    event_id) order; eval() folds the run-length state and terminate()
    emits one row per user with the run count and the longest run
    (first-reached wins ties, which is what the strictly-greater update
    implements).

    Scale: the TABLE(... PARTITION BY user_id) contract IS the shuffle —
    one exchange on user_id, then a narrow ordered fold per partition
    (Arrow-batched; per-user sequential state like
    applyInPandasWithState, but in the SQL-callable form).  For a
    corpus-scale hot path the same answer comes from the islands SQL the
    oracle runs; the UDTF form is the extension-point demonstration (and
    is excluded from bench.py's headline for the same reason: per-row
    eval is the API's cost, not this engine's scale path — measured
    5.4s at sf0.1 vs well under 1s for the islands plan).
    """
    from pyspark.sql.functions import udtf

    # useArrow explicit: the registry-wide plan lint forbids
    # row-at-a-time BatchEvalPython; Arrow UDTF eval is the allowed form.
    @udtf(
        returnType=(
            "user_id long, n_runs int, longest_run_len int,"
            " longest_run_type string"
        ),
        useArrow=True,
    )
    class EventRuns:
        # self-contained: pickled by value (local class, builtins only)
        def __init__(self):
            self.user = None
            self.prev = None
            self.cur = 0
            self.n = 0
            self.best = 0
            self.best_t = None

        def eval(self, row):
            self.user = row["user_id"]
            t = row["event_type"]
            if t == self.prev:
                self.cur += 1
            else:
                self.n += 1
                self.cur = 1
                self.prev = t
            if self.cur > self.best:
                self.best = self.cur
                self.best_t = t

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, self.best, self.best_t

    spark.udtf.register("event_runs", EventRuns)
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__events_for_runs"
    )
    return spark.sql(
        """
        SELECT user_id, n_runs, longest_run_len, longest_run_type
        FROM event_runs(TABLE(__events_for_runs)
                        PARTITION BY user_id ORDER BY (ts, event_id))
        """
    )


def pii_pseudonymize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII pseudonymization with referential integrity:
    replace user/customer ids in BOTH the events fact and the customer
    dimension with an md5-derived 60-bit pseudonym (same recipe both
    sides, no salt table to leak), then prove analytics still work by
    joining ONLY on pseudonyms — per-segment event counts and distinct
    pseudonymous users.  This is the tokenize-at-ingest pattern a
    governed lakehouse applies so downstream jobs never see raw ids
    (complement of pii_mask_docs' free-text redaction).

    Scale: the pseudonym is a pure expression (no lookup table, no
    shuffle to tokenize); the join shape is unchanged — hash keys are
    just longer.  Collision risk at 60 bits is ~n²/2⁶¹.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")

    def pseud(col):
        return F.conv(
            F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
        ).cast("long")

    ev_p = ev.select(
        pseud(F.col("user_id")).alias("p_user"), "event_type"
    )
    cust_p = cust.select(
        pseud(F.col("c_custkey")).alias("p_user"), "c_mktsegment"
    )
    return (
        ev_p.join(F.broadcast(cust_p), "p_user")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("p_user").cast("bigint").alias("n_pseudonyms"),
        )
        .orderBy("c_mktsegment")
    )


# JSONL feed dirs per (session, fixture): a per-call mkdtemp would leak
# one feed dir per run of a 344-query sweep.
_CORRUPT_FEED_DIRS = SessionMemo(4)


def corrupt_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE malformed-record ingestion audit — the engine surface a
    real crawl/ETL pipeline hits daily: a JSONL feed where some lines
    are truncated garbage must load WITHOUT failing the job, quarantine
    the bad lines in ``_corrupt_record``, and report good-row rollups
    beside the corrupt count.

    The feed is derived deterministically from the events fixture
    (every 17th event_id is written as an unparseable fragment), so a
    SQL oracle over the clean table gates the whole
    write→PERMISSIVE-read→audit round trip.  The corrupt count is
    computed as total lines minus parsed-good rows — Spark disallows
    plans whose only referenced column is the internal corrupt-record
    column (SPARK-21610), and the subtraction shape also avoids caching
    the parsed frame.

    At 100 TB: PERMISSIVE parsing is per-partition streaming work (no
    shuffle until the rollup); the quarantine column rides the scan, so
    bad lines cost nothing extra, and the audit is two
    map-side-combinable aggregations.
    """
    import os

    def build() -> Owned:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", cents("value").alias("cents")
        )
        line = F.when(
            F.col("event_id") % 17 == 0,
            F.concat(F.lit('{"broken '), F.col("event_id").cast("string")),
        ).otherwise(
            F.to_json(F.struct("event_id", "user_id", "event_type", "cents"))
        )
        root = os.path.join(scratch_dir("corrupt_audit_"), "feed")
        ev.select(line.alias("value")).write.mode("overwrite").text(root)
        return Owned(root, dirs=(os.path.dirname(root),))

    root = _CORRUPT_FEED_DIRS.get(spark, sf_dir, ("events",), build)
    back = (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "cents bigint, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(root)
    )
    good = (
        back.where(F.col("_corrupt_record").isNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
    )
    n_lines = spark.read.text(root).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    n_good = good.agg(F.sum("n_rows").cast("long").alias("g"))
    corrupt = (
        n_lines.crossJoin(F.broadcast(n_good))
        .select(
            F.lit("_corrupt").alias("event_type"),
            # coalesce: an all-corrupt (or empty) feed makes SUM(n_rows)
            # NULL — the corrupt count must still be n, not NULL
            (F.col("n") - F.coalesce(F.col("g"), F.lit(0)))
            .cast("long")
            .alias("n_rows"),
            F.lit(0).cast("long").alias("cents_sum"),
        )
    )
    return good.unionByName(corrupt).orderBy("event_type")


def throttled_event_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cooldown throttling via Spark 4's native WITH RECURSIVE (the
    recursive-CTE engine surface, exercised on a semantics windows
    cannot express): per user, walk the event timeline sending a
    notification at the first event, then at the first event >= 2 days
    after the last SENT one (within a 7-day horizon) — the chain is
    data-dependent (each hop's position depends on the previous hop's
    VALUE), the classic case where window functions fail and per-row
    loops or recursion are required.

    Shape: the next-pointer table is ONE banded range self-join (each
    row probes only its 7-day horizon — bounded fan-out at any scale,
    never all-pairs; the horizon is part of the throttle SEMANTICS and
    is mirrored in the oracle), then the recursion walks pointer hops:
    each UnionLoop step is a co-partitioned join of the current frontier
    (<= |users| rows) against the next-pointer table.  Hop count is
    bounded by span/cooldown (~15 here, well under Spark's default
    cteRecursionLevelLimit of 100) — and since UnionLoop executes one
    JOB per hop, the cooldown also bounds the sequential-iteration bill
    (the 12h variant's ~58 hops cost 27 s of pure per-iteration
    overhead at sf0.01; hops, not data volume, dominate).

    Chain nodes key on (user_id, ts) — duplicate timestamps collapse, so
    both engines agree without an id tiebreak (invariant 3).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    ev.createOrReplaceTempView("__throttle_ev")
    return spark.sql(
        """
        WITH RECURSIVE u AS (
            SELECT DISTINCT user_id, ts FROM __throttle_ev
        ), nextp AS (
            SELECT a.user_id, a.ts, MIN(b.ts) AS nxt
            FROM u a JOIN u b
              ON b.user_id = a.user_id
             AND b.ts >= a.ts + INTERVAL 2 DAY
             AND b.ts <= a.ts + INTERVAL 7 DAY
            GROUP BY a.user_id, a.ts
        ), anchor AS (
            SELECT user_id, MIN(ts) AS ts FROM u GROUP BY user_id
        ), chain AS (
            SELECT user_id, ts FROM anchor
            UNION ALL
            SELECT n.user_id, n.nxt
            FROM chain c JOIN nextp n
              ON n.user_id = c.user_id AND n.ts = c.ts
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_sent,
               date_format(MIN(ts), 'yyyy-MM-dd HH:mm:ss') AS first_sent,
               date_format(MAX(ts), 'yyyy-MM-dd HH:mm:ss') AS last_sent
        FROM chain GROUP BY user_id ORDER BY user_id
        """
    )


def xml_props_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (Spark 4 native from_xml): an XML feed is
    derived deterministically from events (attributes + nested element),
    parsed back with an explicit schema, and rolled up — the
    write-side/parse-side pair proving the engine round-trips a third
    semi-structured wire format beside JSON (events_json_extract) and
    VARIANT (events_variant_extract).

    from_xml runs as a per-partition projection (no shuffle until the
    rollup); at 100 TB the parse cost rides the scan exactly like
    from_json.  Cents are quantized before the rollup (invariant 3).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", cents("value").alias("cents")
    )
    xml = F.concat(
        F.lit('<event id="'),
        F.col("event_id").cast("string"),
        F.lit('" type="'),
        F.col("event_type"),
        F.lit('"><cents>'),
        F.col("cents").cast("string"),
        F.lit("</cents></event>"),
    )
    parsed = ev.select(
        F.from_xml(
            xml, "_id BIGINT, _type STRING, cents BIGINT"
        ).alias("x")
    )
    return (
        parsed.groupBy(F.col("x._type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("x.cents").cast("long").alias("cents_sum"),
            F.min("x._id").cast("long").alias("first_event"),
            F.max("x._id").cast("long").alias("last_event"),
        )
        .orderBy("event_type")
    )
