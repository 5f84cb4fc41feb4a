"""Custom Python DataSource (Spark 4 DataSource API): a deterministic
synthetic document-metadata source with partitioned parallel reads.

This demonstrates the engine's source surface beyond file formats — the
DataSource V2 Python API (spark.dataSource.register → spark.read.format)
with proper split planning: the generator is pure arithmetic on doc_id,
so N partitions each produce a disjoint id range with no coordination,
exactly how a 100 TB synthetic/benchmark corpus generator scales (this
is the dbgen/dsdgen pattern: seedless, offset-addressable generation).

Determinism contract: every value is a closed-form function of doc_id
(multiplicative hash, CLAUDE.md rules — all arithmetic < 2^63), so the
same rows come back regardless of partition count, scheduling, or
retries — and a DuckDB oracle can regenerate the identical relation
from generate_series.

The DataSource/Reader classes are defined INSIDE the registration
function so cloudpickle serializes them by value (worker closures must
be self-contained; the grading driver's workers may not have this repo
on sys.path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_PRIME = 2654435761
_MOD = 2147483647

SCHEMA = "doc_id bigint, source string, n_tokens bigint, quality double"


def register_synthetic_source(spark: SparkSession) -> None:
    """Register the ``synthetic_docs`` format on this session (idempotent)."""
    from ..session import ensure_runtime_confs

    ensure_runtime_confs(spark)  # enables Python-source filter pushdown
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
        LessThanOrEqual,
    )

    class SyntheticDocsReader(DataSourceReader):
        # self-contained: builtins only; imports inside methods
        def __init__(self, options):
            self.n = int(options.get("n", 1000))
            self.num_partitions = int(options.get("partitions", 8))
            self.lo_bound = 0
            self.hi_bound = self.n

        def pushFilters(self, filters):
            """doc_id range predicates narrow the generated id interval —
            real pushdown: pruned ids are never generated, the split
            planner sees the narrowed interval, and fully-handled filters
            are consumed (not re-evaluated by Spark)."""
            for f in filters:
                handled = False
                if getattr(f, "attribute", None) == ("doc_id",) and isinstance(
                    getattr(f, "value", None), int
                ):
                    if isinstance(f, EqualTo):
                        self.lo_bound = max(self.lo_bound, f.value)
                        self.hi_bound = min(self.hi_bound, f.value + 1)
                        handled = True
                    elif isinstance(f, GreaterThan):
                        self.lo_bound = max(self.lo_bound, f.value + 1)
                        handled = True
                    elif isinstance(f, GreaterThanOrEqual):
                        self.lo_bound = max(self.lo_bound, f.value)
                        handled = True
                    elif isinstance(f, LessThan):
                        self.hi_bound = min(self.hi_bound, f.value)
                        handled = True
                    elif isinstance(f, LessThanOrEqual):
                        self.hi_bound = min(self.hi_bound, f.value + 1)
                        handled = True
                if not handled:
                    yield f

        def partitions(self):
            parts = []
            lo0, hi0 = self.lo_bound, max(self.hi_bound, self.lo_bound)
            span = hi0 - lo0
            per = max((span + self.num_partitions - 1) // self.num_partitions, 1)
            for i in range(self.num_partitions):
                lo, hi = lo0 + i * per, min(lo0 + (i + 1) * per, hi0)
                if lo < hi:
                    parts.append(InputPartition((lo, hi)))
            return parts or [InputPartition((0, 0))]

        def read(self, partition):
            lo, hi = partition.value
            for doc_id in range(lo, hi):
                h = (doc_id * 2654435761) % 2147483647
                yield (
                    doc_id,
                    f"src{doc_id % 20}",
                    20 + h % 50,
                    round((h % 1000) / 1000.0, 3),
                )

    class SyntheticDocsSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_docs"

        def schema(self):
            return "doc_id bigint, source string, n_tokens bigint, quality double"

        def reader(self, schema):
            return SyntheticDocsReader(self.options)

    spark.dataSource.register(SyntheticDocsSource)


def read_synthetic_docs(
    spark: SparkSession, n: int = 1000, partitions: int = 8
) -> DataFrame:
    register_synthetic_source(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("n", str(n))
        .option("partitions", str(partitions))
        .load()
    )


def synthetic_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query entry: scan the custom Python DataSource (500 docs, 8
    parallel splits) and aggregate per source — the oracle regenerates
    the identical relation in DuckDB from generate_series, proving the
    source is deterministic and partition-invariant.  (sf_dir unused:
    the source IS the data; signature kept for registry uniformity.)"""
    from pyspark.sql import functions as F

    del sf_dir
    docs = read_synthetic_docs(spark, n=500, partitions=8)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        # decimal sum: exact and order-free across partitions (CLAUDE.md)
        F.sum(F.col("quality").cast("decimal(18,3)"))
        .cast("double")
        .alias("sum_quality"),
    )


def register_synthetic_stream(spark: SparkSession) -> None:
    """Register ``synthetic_events_stream`` — a custom Python STREAMING
    DataSource (SimpleDataSourceStreamReader): a deterministic,
    offset-addressable event stream.  Offsets are {"idx": next_event_id},
    each micro-batch emits up to ``batch`` events until ``n`` total, and
    ``readBetweenOffsets`` replays any committed range exactly — the
    replayability contract exactly-once sinks rely on.

    Same closed-form generation as the batch source, so a drained stream
    is a fully oracle-checkable relation."""
    from ..session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
        # self-contained: builtins only (pickled by value to workers)
        def __init__(self, options):
            self.n = int(options.get("n", 1000))
            self.batch = int(options.get("batch", 100))

        def initialOffset(self):
            return {"idx": 0}

        def _rows(self, lo, hi):
            # a picklable ITERATOR (list_iterator), not a generator:
            # Spark's prefetching wrapper pickles the batch across the
            # driver↔worker boundary and drives it with next()
            out = []
            for i in range(lo, hi):
                h = (i * 2654435761) % 2147483647
                out.append((i, h % 97, "abcde"[h % 5], (h % 10000) / 100.0))
            return iter(out)

        def read(self, start):
            lo = start["idx"]
            hi = min(lo + self.batch, self.n)
            return self._rows(lo, hi), {"idx": hi}

        def readBetweenOffsets(self, start, end):
            return self._rows(start["idx"], end["idx"])

        def commit(self, end):
            pass  # nothing to clean up: generation is offset-addressable

    class SyntheticEventsStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_events_stream"

        def schema(self):
            return "event_id bigint, user_id bigint, action string, amount double"

        def simpleStreamReader(self, schema):
            return SyntheticEventsStreamReader(self.options)

    spark.dataSource.register(SyntheticEventsStreamSource)


def synthetic_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query entry: drain the custom streaming source (500 events in
    100-event micro-batches) through a streaming aggregation into a
    memory sink; the oracle regenerates the identical relation from
    generate_series.  Proves offset-based exactly-once delivery: any
    dropped or replayed batch would break the value-hash.  (sf_dir
    unused: the source IS the data.)"""
    import uuid

    from pyspark.sql import functions as F

    from ..streaming.windows import _drain_confs, _drained_table

    del sf_dir
    register_synthetic_stream(spark)
    stream = (
        spark.readStream.format("synthetic_events_stream")
        .option("n", "500")
        .option("batch", "100")
        .load()
    )
    agg = stream.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").alias("sum_ids"),
        F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("sum_amount"),
    )
    # Not _drain_to_memory: Trigger.AvailableNow drains only the first of
    # this Python source's five 100-event batches (100 of 500 rows), so
    # the query runs on the default trigger until processAllAvailable.
    sink = f"synth_stream_{uuid.uuid4().hex[:8]}"
    with _drain_confs(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    return _drained_table(spark, sink)
