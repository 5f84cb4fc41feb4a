"""Deduplication operators over ``documents`` (mandated extension surface:
exact, n-gram Jaccard, MinHash-LSH, SimHash — SURVEY.md §2.3 rows 7-8).

Algorithm notes (all composed from built-in DataFrame ops; no UDFs):

- *exact*: hash groupBy on content (or a key subset) keeping the smallest
  doc_id — the canonical-row rule that makes results deterministic.
- *n-gram Jaccard* (exact near-dup): word-3-gram shingle sets, self-join
  on shingle, |A∩B| / (|A|+|B|-|A∩B|).  Quadratic in matching pairs —
  the correctness baseline the sketch methods are judged against.
- *MinHash-LSH* (scale near-dup): 32 hash permutations over shingle
  hashes, banded 8×4; only documents sharing a band bucket become
  candidate pairs, then candidates are verified with exact Jaccard.
  At j≥0.9 the banding scheme's recall is 1-(1-0.9^4)^8 ≈ 0.9998.
- *SimHash*: 64-bit sign-aggregated token-hash sketch; near-dups are
  pairs within Hamming distance ≤3, found by the 4×16-bit chunk
  pigeonhole (≤3 flips ⇒ some chunk equal) — join per chunk, never
  all-pairs; 16-bit chunks keep buckets thin even on clustered sketches.

Scale: the LSH/SimHash paths shuffle O(docs × bands) small rows instead
of all-pairs; candidate verification touches only bucket-mates.  Skewed
buckets (boilerplate shingles) are the classic hazard — the band hash
includes the band index, and AQE skew-join splitting stays on.

Determinism: every hash is Spark's xxhash64 with fixed seed 42 plus
fixed literal permutation constants — results are stable across runs and
partitionings, so the driver's rows-only checks are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import round_scaled, tokens
from ..memo import SessionMemo
from ..sources import load_table

N_PERM = 32
N_BANDS = 8
ROWS_PER_BAND = 4
# Mersenne prime 2^31-1: operands stay < 2^31 so a*h + b < 2^62 — no long
# overflow under Spark 4's default ANSI arithmetic.
_P31 = (1 << 31) - 1

# Fixed multipliers / offsets for the hash permutations
# (h_i = (a_i*h + b_i) mod P) — frozen literals so results never depend on
# runtime RNG state.
_PERM_A = [(2 * i * 0x9E3779B9 + 1) % _P31 for i in range(1, N_PERM + 1)]
_PERM_B = [(i * 0x85EBCA77 + 7) % _P31 for i in range(1, N_PERM + 1)]


def shingles(tokens_col) -> F.Column:
    """Distinct word-3-gram shingles of a *token array* column.

    Takes the pre-materialized token array, NOT the raw text: inlining
    ``split()`` here would make Catalyst duplicate the tokenizer into
    every element_at call — O(tokens²) work per row (observed 10× blowup
    at sf0.1).  Call sites materialize ``tokens(text)`` as a column first.
    """
    ts = tokens_col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(ts) - 3, F.lit(0))),
            lambda i: F.concat_ws(
                " ", F.element_at(ts, i + 1), F.element_at(ts, i + 2), F.element_at(ts, i + 3)
            ),
        )
    )


def _docsets_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinct shingle-set stage table (doc_id, ss, sz),
    memoized per (session, fixture) like the MinHash sketch table: FOUR
    registered queries re-tokenize and re-shingle the corpus otherwise
    (prefix_filter_jaccard_pairs — the suite's heaviest row in round 6 —
    ngram_jaccard_pairs, boilerplate_shingle_stats,
    decontaminate_ngram_overlap).  At 100 TB this is the persisted
    shingle stage table the near-dup family reads many times."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        # No pre-compute repartition here (unlike the minhash/simhash sketch
        # passes): the tokenize+shingle build is cheap enough that shuffling
        # the raw text first costs more than the parallelism buys — measured
        # +0.3-0.6s on every docsets consumer at sf0.1 when tried.
        return (
            d.select("doc_id", tokens(F.col("text")).alias("__ts"))
            .select("doc_id", shingles(F.col("__ts")).alias("ss"))
            .withColumn("sz", F.size("ss"))
            .localCheckpoint(eager=False)
        )

    return _SKETCH_MEMO.get(spark, sf_dir, ("documents",), build, "docsets")


def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingles() is array_distinct per doc, so the explode already yields
    # unique (doc_id, shingle) rows — no distinct() shuffle needed.
    return _docsets_table(spark, sf_dir).select(
        "doc_id", F.explode("ss").alias("shingle")
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by full text content: one canonical row (min doc_id)
    per distinct text, with the duplicate count.

    Scale: a single hash groupBy on the md5 of the content — fixed-width
    keys, map-side partial agg; never group on the raw 100 KB text.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_key"), "doc_id")
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates-by-key semantics with a deterministic survivor:
    first row (min doc_id) per (lang, source) group.

    Implemented as row_number over a window rather than dropDuplicates
    because Spark's dropDuplicates keeps an *arbitrary* row — at scale,
    nondeterministic survivors make reruns diverge.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-duplicate pairs: word-3-gram Jaccard ≥ 0.8.

    Scale: the shingle self-join explodes on shingles shared by many
    documents (boilerplate) — this exact variant is the small-data
    correctness baseline; minhash_lsh_pairs is the 100 TB path.
    """
    sh = _shingle_table(spark, sf_dir)
    # per-doc sizes come free from the docsets stage table (ss is
    # distinct per doc) — no groupBy-count shuffle
    sizes = _docsets_table(spark, sf_dir).select("doc_id", "sz")
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding, verified by exact
    Jaccard ≥ 0.8 — the 100 TB-scale variant of ngram_jaccard_pairs (and,
    on this corpus, produces the identical pair set; pinned by a pytest).

    Plan shape (one pass over the text):
    1. one Arrow-batched pass sketches each document: distinct word-3gram
       shingles, crc32 hashes, 32 minhash mins (numpy broadcast) and the
       hash set — no shingle explosion, no 32-aggregate groupBy;
    2. band signatures melt to (doc_id, band, sig); bucket-mates self-join
       into candidate pairs (tiny: O(near-dups), not O(n²));
    3. verification joins each candidate pair to the two per-doc hash-set
       arrays and computes Jaccard via array_intersect — never touching
       the text again.

    Verification Jaccard runs on 31-bit shingle hashes instead of raw
    strings; a cross-boundary collision needs ~|A|·|B|/2³¹ ≈ 1e-5 luck and
    is accepted (the pytest pin against the exact string variant holds).

    No SQL oracle: MinHash permutations are not expressible in DuckDB
    (different hash primitive) — the driver records a rows-only check.

    The verified pair frame is memoized per (session, fixture) exactly
    like the sketch table: FOUR downstream queries (neardup_flow_matrix,
    neardup_survivors_quality, neardup_cluster_sizes, plus this one)
    consume it, and re-running the band join + verification per consumer
    is repeated work a pipeline would persist once.
    """

    def build() -> DataFrame:
        per_doc = _minhash_sketch_table(spark, sf_dir)
        melted = _minhash_bands(per_doc)
        cand = (
            melted.alias("a")
            .join(
                melted.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )

        sets = per_doc.select("doc_id", "hashes", "sz")
        inter = F.size(F.array_intersect(F.col("ha"), F.col("hb"))).cast("long")
        jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
        return (
            cand.join(
                sets.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("hashes").alias("ha"),
                    F.col("sz").alias("sz_a"),
                ),
                "doc_a",
            )
            .join(
                sets.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("hashes").alias("hb"),
                    F.col("sz").alias("sz_b"),
                ),
                "doc_b",
            )
            .filter(jac >= 0.8)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .localCheckpoint(eager=False)
        )

    return _SKETCH_MEMO.get(spark, sf_dir, ("documents",), build, "lsh_pairs")


# Session-scoped sketch-table memo: SIX registered queries consume the
# per-doc MinHash sketch (minhash_lsh_pairs, neardup_flow_matrix,
# neardup_survivors_quality, neardup_cluster_sizes,
# incremental_neardup_lsh, dedup_rate consumers) — without the memo each
# re-runs the Arrow sketch pass over the corpus.  At 100 TB this is the
# materialized sketch stage-table every dedup pipeline persists once and
# joins many times.  Local-mode assumption (ADVICE r6 #3): entries hold
# lazily localCheckpointed frames whose lineage is truncated — on a
# multi-executor cluster an executor loss invalidates checkpoint blocks
# and a later memo hit would fail with "checkpoint block not found"
# without self-healing.  Fine on local[N] (blocks live in the one JVM
# for the session's lifetime); a production port persists these stage
# tables to parquet (the streaming standing-index tables show that
# shape).  The same holds for the LM score and embedding pair memos.
_SKETCH_MEMO = SessionMemo(12)  # 3 entry kinds x up to 3 sf fixtures + slack


_SKETCH_SCHEMA = "doc_id long, mh array<long>, hashes array<long>, sz long"


def _is_new_doc(col):
    """train_split_assign's multiplicative hash; >= 8 ⇒ val/test band —
    the deterministic "newly arrived batch" split shared by
    incremental_neardup_lsh and the streaming_neardup_lsh topology (and
    mirrored verbatim in their common DuckDB oracle)."""
    return ((col % 2147483647) * 2654435761) % 2147483647 % 10 >= 8


def _sketch_map_fn():
    """Build the Arrow-batched MinHash sketch closure (shingle → crc32 →
    32 permutation mins + distinct-hash set per document).  Returned
    function is SELF-CONTAINED (captures only lists/ints, imports inside)
    so it ships to workers from any cwd — shared by the batch sketch
    table and the streaming near-dup topology."""
    perm_a, perm_b, p31 = _PERM_A, _PERM_B, _P31

    def sketch(batches):
        import zlib

        import numpy as np
        import pandas as pd

        A = np.asarray(perm_a, dtype=np.int64)[:, None]
        B = np.asarray(perm_b, dtype=np.int64)[:, None]
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.strip().split()
                sh = {
                    " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
                }
                hs = np.fromiter(
                    (zlib.crc32(s.encode()) % p31 for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                mh = ((A * hs[None, :] + B) % p31).min(axis=1)
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "mh": mh.tolist(),
                        "hashes": hs.tolist(),
                        "sz": len(hs),
                    }
                )
            yield pd.DataFrame(out)

    return sketch


def _minhash_sketch_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash sketch (doc_id, mh array, distinct-hash set, size)
    in ONE Arrow-batched pass — shared (via the session-scoped memo
    above) by every LSH-pair consumer.

    Per-doc sketching runs vectorized per Arrow batch: per-row string
    work is far cheaper in a batch than exploding 200 shingle-rows per
    doc through a 32-aggregate groupBy (sf0.1: ~4s → ~1s).  The hash is
    crc32 (deterministic, C-speed); perms are numpy broadcast mins.
    """

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        sketch = _sketch_map_fn()

        # The fixture ships one parquet row group → a single scan task; the
        # sketch pass is CPU-bound, so spread it across workers first (the
        # doc table is tiny relative to the compute per doc).
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        per_doc = (
            d.select("doc_id", "text")
            .repartition(n_part)
            .mapInPandas(sketch, schema=_SKETCH_SCHEMA)
        )
        # per_doc feeds three DAG branches (bands, and both sides of the
        # verification join) — persist the small per-doc sketch so the text
        # pass runs exactly once.  At 100 TB this is a materialized stage
        # table instead of a cache.
        return per_doc.localCheckpoint(eager=False)

    return _SKETCH_MEMO.get(spark, sf_dir, ("documents",), build, "sketch")


def _minhash_bands(per_doc: DataFrame) -> DataFrame:
    """Melt a sketch table to the (doc_id, band, sig) blocking keys —
    the LSH bucket layout candidate generation equi-joins on."""
    band_structs = []
    for b in range(N_BANDS):
        cols = [
            F.element_at(F.col("mh"), b * ROWS_PER_BAND + r + 1)
            for r in range(ROWS_PER_BAND)
        ]
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(F.lit(b), *cols).alias("sig"))
        )
    return per_doc.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", "bs.band", "bs.sig")


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document from distinct-token hashes: bit b of
    the sketch is the sign of Σ_token (±1 depending on bit b of the
    token's 64-bit hash).

    Computed in ONE Arrow-batched pass per partition (same pattern as the
    minhash sketch): distinct whitespace tokens, 64-bit token hash from
    two crc32s (C-speed, deterministic), bit unpack + ±1 sums as numpy
    broadcasts.  The previous formulation — explode to ~1M token rows and
    groupBy with 64 aggregate expressions — spent 6.7s at sf0.1 on shuffle
    and per-row expression eval; the sketch pass is ~5× faster and scales
    by partition count.

    No SQL oracle (hash primitive); rows-only + pytest-pinned hamming
    pairs and determinism.
    """
    d = load_table(spark, sf_dir, "documents")

    def sketch(batches):
        # self-contained closure (pickled by value; no module refs)
        import zlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids, sims = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = set(text.strip().split())
                # crc32 then a splitmix64 finalizer: two crc32 seeds would
                # NOT work (CRC is linear — the words differ by a constant
                # per length, collapsing the sketch); the multiply-xor
                # finalizer decorrelates all 64 bits, vectorized in numpy.
                h32 = np.fromiter(
                    (zlib.crc32(t.encode()) for t in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )
                z = h32 + np.uint64(0x9E3779B97F4A7C15)
                z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                hs = z ^ (z >> np.uint64(31))
                bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                sums = (2 * bits - 1).sum(axis=0) if len(toks) else np.zeros(64)
                sim = int(((sums > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
                if sim >= 1 << 63:  # two's-complement wrap into Spark long
                    sim -= 1 << 64
                ids.append(int(doc_id))
                sims.append(sim)
            yield pd.DataFrame({"doc_id": ids, "simhash": sims})

    # one row group per fixture file → spread the CPU-bound sketch first
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        d.select("doc_id", "text")
        .repartition(n_part)
        .mapInPandas(sketch, schema="doc_id long, simhash long")
    )


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ 3 via the 4-chunk
    pigeonhole over 16-bit chunks (≤ 3 bit flips cannot touch all 4
    chunks, so any qualifying pair shares one — recall at ≤ 3 is exact)
    — per-chunk equi-joins, never all-pairs.

    Chunk width is a candidate-volume knob at equal exactness: 16-bit
    chunks give 65,536 buckets per table vs 256 for 8-bit, which is the
    difference between ~linear and ~quadratic candidates on corpora
    whose sketches CLUSTER (the synthetic fixture's template text:
    measured 114% of all-pairs with 8-bit chunks vs ~0.6% with 16-bit
    at 1×, identical output — SCALE.md §8).  The wider chunk trades
    headroom: 8 bits supported Hamming ≤ 7; 4×16 supports ≤ 3, exactly
    this query's threshold.
    """
    # checkpointed: both sides of the pigeonhole self-join consume the
    # sketch frame — without it the Arrow sketch pass (the dominant
    # cost) runs once per side
    sim = simhash_docs(spark, sf_dir).localCheckpoint(eager=False)
    chunks = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_idx"),
                    F.shiftright(F.col("simhash"), c * 16)
                    .bitwiseAND(F.lit(65535))
                    .alias("chunk"),
                )
                for c in range(4)
            ])
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk")
    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.filter(dist <= 3)
        .select("doc_a", "doc_b", dist.cast("int").alias("hamming"))
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate *clusters* via iterative min-label propagation (connected
    components) over the exact near-dup pair graph: every document in a
    near-dup component maps to the component's smallest doc_id.

    This is the engine's iterative-algorithm shape: a Python driver loop
    over DataFrame joins, converging in O(component diameter) rounds, with
    localCheckpoint each round to truncate lineage (at 100 TB: write
    intermediate label tables to parquet instead, and switch to the
    large-star/small-star algorithm to bound round count).

    Oracle: a recursive CTE computing the same transitive closure.
    """
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _cc_min_labels(pairs)


def _cc_min_labels(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair graph → (doc_id,
    cluster_id = component min doc_id).  Only documents appearing in a
    pair get a row; callers treat absent docs as singletons.  Shared by
    dedup_clusters (exact pair graph), neardup_survivors_quality /
    neardup_cluster_sizes (LSH pair graph) and the SemDeDup pipeline."""
    labels, _ = _cc_alternating_stars(pairs)
    return labels


def _cc_alternating_stars(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) →
    ((doc_id, cluster_id), rounds-to-converge).

    Unlike min-label propagation — O(component diameter) synchronized
    rounds, so a long duplicate chain (boilerplate drifting across many
    documents) makes the driver loop the bottleneck — the star operations
    converge in O(log n) rounds regardless of diameter: each round every
    node hooks onto the minimum of its (partial) neighborhood, halving
    tree heights.  At the fixed point the edge set is exactly the star
    {(v, component_min) : v ≠ component_min}.

    Per round: large-star hangs every strictly-larger neighbor of u onto
    m = min(Γ(u) ∪ {u}); small-star hangs u's not-larger neighbors (and u
    itself) onto their minimum.  Both are one groupBy + one equi-join on
    the node key — no all-pairs work; intermediates are localCheckpointed
    to truncate lineage (at 100 TB: parquet checkpoints instead, same
    plan shape).  Convergence = edge fixed point, detected by count +
    one-sided exceptAll (sets are distinct/canonical, so count-equal plus
    empty difference ⟺ equality); non-convergence within the 40-round
    bound raises instead of returning wrong labels.
    """
    sym0 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # canonical orientation big→small, self-loops dropped.  All loop
    # checkpoints are LAZY: the convergence count() is the job that
    # materializes each round's frame, instead of paying a separate
    # eager-checkpoint job per round (the loop cost on a small pair
    # graph is scheduler overhead, not data).
    edges = (
        sym0.where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Node set from the CANONICAL edge list, not the raw pair frame: every
    # caller emits strict doc_a < doc_b pairs (pair miners canonicalize),
    # so the distinct endpoints of `edges` are exactly the paired docs —
    # and deriving from the post-distinct checkpoint (AQE-coalesced to a
    # few partitions) avoids re-reading the wide upstream pair frame a
    # second time (the round-11 job audit billed two full 34-task reads).
    nodes = (
        edges.select("a")
        .union(edges.select(F.col("b").alias("a")))
        .distinct()
        .select(F.col("a").alias("doc_id"))
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    rounds = 0
    converged = n_edges == 0
    while not converged:
        rounds += 1
        if rounds > 40:  # >> O(log n) for any feasible corpus
            raise RuntimeError(
                "connected components did not converge in 40 star rounds"
            )
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        # large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for v > u.
        # v > u ≥ m(u), so outputs stay strictly oriented big→small.
        lmin = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("a", "mn").alias("m"))
        )
        large = (
            sym.join(lmin, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star over the oriented set: m(u) = min of u's smaller
        # neighbors; emit (v, m(u)) for those neighbors and (u, m(u)).
        smin = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(smin, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(smin.select("a", F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_small = small.count()
        if n_small == n_edges:
            converged = small.exceptAll(edges).isEmpty()
        edges, n_edges = small, n_small
    labels = nodes.join(
        edges.select(F.col("a").alias("doc_id"), F.col("b").alias("lbl")),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("lbl", F.col("doc_id")).alias("cluster_id")
    )
    return labels, rounds


def neardup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-duplicate survivorship: cluster the near-dup
    pair graph (connected components), keep ONE document per cluster —
    the longest member, min doc_id tiebreak (the "keep the richest copy"
    rule real curation pipelines apply; swap the sort key for a model
    quality score) — and report per source how many documents/characters
    the dedup pass drops.  Documents in no near-dup pair are their own
    singleton cluster and always survive.

    Scale: pairs come from the banded MinHash path (pytest-pinned
    identical to the exact pair set, so the exact-graph recursive-CTE
    oracle holds); components converge in O(diameter) bounded rounds;
    survivor election is a row_number window PARTITIONED by cluster —
    the largest window group is one near-dup cluster, never the corpus.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_min_labels(pairs)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    lab = d.join(labels, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = lab.withColumn("rn", F.row_number().over(w))
    per_doc = ranked.select(
        "source", "n_chars", (F.col("rn") == 1).alias("kept")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("long")).cast("bigint").alias("n_kept"),
            F.sum(F.when(~F.col("kept"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("dropped_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
            "dropped_chars",
            (
                F.round(
                    (F.col("n_docs") - F.col("n_kept")).cast("double")
                    / F.col("n_docs"),
                    6,
                )
                + F.lit(0.0)
            ).alias("drop_rate"),
        )
        .orderBy("source")
    )


def blocked_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with blocking: candidate pairs share a
    24-char normalized prefix (the blocking key), then exact Levenshtein
    on the first 200 chars filters to distance ≤ 40.

    This is the classic record-linkage shape at scale: the O(n²) distance
    never runs — the equi-join on the block key prunes candidates to
    within-bucket pairs, and the quadratic-cost kernel touches only
    those.  (Skewed blocks would need a length-prefix or second key;
    documents here block near-uniquely.)
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.lower(F.col("text")), 1, 24).alias("blk"),
        F.substring(F.lower(F.col("text")), 1, 200).alias("head"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head")).cast("long")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 40)
    )


def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find corpus documents sharing ≥3
    distinct word-3-gram shingles with any document in the held-out
    benchmark set (here: doc_id % 100 == 7) — the n-gram-collision
    check every LLM training pipeline runs before training so eval
    data does not leak into the train set.

    Scale: the benchmark side is tiny by construction (benchmarks are
    thousands of docs, the corpus is billions), so its shingle set is
    broadcast — the corpus-side scan never shuffles; each executor
    filters its shingles against the in-memory benchmark set and only
    (doc, bench, count) hits cross the wire.
    """
    sh = _shingle_table(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    corpus = sh.filter(F.col("doc_id") % 100 != 7)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-run) dedup: treat doc_id % 5 == 0 as the newly
    arrived batch and the rest as the already-ingested corpus; classify
    every new document as kept, duplicate-of-existing, or
    duplicate-within-batch (deterministic min-doc_id survivor), reported
    per source — the nightly-ingest shape where a new crawl snapshot is
    deduped against an accumulated corpus without re-deduping the corpus.

    Scale: the existing corpus contributes only DISTINCT md5 keys
    (fixed-width, far smaller than the corpus); at 100 TB that key set
    lives in a bucketed key table and the probe is a broadcast or
    bucket-co-located semi join — never a full corpus re-shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select("doc_id", "source", F.md5("text").alias("k"))
    new = keyed.filter(F.col("doc_id") % 5 == 0)
    old_keys = (
        keyed.filter(F.col("doc_id") % 5 != 0)
        .select("k")
        .distinct()
        .withColumn("in_old", F.lit(True))
    )
    w = Window.partitionBy("k").orderBy("doc_id")
    st = new.join(F.broadcast(old_keys), "k", "left").withColumn(
        "rn", F.row_number().over(w)
    )
    status = (
        F.when(F.col("in_old").isNotNull(), F.lit("dup_vs_existing"))
        .when(F.col("rn") == 1, F.lit("kept"))
        .otherwise(F.lit("dup_in_batch"))
    )
    return st.groupBy("source", status.alias("status")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


CHUNK_WORDS = 10


def chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup (RefinedWeb/C4 "line dedup" adapted to the
    fixture's newline-free text): split every document into consecutive
    10-word chunks, keep only the globally-first occurrence of each chunk
    text (first = smallest (doc_id, position)), and reassemble documents
    from their surviving chunks.  This is the practical approximation of
    exact-substring dedup used in LLM corpus cleaning — repeated
    boilerplate spans vanish from every document except the first that
    contained them.

    Scale: per-chunk work is bounded by document length, not corpus size.
    Three shuffles — chunk assembly on (doc_id, chunk_pos), the
    first-occurrence window on chunk_text (hash-partitioned over the
    whole corpus; at 100 TB this is the big exchange and it is one pass),
    and document reassembly on doc_id.  No self-joins, no all-pairs.
    The posexplode path (rather than transform-over-sequence lambdas)
    keeps split() evaluated once per row (CLAUDE.md Catalyst pitfall).
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
    chunks = (
        words.withColumn("chunk_pos", F.floor(F.col("pos") / CHUNK_WORDS).cast("int"))
        .groupBy("doc_id", "chunk_pos")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("chunk_text")
        )
    )
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_pos")
    kept = chunks.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_pos", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("dedup_text"),
            F.count(F.lit(1)).alias("kept_chunks"),
        )
        .orderBy("doc_id")
    )


def trigram_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs under trigram COUNT-vector cosine ≥ 0.8 —
    the multiset companion to :func:`ngram_jaccard_pairs` (Jaccard sees
    sets; cosine over counts also catches repetition-skewed rewrites).
    Dot products and squared norms are exact integer sums, so only the
    final sqrt/divide touches floats (sqrt is correctly rounded IEEE —
    engine-identical).

    Scale: same self-join-on-gram shape as the Jaccard baseline —
    quadratic in matching pairs, the documented small-data baseline;
    the LSH family is the 100 TB path.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "w1"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        tok.withColumn("w2", F.lead("w1", 1).over(w))
        .withColumn("w3", F.lead("w1", 2).over(w))
        .where(F.col("w3").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w1", "w2", "w3").alias("gram"))
    )
    cnt = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    nrm = cnt.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm"))
    dots = (
        cnt.alias("a")
        .join(
            cnt.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    cos = F.col("dot") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(cos >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            (F.round(cos, 6) + F.lit(0.0)).alias("cosine"),
        )
        .orderBy("doc_a", "doc_b")
    )


def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered similarity join: exact word-3-gram
    Jaccard >= 0.8 pairs, but candidates are generated ONLY from each
    document's rare-first *prefix* instead of its full shingle set.

    Algorithm (Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection", WWW'08 — prefix filtering):
    1. order all shingles globally by (document frequency asc, shingle) —
       rarest first, a total order;
    2. each document keeps only its first ``sz - ceil(t*sz) + 1``
       shingles under that order (its prefix): any pair with
       J >= t MUST share a prefix shingle, so joining prefixes loses
       no true pair;
    3. candidate pairs from the prefix self-join are verified with the
       exact intersection count (re-join on the full shingle table,
       restricted to candidates) — same output as
       :func:`ngram_jaccard_pairs`, pinned by pytest.

    Scale: the full-shingle self-join explodes on boilerplate shingles
    shared by thousands of documents; the prefix join only collides on
    *rare* shingles (high-frequency ones sort last and drop out of
    prefixes), cutting candidate volume by orders of magnitude at equal
    recall — the third 100 TB near-dup path next to MinHash-LSH and
    SimHash, and unlike those it is *exact* (no recall loss).  Shuffles:
    one groupBy for document frequency, one prefix self-join on rare keys
    (AQE skew split on), one verify join over candidates only.

    Plan economy: the per-doc distinct shingle ARRAY is built narrowly
    (shingles() on the token array — no explode+distinct shuffle, no
    collect_set re-shuffle) and persisted; only the global
    document-frequency count and the prefix ranking touch exploded rows
    (the irreducible shuffles — df is a global property).  Verification
    intersects the two per-doc arrays (array_intersect on strings —
    exact), the never-touch-the-text-again shape of minhash_lsh_pairs.
    """
    t = 0.8
    # per-doc shingle sets from the shared memoized stage table (the
    # suite's heaviest round-6 row re-derived these every run)
    docsets = _docsets_table(spark, sf_dir)
    # Candidate generation runs on 8-byte xxhash64 shingle keys (the
    # global order (df asc, hash asc) is still a total order, and any
    # order is valid for prefix filtering) — shuffled bytes drop ~3×
    # vs raw ~25-char shingle strings.  A cross-shingle hash collision
    # (~|shingles|²/2⁶⁴ ≈ 1e-8 here) could only ADD a candidate, which
    # exact verification removes.
    exploded = docsets.select(
        "doc_id", "sz", F.explode("ss").alias("shingle")
    ).select("doc_id", "sz", F.xxhash64(F.col("shingle"), F.lit(42)).alias("h"))
    freq = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    # NOT checkpointed: the candidate self-join's two sides are the
    # IDENTICAL subtree, so Spark already shares one physical exchange
    # via ReusedExchange — a checkpoint here replaced that free reuse
    # with a full materialization pass (measured +1.2s at sf0.1)
    prefix = (
        exploded.join(freq, "h")
        .withColumn("rk", F.row_number().over(wdoc))
        .where(F.col("rk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + F.lit(1))
        .select("doc_id", "h", "rk", "sz")
    )
    # Length + positional filters (PPJoin §3.2) prune candidates BEFORE
    # the expensive set-intersection verify.  Both are exact-integer and
    # collision-row-safe: for ANY shared token at prefix ranks (i, j),
    # overlap(a,b) <= min(i,j)-1 + 1 + min(sz_a-i, sz_b-j), so every
    # collision row of a true pair (overlap >= alpha) passes — distinct
    # keeps the pair, no recall loss.  t = 0.8 = 4/5:
    #   length:  5*min(sz) >= 4*max(sz)
    #   alpha  = ceil(t/(1+t)*(sz_a+sz_b)) = (4*(sz_a+sz_b)+8) div 9
    sz_a, sz_b = F.col("a.sz"), F.col("b.sz")
    alpha = F.expr("(4 * (a.sz + b.sz) + 8) div 9")
    ubound = F.least(F.col("a.rk"), F.col("b.rk")) + F.least(
        sz_a - F.col("a.rk"), sz_b - F.col("b.rk")
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(
            (F.least(sz_a, sz_b) * 5 >= F.greatest(sz_a, sz_b) * 4)
            & (ubound >= alpha)
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = docsets.select(
        F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"), F.col("sz").alias("sz_a")
    )
    sb = docsets.select(
        F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"), F.col("sz").alias("sz_b")
    )
    inter = F.size(F.array_intersect(F.col("ss_a"), F.col("ss_b")))
    jac = inter / (F.col("sz_a") + F.col("sz_b") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(jac >= t)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty attribution per source: for each source, the share
    of its distinct word-3-gram occurrences whose gram FIRST occurs (min
    doc_id — the deterministic arrival-order proxy) in that very
    document — the "how much genuinely new text does this source add"
    curve that decides which crawl a budget buys more of.  Low novelty =
    the source mostly re-states grams the corpus already has (templates,
    syndication, mirrors); the dedup family's yield forecast
    (neardup_cluster_sizes) counts whole-document duplicates, this
    counts sub-document textual novelty.

    Scale: the shingle stage table is the memoized docsets explode (no
    re-tokenize); first-occurrence is one map-side-combined min per
    gram key; the join back is gram-keyed; the rollup is |sources| rows.
    At 100 TB the (gram, first_doc) frame is the attribution index a
    pipeline persists beside its dedup tables.  Novelty share rounds in
    scaled-integer space (invariant 6).
    """
    sh = _shingle_table(spark, sf_dir)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    marked = sh.join(first, "shingle").join(d, "doc_id")
    share6 = (
        F.round(F.col("n_novel") * 1000000.0 / F.col("n_occurrences"))
        .cast("bigint")
        .cast("double")
        / 1000000.0
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "source",
            "n_occurrences",
            "n_novel",
            (share6 + F.lit(0.0)).alias("novelty_share"),
        )
        .orderBy("source")
    )


def golden_record_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship ("golden record") resolution over exact-duplicate
    text clusters: within each md5(text) cluster, different fields
    survive by DIFFERENT rules — doc_id: earliest; source: highest doc
    count wins (mode, count-then-name tiebreak); n_chars: max — the
    multi-rule merge step after duplicate detection in an MDM/dedup
    pipeline.  Only clusters with ≥ 2 members are emitted.

    Scale: two aggregations on the cluster key (field rules compose as
    min/max/max_by partials — all map-side combinable) plus one
    per-(cluster, source) count for the mode rule; no per-cluster
    Python, no collect.
    """
    d = load_table(spark, sf_dir, "documents")
    # cluster key: 80-char prefix fingerprint (near-dup blocking key —
    # exact md5 clusters are empty on this corpus; the fixture's dups
    # share prefixes)
    keyed = d.select(
        F.md5(F.substring(F.col("text"), 1, 80)).alias("ckey"),
        "doc_id",
        "source",
        "n_chars",
    )
    src_counts = keyed.groupBy("ckey", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    best_src = src_counts.groupBy("ckey").agg(
        # highest count wins, name tiebreak: min over (-count, name)
        F.min_by(
            "source",
            F.struct((-F.col("c")).alias("nc"), F.col("source").alias("s")),
        ).alias("golden_source")
    )
    merged = keyed.groupBy("ckey").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("golden_doc_id"),
        F.max("n_chars").alias("golden_n_chars"),
    )
    return (
        merged.where(F.col("n_members") >= 2)
        .join(best_src, "ckey")
        .select(
            "ckey",
            "n_members",
            "golden_doc_id",
            "golden_source",
            "golden_n_chars",
        )
        .orderBy("golden_doc_id")
    )


# --- round-4 additions ------------------------------------------------


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard matrix: for every pair of
    sources, |vocab_a ∩ vocab_b| / |vocab_a ∪ vocab_b| over distinct
    token types — the corpus-similarity diagnostic behind "are these
    two crawls the same site?" and mixture-dedup decisions.  The same
    reduce-then-self-join shape as audience_overlap_jaccard (user sets
    per event type), applied to vocabulary sets per source.

    Scale: the corpus collapses FIRST to distinct (source, token) rows
    (map-side-combined — vocabulary-sized, not corpus-sized); the only
    pair-generating join is the token-keyed self-join over that reduced
    table, where each token contributes at most |sources|² rows.
    All-integer until one division, rounded in scaled-integer space.
    """
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("w"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        vocab.alias("a")
        .join(
            vocab.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    jac6 = (
        F.round(F.col("inter") * 1000000.0 / union_sz)
        .cast("bigint")
        .cast("double")
        / 1000000.0
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            union_sz.alias("union_sz"),
            (jac6 + F.lit(0.0)).alias("vocab_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def neardup_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate FLOW matrix: project the 3-gram
    Jaccard ≥ 0.8 pair set onto source pairs — which sources duplicate
    which is the report that decides crawl-priority and dedup ordering.

    Scale: consumes minhash_lsh_pairs — the banded-LSH scale path whose
    pair set is pytest-pinned identical to the exact ngram_jaccard_pairs
    baseline (test_minhash_lsh_equals_exact_jaccard), so the DuckDB
    oracle (written against exact Jaccard) still holds while the lineage
    contains no quadratic shingle self-join.  Then two broadcast-able
    joins to the skinny (doc_id, source) projection and a
    |sources|²-bounded group-by.  Within-source duplication appears on
    the diagonal (src_a == src_b).
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    labeled = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least(F.col("sa"), F.col("sb")).alias("src_a"),
            F.greatest(F.col("sa"), F.col("sb")).alias("src_b"),
        )
    )
    return (
        labeled.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("src_a", "src_b")
    )


def incremental_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental NEAR-duplicate detection: treat the ~20%
    of documents whose split hash lands in the val/test band (the
    train_split_assign recipe) as a NEWLY ARRIVED batch and find every
    new document that is a word-3-gram Jaccard >= 0.8 near-duplicate of
    an EXISTING-corpus document — the production shape of dedup at
    100 TB, where each crawl increment is checked against the standing
    index instead of re-pairing the whole corpus (the companion of the
    exact-key `incremental_dedup`).

    Scale: both sides share ONE MinHash sketch pass (the checkpointed
    `_minhash_sketch_table`); the batch/corpus split is a pure doc_id
    hash expression, so candidate generation is the banded equi-join of
    the (tiny) new-batch band table against the corpus band table —
    at a real 100 TB increment the new side broadcasts.  Verification
    touches only candidate pairs via the per-doc hash sets.

    Oracle: exact cross-set 3-gram Jaccard in DuckDB — valid because the
    banded-LSH pair set is pytest-pinned identical to the exact pair set
    on this corpus (test_minhash_lsh_equals_exact_jaccard), and the
    batch/corpus pairs are a subset of those pairs.
    """
    per_doc = _minhash_sketch_table(spark, sf_dir)
    bands = _minhash_bands(per_doc)
    new_b = bands.where(_is_new_doc(F.col("doc_id")))
    old_b = bands.where(~_is_new_doc(F.col("doc_id")))
    cand = (
        new_b.alias("n")
        .join(
            old_b.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.sig") == F.col("o.sig")),
        )
        .select(
            F.col("n.doc_id").alias("doc_new"), F.col("o.doc_id").alias("doc_old")
        )
        .distinct()
    )
    sets = per_doc.select("doc_id", "hashes", "sz")
    inter = F.size(F.array_intersect(F.col("hn"), F.col("ho"))).cast("long")
    jac = inter / (F.col("sz_n") + F.col("sz_o") - inter)
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_new"),
                F.col("hashes").alias("hn"),
                F.col("sz").alias("sz_n"),
            ),
            "doc_new",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_old"),
                F.col("hashes").alias("ho"),
                F.col("sz").alias("sz_o"),
            ),
            "doc_old",
        )
        .filter(jac >= 0.8)
        .select("doc_new", "doc_old", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_new", "doc_old")
    )


def neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster-size spectrum: how many clusters have
    exactly k members, for every observed k ≥ 2 plus the singleton count
    — the histogram every dedup paper plots (duplicate mass lives in the
    tail) and the number that predicts how much a dedup pass will
    shrink the corpus.

    Scale: pairs come from the banded MinHash path (pinned identical to
    exact), components from the bounded-round CC loop; the histogram is
    two tiny re-aggregations of the |clustered-docs|-row label table.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = _cc_min_labels(pairs).localCheckpoint(eager=False)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("k"))
    hist = sizes.groupBy("k").agg(F.count(F.lit(1)).alias("n_clusters"))
    # singleton count stays IN the plan (two 1-row aggregates crossJoined)
    # instead of two blocking driver count() jobs — same values, one job
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_clustered = labels.agg(F.count(F.lit(1)).alias("n_clustered"))
    singles = (
        n_docs.crossJoin(F.broadcast(n_clustered))
        .select(
            F.lit(1).cast("bigint").alias("k"),
            (F.col("n_docs") - F.col("n_clustered")).cast("bigint").alias(
                "n_clusters"
            ),
        )
    )
    return (
        hist.select(F.col("k").cast("bigint"), F.col("n_clusters").cast("bigint"))
        .unionByName(singles)
        .orderBy("k")
    )


def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup join: pairs where the smaller
    document's shingle set is >= 90% contained in the other's
    (C = |A∩B| / min(|A|,|B|)) — catches doc-in-doc duplication
    (quotes, supersets, page-plus-boilerplate wrappers) that symmetric
    Jaccard misses: a 100-shingle doc fully embedded in a 10000-shingle
    page has J ≈ 0.01 but C = 1.0.

    Candidate generation adapts prefix filtering (Chaudhuri et al.,
    ICDE'06 SSJoin) to the asymmetric threshold: only the SMALLER
    document of a pair needs a prefix (overlap >= ceil(t*sz_small)
    depends on the smaller size alone), so each doc's rare-first prefix
    of length ``sz - ceil(t*sz) + 1`` is joined against the FULL ranked
    shingle list of larger partners — cost is bounded by the document
    frequency of RARE shingles, never all-pairs.  A positional
    upper-bound filter (min ranks + min remaining suffixes) prunes
    before the exact array_intersect verify, which recomputes C
    exactly — no recall loss, pinned against the brute-force pair set
    in pytest.

    At 100 TB: same bucketed shape as prefix_filter_jaccard_pairs (one
    df groupBy, one rare-key join, one candidate-only verify); roles
    (smaller/larger) are decided per-pair by (sz, doc_id), so the
    output is canonical without a global sort.
    """
    t = 0.9
    docsets = _docsets_table(spark, sf_dir)
    exploded = docsets.select(
        "doc_id", "sz", F.explode("ss").alias("shingle")
    ).select("doc_id", "sz", F.xxhash64(F.col("shingle"), F.lit(42)).alias("h"))
    freq = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    # NOT checkpointed: the prefix side is a filter of the ranked frame,
    # and Catalyst shares the underlying window exchange between the two
    # join sides — a checkpoint here measured +1.6s at sf0.1 (it traded
    # a mostly-reused exchange for a full materialization pass)
    ranked = (
        exploded.join(freq, "h")
        .withColumn("rk", F.row_number().over(wdoc))
        .select("doc_id", "sz", "h", "rk")
    )
    prefix = ranked.where(
        F.col("rk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + F.lit(1)
    )
    sz_a, sz_b = F.col("a.sz"), F.col("b.sz")
    smaller_first = (sz_a < sz_b) | (
        (sz_a == sz_b) & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # required overlap depends only on the smaller side: ceil(t*sz_a)
    alpha = F.expr("(9 * a.sz + 9) div 10")
    ubound = F.least(F.col("a.rk"), F.col("b.rk")) + F.least(
        sz_a - F.col("a.rk"), sz_b - F.col("b.rk")
    )
    cand = (
        prefix.alias("a")
        .join(ranked.alias("b"), "h")
        .where(smaller_first & (ubound >= alpha))
        .select(
            F.col("a.doc_id").alias("doc_small"),
            F.col("b.doc_id").alias("doc_big"),
        )
        .distinct()
    )
    sa = docsets.select(
        F.col("doc_id").alias("doc_small"),
        F.col("ss").alias("ss_a"),
        F.col("sz").alias("sz_small"),
    )
    sb = docsets.select(
        F.col("doc_id").alias("doc_big"),
        F.col("ss").alias("ss_b"),
        F.col("sz").alias("sz_big"),
    )
    inter = F.size(F.array_intersect(F.col("ss_a"), F.col("ss_b")))
    cont = inter / F.col("sz_small")
    return (
        cand.join(sa, "doc_small")
        .join(sb, "doc_big")
        .withColumn("containment", round_scaled(cont, 6))
        .filter(cont >= t)
        .select("doc_small", "doc_big", "containment")
    )


def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH (b, r) planning table: the detection S-curve
    P(candidate) = 1 - (1 - s^r)^b over a (bands, rows-per-band,
    similarity) grid, plus each configuration's crossover similarity
    (smallest grid s with P >= 0.5).  This is the table a dedup
    deployment reads BEFORE choosing the banding for a target Jaccard
    threshold — the planning half of minhash_lsh_pairs, which fixes one
    (b, r) and runs it.

    Cross-engine determinism (invariant 3): every power uses an exact
    MULTIPLICATION CHAIN (b and r are powers of two, so s^r and q^b are
    repeated squarings — each step one IEEE multiply on bit-identical
    inputs), never pow() (libm implementations differ at 1 ulp for
    non-integer paths); s itself is the single divide s100/100.0; the
    final 6-dp round is scaled-integer (round_scaled).  The grid is
    generated data (228 rows) — sf_dir is unused, like any planner.

    At 100 TB this never touches data at all; it exists so banding
    choices are recorded, reviewable engine output instead of folklore.
    """
    b_vals = [4, 8, 16, 32]
    r_vals = [2, 4, 8]
    s_vals = list(range(5, 100, 5))
    grid = spark.createDataFrame(
        [(b, r, s) for b in b_vals for r in r_vals for s in s_vals],
        "b long, r long, s100 long",
    )
    s = F.col("s100").cast("double") / F.lit(100.0)
    s2 = s * s
    s4 = s2 * s2
    s8 = s4 * s4
    sr = (
        F.when(F.col("r") == 2, s2)
        .when(F.col("r") == 4, s4)
        .otherwise(s8)
    )
    q = F.lit(1.0) - sr
    q2 = q * q
    q4 = q2 * q2
    q8 = q4 * q4
    q16 = q8 * q8
    q32 = q16 * q16
    qb = (
        F.when(F.col("b") == 4, q4)
        .when(F.col("b") == 8, q8)
        .when(F.col("b") == 16, q16)
        .otherwise(q32)
    )
    p = round_scaled(F.lit(1.0) - qb, 6)
    curve = grid.select("b", "r", "s100", p.alias("p_detect"))
    w = Window.partitionBy("b", "r")
    return (
        curve.withColumn(
            "crossover_s100",
            F.min(
                F.when(F.col("p_detect") >= 0.5, F.col("s100"))
            ).over(w),
        )
        .select(
            "b",
            "r",
            "s100",
            "p_detect",
            F.coalesce(F.col("crossover_s100"), F.lit(-1))
            .cast("long")
            .alias("crossover_s100"),
        )
        .orderBy("b", "r", "s100")
    )
