"""Embedding similarity search over ``embeddings`` (mandated extension
surface, SURVEY.md §2.3: brute-force cosine top-k baseline + an
LSH-bucketed ANN variant for the 100 TB path).

Dot products are computed with F.zip_with + F.aggregate in double
precision, strictly left-to-right — the same accumulation order as the
DuckDB oracle — and similarities are rounded to 6 decimals so the last
float bit can never flip a comparison.

Scale: brute force is O(queries × corpus) — fine for a bounded query set
against a broadcast corpus, never for all-pairs.  The ANN variant buckets
vectors by random-hyperplane sign signatures (deterministic, hash-derived
hyperplanes) so each query only scans its bucket; recall is traded via
the number of hyperplanes (here 6 ⇒ 64 buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cosine, dot, sq_norm
from ..memo import SessionMemo
from ..sources import load_table

N_QUERIES = 10
TOP_K = 5
# Multi-table hyperplane LSH: L tables × k planes.  A pair is a candidate
# if its signatures agree in ANY table — recall 1-(1-p^k)^L where p is the
# per-plane agreement probability (1 - angle/π).
N_TABLES = 12
PLANES_PER_TABLE = 4
DIM = 64


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"), "label")


def _vectors_with_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors with the L2 norm precomputed once per vector — scoring a
    pair then needs ONE array traversal (the dot product) instead of
    three; also shrinks the codegen'd expression ~3× (the inlined
    higher-order functions dominate first-run Janino compile time)."""
    return _vectors(spark, sf_dir).withColumn("nrm", F.sqrt(sq_norm(F.col("v"))))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id < 10), the
    5 nearest other vectors by cosine similarity (vec_id tiebreak).

    Scale: the query side is tiny and broadcast; the corpus streams once.
    Ranking uses a per-query window over the (query × corpus) scores.
    """
    vec = _vectors_with_norm(spark, sf_dir)
    q = vec.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    ).filter(F.col("query_id") < N_QUERIES)
    scored = (
        vec.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label statistics over squared norms — the cheap sanity pass a
    pipeline runs before ANN indexing (detects unnormalized / degenerate
    vectors)."""
    vec = _vectors(spark, sf_dir)
    sq = F.round(sq_norm(F.col("v")), 6)
    return (
        vec.select("label", sq.alias("sq"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.min("sq"), 6).alias("min_sq_norm"),
            F.round(F.max("sq"), 6).alias("max_sq_norm"),
        )
    )


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded PRNG, frozen seed):
    plain Python floats captured by value into the signature UDF, so every
    executor sees identical planes with no RNG or broadcast state."""
    import random

    rng = random.Random(42)
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(DIM)]
        for _ in range(N_TABLES * PLANES_PER_TABLE)
    ]


def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH ANN: 12 tables × 4-bit signatures; a
    corpus vector is a candidate for a query if their signatures agree in
    ANY table; exact cosine then ranks only the candidates.

    Scale: expected work is O(Q × N × collision_rate) instead of O(Q×N);
    at 100 TB, write the corpus partitioned by (table, signature) so each
    query reads L small buckets.  No SQL oracle (PRNG-derived planes);
    rows-only + pytest recall check vs cosine_topk (measured 0.86 on
    the round-2 fixture).
    """
    vec = _vectors_with_norm(spark, sf_dir)

    # Signature computation is dense linear algebra (N×64 @ 64×48): an
    # Arrow-batched numpy matmul is ~2 orders faster than 2048 Catalyst
    # higher-order-function ops per row — the one place this engine
    # deliberately leaves JVM expressions for vector math.
    planes = _hyperplanes()  # captured by value into the UDF closure
    n_tables, planes_per_table = N_TABLES, PLANES_PER_TABLE

    from pyspark.sql.functions import pandas_udf

    def _sigs(series):
        import numpy as np
        import pandas as pd

        P = np.asarray(planes).T  # (DIM, n_planes)
        M = np.stack(series.to_numpy())  # (batch, DIM)
        bits = (M @ P) > 0  # (batch, n_planes)
        out = []
        for row in bits:
            out.append(
                [
                    int(
                        sum(
                            (1 << p) if row[t * planes_per_table + p] else 0
                            for p in range(planes_per_table)
                        )
                    )
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    sig_udf = pandas_udf(_sigs, "array<int>")

    def _melt(df: DataFrame) -> DataFrame:
        return df.select("vec_id", "v", "nrm", sig_udf("v").alias("sigs")).select(
            "vec_id", "v", "nrm", F.posexplode("sigs").alias("tbl", "sig")
        )

    melted = _melt(vec)
    # Signatures for the query side are computed from the 10-row filtered
    # input, NOT by filtering `melted`: the two join branches are separate
    # subtrees to Catalyst, so reusing `melted` would run the corpus-wide
    # signature UDF twice (observed ~2× the query's runtime at sf0.1).
    q = _melt(vec.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("tbl").alias("qtbl"),
        F.col("sig").alias("qsig"),
    )
    cand = (
        melted.join(
            F.broadcast(q),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("sig") == F.col("qsig"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id", "qv", "qnrm", F.col("vec_id").alias("neighbor_id"), "v", "nrm"
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


NEAR_DUP_TAU = 0.4
DEDUP_CELLS = 16
DEDUP_PROBES = 4


def embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.4), exact: the
    all-pairs self-join correctness baseline for ``embedding_near_dup_pairs``
    — same role ``ngram_jaccard_pairs`` plays for ``minhash_lsh_pairs``.

    Scale: O(N²) by construction (125k candidate pairs at sf0.01's 500
    vectors) — run only on bounded slices to validate the blocked variant;
    the registered scale path is the IVF-blocked query below.
    """
    vec = _vectors_with_norm(spark, sf_dir)
    a = vec.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = vec.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
        .filter(F.col("sim") >= NEAR_DUP_TAU)
    )


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.4), IVF-blocked —
    the SemDeDup-style scale design: train a coarse k-means quantizer
    (16 cells, deterministic init, 1 Lloyd pass — the same recipe as
    ivf_ann_topk), assign every vector to its 4 nearest cells
    (multi-probe), and run the exact cosine ≥ τ verify only on cell-mates.
    The plan's only pair-generating join is an equi-join on the cell id —
    no full self-join, no CartesianProduct.

    Candidate-generation design note (measured on this fixture): the
    synthetic embeddings are near-uniform on the 64-dim sphere (max
    pairwise cosine 0.51 at sf0.01) and τ = 0.4 is only ~66° of angle, so
    NO sublinear scheme can prune hard at recall 1.0 here — hyperplane
    LSH at recall 1.0 degenerates to ~100% candidates (12×4 banding:
    recall 0.81 at 54% candidates).  IVF multi-probe dominates it on this
    geometry: 16 cells × 4 probes gives pair-set equality with the exact
    baseline at sf0.001 and sf0.01 (pytest-pinned) and recall 0.957 at
    sf0.1 (round-2 fixture), touching ~72% of pairs.  On real near-dup corpora the
    qualifying pairs sit at cosine ≥ 0.9 (≤ 26°), where the same design
    prunes to O(N²/cells) with recall ≈ 1 — at 100 TB, train the
    quantizer on a sample, write the corpus partitioned by cell (×probes
    copies), and each executor joins one cell's bucket.  That claim is
    now MEASURED, not argued: tools/scale_stress_neardup.py builds a
    clustered-geometry corpus (planted dup pairs at cosine ≥ 0.99,
    cluster count growing with the corpus — real-embedding shape) and
    runs this same impl via `_near_dup_pairs_impl` with the scale-path
    parameters (τ=0.9, cells ∝ N, sampled quantizer): candidate ratio
    FALLS as the corpus grows at planted-pair recall 1.0 (SCALE.md §8).

    The verified pair frame is memoized per (session, fixture) like the
    LSH pair frame (operators/dedup._SKETCH_MEMO): semantic_decontamination
    is standalone, but semdedup_pipeline + this query + their pytest pins
    each re-ran the quantizer-assign-verify chain without it.
    """

    def build() -> DataFrame:
        return _near_dup_pairs_impl(
            spark, sf_dir, NEAR_DUP_TAU, DEDUP_CELLS, DEDUP_PROBES, None
        ).localCheckpoint(eager=False)

    return _EMB_PAIRS_MEMO.get(spark, sf_dir, ("embeddings",), build)


def _near_dup_pairs_impl(
    spark: SparkSession,
    sf_dir: str,
    tau: float,
    cells: int,
    probes: int,
    sample_mod: int | None,
) -> DataFrame:
    """Parameterized IVF-blocked near-dup core shared by the registered
    query (τ=0.4, 16 cells, full-corpus Lloyd — exact-pinned) and the
    scale path the stress harness measures (τ=0.9, cells ∝ corpus,
    sampled quantizer — recall-pinned)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    vec = _vectors_with_norm(spark, sf_dir).repartition(n_part).localCheckpoint(
        eager=False
    )
    cids, cn = _trained_quantizer(
        vec, sf_dir, cells, LLOYD_ITERS, sample_mod=sample_mod
    )
    assigned = _assign_topp_np(vec, cids, cn, probes)
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
        .filter(F.col("sim") >= F.lit(tau))
    )


N_CENTROIDS = 16
N_PROBE = 4
LLOYD_ITERS = 1


# Trained-quantizer memo, keyed by (k, iters, sample_mod) over the
# embeddings fixture.  Training is fully deterministic (init = lowest
# vec_ids, partials combined in sorted cid order, partition-invariant by
# pytest pin), so every embedding query — ivf_ann_topk,
# embedding_near_dup_pairs, the bench loop — can share ONE cell layout
# instead of re-running the Lloyd pass per query.  At 100 TB this is the
# "train once on a sample, reuse the index layout" contract of a real IVF
# build.  Driver-side state only (plain floats), so no session owns it.
_QUANTIZER_MEMO = SessionMemo(8)

# Verified embedding near-dup pair frames (localCheckpointed; see the
# local-mode note on dedup._SKETCH_MEMO).
_EMB_PAIRS_MEMO = SessionMemo(4)


SAMPLE_MOD = 4  # 1-in-4 deterministic training sample (vec_id % 4 == 0)


def _sample_predicate(extra_below: int):
    """Deterministic quantizer-training sample: every 4th vec_id, plus
    the low-id rows the caller needs anyway (init centroids / queries)."""
    return (F.pmod(F.col("vec_id"), F.lit(SAMPLE_MOD)) == 0) | (
        F.col("vec_id") < extra_below
    )


def _lloyd_local(sample_rows: list, k: int, iters: int):
    """Driver-local Lloyd over a collected sample — the 100 TB recipe
    (train the coarse quantizer on a hash-sample, index the full corpus
    with it).  Replaces one full-corpus mapInPandas pass per iteration
    with microseconds of numpy on ≤ a few hundred rows; update rule is
    identical to the old distributed trainer (only non-empty cells
    update, cell ids re-sort ascending, centroids L2-normalize so cosine
    argmax is dot argmax).  Deterministic: sample sorted by vec_id, ties
    in argmax break to the lowest cell id."""
    import numpy as np

    rows = sorted(sample_rows, key=lambda r: r["vec_id"])
    init = [r for r in rows if r["vec_id"] < k]
    if not init:  # empty corpus/sample: no cells, assignment emits nothing
        return [], []
    cids = [int(r["vec_id"]) for r in init]
    C = np.stack([np.asarray(r["v"], dtype=float) for r in init])
    cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    S = np.stack([np.asarray(r["v"], dtype=float) for r in rows])
    for _ in range(iters):
        best = (S @ cn.T).argmax(axis=1)
        sums = {}
        for j in np.unique(best):
            sel = S[best == j]
            sums[cids[j]] = (sel.shape[0], sel.sum(axis=0))
        cids = sorted(sums)
        C = np.stack([sums[c][1] / sums[c][0] for c in cids])
        cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    return cids, cn.tolist()


def _lloyd_distributed(vec: DataFrame, k: int, iters: int):
    """Full-corpus Lloyd: each iteration is ONE shuffle-free mapInPandas
    pass emitting per-partition (cell, count, vector-sum) partials that
    the driver combines (k x partitions tiny rows — MLlib's treeAggregate
    shape).  Used where cell placement must see every vector (the
    near-dup exactness pin); ivf_ann_topk uses the sampled local trainer
    instead.  Same update rule as _lloyd_local."""
    import numpy as np

    init_rows = sorted(
        vec.filter(F.col("vec_id") < k).select("vec_id", "v").collect(),
        key=lambda r: r["vec_id"],
    )
    if not init_rows:  # empty corpus: no cells, assignment emits nothing
        return [], []
    cids = [int(r["vec_id"]) for r in init_rows]
    C = np.stack([np.asarray(r["v"], dtype=float) for r in init_rows])
    cn = (C / np.linalg.norm(C, axis=1, keepdims=True)).tolist()
    for _ in range(iters):
        cn_now, cids_now = cn, cids

        def partials(batches):
            # self-contained closure (pickled by value; no module refs)
            import numpy as np
            import pandas as pd

            Cn = np.asarray(cn_now)
            ids = np.asarray(cids_now)
            for pdf in batches:
                M = np.stack(pdf["v"].to_numpy())
                best = (M @ Cn.T).argmax(axis=1)
                rows = []
                for j in np.unique(best):
                    sel = M[best == j]
                    rows.append(
                        {
                            "cid": int(ids[j]),
                            "n": int(sel.shape[0]),
                            "s": sel.sum(axis=0).tolist(),
                        }
                    )
                yield pd.DataFrame(rows)

        parts = (
            vec.select("v")
            .mapInPandas(partials, schema="cid long, n long, s array<double>")
            .collect()
        )
        sums = {}
        for r in sorted(parts, key=lambda r: r["cid"]):
            n0, s0 = sums.get(r["cid"], (0, np.zeros(len(r["s"]))))
            sums[r["cid"]] = (n0 + r["n"], s0 + np.asarray(r["s"]))
        cids = sorted(sums)
        C = np.stack([sums[c][1] / sums[c][0] for c in cids])
        cn = (C / np.linalg.norm(C, axis=1, keepdims=True)).tolist()
    return cids, cn


def _trained_quantizer(
    vec: DataFrame, sf_dir: str, k: int, iters: int, sample_mod: int | None = None
):
    """Memoized quantizer training.  ``sample_mod=None`` trains on the
    FULL corpus (one distributed pass per iteration — cell placement
    sees every vector; required by embedding_near_dup_pairs' pair-set ==
    exact pytest pin); ``sample_mod=m`` trains driver-locally on the
    deterministic 1-in-m sample (the 100 TB recipe; used by
    ivf_ann_topk, whose contract is a recall floor, not exactness)."""

    def build():
        if sample_mod is None:
            return _lloyd_distributed(vec, k, iters)
        sample = vec.filter(_sample_predicate(k)).select("vec_id", "v").collect()
        return _lloyd_local(sample, k, iters)

    return _QUANTIZER_MEMO.get(
        None, sf_dir, ("embeddings",), build, k, iters, sample_mod
    )


def _assign_topp_np(vec: DataFrame, cids: list, cn: list, n_probe: int) -> DataFrame:
    """Multi-probe assignment: each vector is emitted once per its
    ``n_probe`` nearest cells (centroid matrix captured by value — one
    numpy matmul per Arrow batch, NO join, NO shuffle)."""

    def assign_batches(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np

        C = np.asarray(cn)
        ids = np.asarray(cids)
        # A degenerate corpus (or training sample) can yield fewer cells
        # than the probe count; probing every cell is then the correct
        # semantics — without the clamp the repeat(p) index and the
        # reshape(-1) values disagree in length (caught by the
        # single-row degenerate sweep).
        p = min(n_probe, C.shape[0])
        for pdf in batches:
            M = np.stack(pdf["v"].to_numpy())
            top = np.argsort(-(M @ C.T), kind="stable", axis=1)[:, :p]
            out = pdf.loc[pdf.index.repeat(p)].copy()
            out["cell"] = ids[top].reshape(-1)
            yield out

    return vec.select("vec_id", "v", "nrm").mapInPandas(
        assign_batches,
        schema="vec_id long, v array<double>, nrm double, cell long",
    )


def _assign_np(vec: DataFrame, cids: list, cn: list) -> DataFrame:
    """Nearest-centroid assignment with the centroid matrix captured by
    value: one numpy matmul per Arrow batch — NO join, NO shuffle.  The
    centroid table is k×dim floats, the textbook broadcast-small-side
    case (MLlib KMeans ships centroids the same way); Catalyst's
    fold-based dot over n×k scored rows was the whole cost of a Lloyd
    iteration.  ``cn`` holds L2-normalized centroids so cosine argmax is
    dot argmax; ``cids`` ascending makes argmax's first-hit tiebreak the
    smallest cid.
    """

    def assign_batches(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np

        C = np.asarray(cn)
        ids = np.asarray(cids)
        for pdf in batches:
            M = np.stack(pdf["v"].to_numpy())
            yield pdf.assign(cid=ids[(M @ C.T).argmax(axis=1)])

    return vec.select("vec_id", "v", "nrm").mapInPandas(
        assign_batches, schema="vec_id long, v array<double>, nrm double, cid long"
    )


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: k-means-style coarse quantizer (16
    centroids, 1 Lloyd iteration over a deterministic 1-in-4 sample,
    init = lowest vec_ids; measured recall on the round-3 fixture: 0.92
    at sf0.1, 0.78 at sf0.01 — sample-trained cells trade ~0.06 recall
    for deleting a full corpus pass from the cold path; floor pinned at
    0.6), then each query probes its 4 nearest cells and ranks cell
    members by exact cosine.

    Training runs on a DETERMINISTIC 1-in-4 hash-sample collected in the
    SAME driver job that fetches init centroids and query vectors, with
    Lloyd iterated locally in numpy — the 100 TB recipe made literal
    (train the quantizer on a sample, index the full corpus with it):
    the cold path pays ONE bounded collect instead of a full-corpus
    mapInPandas pass per iteration.  At 100 TB: write the corpus
    partitioned by cell; nprobe bounds query I/O to nprobe/k of the
    data.  Rows-only + pytest recall vs cosine_topk.
    """
    import numpy as np

    # Iterative algorithm over one input: repartition (fixture files have
    # a single row group → single scan task) and persist, so the Lloyd
    # passes, the final assignment, and the probe/scoring joins all read
    # the cached projection instead of re-scanning parquet 6×.  On a
    # cluster this is the standard cache-the-training-set pattern.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    vec = _vectors_with_norm(spark, sf_dir).repartition(n_part).localCheckpoint(
        eager=False
    )
    # ONE driver job fetches both the deterministic init centroids
    # (vec_id < k) and the query vectors (vec_id < N_QUERIES): they are
    # filters on the same cached frame, and folding them halves the
    # cold-path plan-compilation jobs this algorithm pays before Lloyd.
    # On a quantizer-memo hit (cell layout already trained) only the
    # query rows are fetched and the Lloyd pass is skipped.
    qrows = None

    def build():
        nonlocal qrows
        head = (
            vec.filter(_sample_predicate(max(N_CENTROIDS, N_QUERIES)))
            .select("vec_id", "v", "nrm")
            .collect()
        )
        head.sort(key=lambda r: r["vec_id"])
        qrows = [r for r in head if r["vec_id"] < N_QUERIES]
        return _lloyd_local(head, N_CENTROIDS, LLOYD_ITERS)

    cids, cn = _QUANTIZER_MEMO.get(
        None, sf_dir, ("embeddings",), build, N_CENTROIDS, LLOYD_ITERS, SAMPLE_MOD
    )
    if qrows is None:
        qrows = sorted(
            vec.filter(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "v", "nrm")
            .collect(),
            key=lambda r: r["vec_id"],
        )

    corpus = _assign_np(vec, cids, cn)
    # Probe selection runs on the driver: queries (N_QUERIES rows, fetched
    # in the head collect above) and centroids (k×dim) are both tiny and
    # already local, so ranking cells in numpy replaces a broadcast join +
    # window subplan — two fewer exchanges and one less codegen'd stage on
    # the cold path.  lexsort (cid asc within equal similarity) matches
    # the old window's (cs desc, cid asc) order.
    Cn = np.asarray(cn)
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["v"], dtype=float)
        cs = (qv / r["nrm"]) @ Cn.T
        for j in np.lexsort((np.asarray(cids), -cs))[:N_PROBE]:
            probe_rows.append(
                (int(r["vec_id"]), [float(x) for x in qv], float(r["nrm"]), int(cids[j]))
            )
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qv array<double>, qnrm double, cid long"
    )
    # No dedup needed: the corpus side carries exactly ONE cell per vector
    # (_assign_np, single-probe) and a query's probe cells are distinct, so
    # each (query, neighbor) pair joins at most once — a dropDuplicates
    # here would be a pure extra shuffle over the scored set.
    scored = (
        probes.join(corpus, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def array_functions_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column function surface over embeddings: slicing, element
    access, length — the ops a feature-store consumer uses without
    unpacking vectors.

    Output shape: the head-4 slice is emitted via array_join as a
    comma-joined string of 6-dp decimals (driver outputs must be atomic
    columns; decimal formatting avoids double→string scientific-notation
    divergence between engines)."""
    vec = _vectors(spark, sf_dir)
    head4 = F.array_join(
        F.transform(
            F.slice("v", 1, 4), lambda x: F.round(x, 6).cast("decimal(18,6)").cast("string")
        ),
        ",",
    )
    return vec.select(
        "vec_id",
        F.size("v").cast("long").alias("dim"),
        F.round(F.element_at("v", 1), 6).alias("first_dim"),
        F.round(F.element_at("v", -1), 6).alias("last_dim"),
        head4.alias("head4"),
    )


PCA_COMPONENTS = 8


def pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection: mean + covariance accumulated in ONE
    shuffle-free mapInPandas pass (each partition emits its row count,
    coordinate sum, and X^T X partial — d×d doubles, the treeAggregate
    shape shared with the Lloyd passes), eigendecomposition of the 64×64
    covariance on the driver, and a second map-only pass projecting every
    vector onto the top-8 components — the standard
    whitening/dimensionality-reduction step before ANN indexing.

    Determinism: eigenvectors get a fixed sign convention (the
    largest-|coordinate| entry is made positive, lowest index on ties),
    eigenvalues are sorted descending with the index as tiebreak, and
    projections are rounded to 6 decimals, so the result is stable across
    partitionings and numpy builds.  Not SQL-expressible
    (eigendecomposition) — rows-only + pytest pins (orthonormal basis,
    monotone explained variance, diagonal projected covariance,
    partitioning invariance).

    Output shape: scalar rows (vec_id, component, value) via posexplode —
    the grading driver canonicalizes by hashing sorted values, so
    registered outputs must be atomic columns, never array<double>.

    At 100 TB: the accumulation pass streams the corpus once with k×d×d
    partial bytes per partition (d=64 → 32 KB) and the projection pass is
    embarrassingly parallel; only the d×d eigh is driver-side, identical
    at any corpus size.
    """
    import numpy as np

    vec = _vectors(spark, sf_dir).select("vec_id", "v")

    def cov_partials(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np
        import pandas as pd

        n, s, xtx = 0, None, None
        for pdf in batches:
            M = np.stack(pdf["v"].to_numpy())
            n += M.shape[0]
            s = M.sum(axis=0) if s is None else s + M.sum(axis=0)
            xtx = M.T @ M if xtx is None else xtx + M.T @ M
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "xtx": [xtx.reshape(-1).tolist()]}
            )

    parts = vec.select("v").mapInPandas(
        cov_partials, schema="n long, s array<double>, xtx array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    xtx = np.sum([np.asarray(r["xtx"]).reshape(DIM, DIM) for r in parts], axis=0)
    mu = s / n
    cov = (xtx - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-evals, kind="stable")[:PCA_COMPONENTS]
    W = evecs[:, order]  # (d, k)
    # fixed sign convention: largest-|coordinate| entry positive
    for j in range(W.shape[1]):
        i = int(np.argmax(np.abs(W[:, j])))
        if W[i, j] < 0:
            W[:, j] = -W[:, j]
    mu_l, W_l = mu.tolist(), W.tolist()  # captured by value

    def project(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np

        m = np.asarray(mu_l)
        P = np.asarray(W_l)
        for pdf in batches:
            M = np.stack(pdf["v"].to_numpy())
            Z = np.round((M - m) @ P, 6) + 0.0
            yield pdf.assign(pc=[z.tolist() for z in Z]).drop(columns=["v"])

    return vec.mapInPandas(project, schema="vec_id long, pc array<double>").select(
        "vec_id", F.posexplode("pc").alias("component", "value")
    ).withColumn("component", F.col("component").cast("int"))


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes): the mean vector
    of every label, emitted as (label, dimension, value) rows — the
    prototype computation behind nearest-class-mean classifiers, cluster
    summaries, and drift monitoring.

    Scale: posexplode fans each vector into 64 (label, pos) partials and
    the aggregation map-side-combines them — the shuffle carries
    |labels| × 64 partial sums, independent of corpus size.  No driver
    state, no collect.
    """
    v = _vectors(spark, sf_dir)
    pos = v.select("label", F.posexplode("v").alias("pos", "val"))
    return (
        pos.groupBy("label", "pos")
        .agg(
            (F.round(F.avg("val"), 6) + F.lit(0.0)).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "pos")
    )


def embedding_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label inertia: mean squared distance of each vector to its
    label centroid — the cluster-quality readout paired with
    :func:`label_centroids` (k-means inertia, class compactness, drift
    monitoring).

    Scale: centroids aggregate to |labels|×64 partials (map-side
    combine), join back onto the exploded coordinates per (label, pos),
    distances re-aggregate per vector then per label.  Two bounded-key
    shuffles plus one vec_id shuffle; no driver state.
    """
    v = _vectors(spark, sf_dir)
    p = v.select("vec_id", "label", F.posexplode("v").alias("pos", "val"))
    c = p.groupBy("label", "pos").agg(F.avg("val").alias("cv"))
    diff = F.col("val") - F.col("cv")
    d = (
        p.join(c, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(diff * diff).alias("dist2"))
    )
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.round(F.avg("dist2"), 6) + F.lit(0.0)).alias("avg_inertia"),
        )
        .orderBy("label")
    )


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: for each query vector, the 3
    most-similar corpus vectors with a DIFFERENT label — the pairs that
    teach an embedding model the most (high similarity, wrong class).

    Same broadcast-query/one-corpus-pass shape as cosine_topk; the label
    inequality rides the join condition, so mismatched pairs are never
    scored.  At 100 TB the corpus side swaps to the IVF/LSH candidate
    generator (similarity.py) — scoring only bucket-mates — while this
    exact form stays the recall oracle.
    """
    vec = _vectors_with_norm(spark, sf_dir)
    q = vec.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    ).filter(F.col("query_id") < N_QUERIES)
    scored = (
        vec.join(F.broadcast(q), F.col("label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neg_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("query_id", "query_label", "neg_id", "neg_label", "sim", "rk")
    )


def int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN: embeddings compress to int8 per dimension
    against corpus-wide min/max (4× memory over float32, 8× over the
    float64 compute form), and top-k runs entirely on the quantized
    vectors — the memory-bound regime's answer at 100 TB, where the
    index must fit in RAM and a ~1-bit precision loss is acceptable.

    The global min/max calibration arrives via broadcast crossJoin (no
    driver collect); scoring reuses the broadcast-query/one-pass-corpus
    shape.  Rows-only (quantization is engine-arithmetic specific);
    tests pin top-k overlap vs the exact cosine_topk and the
    determinism of the quantization grid.
    """
    vec = _vectors(spark, sf_dir)
    # corpus-wide calibration: one flat pass over all components
    comp = vec.select(F.explode("v").alias("c"))
    grid = comp.agg(
        F.min("c").alias("lo"), F.max("c").alias("hi")
    )
    qvec = (
        vec.crossJoin(F.broadcast(grid))
        .select(
            "vec_id",
            F.transform(
                "v",
                lambda x: F.round(
                    (x - F.col("lo")) / (F.col("hi") - F.col("lo")) * 254.0 - 127.0
                ).cast("int"),
            ).alias("qv8"),
        )
    )
    def inrm(col):
        return F.aggregate(
            F.transform(col, lambda a: (a * a).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # precompute norms once per vector (norm-in-the-row discipline, same
    # as _vectors_with_norm) so each pair costs ONE array traversal
    qvec = qvec.withColumn("qn", F.sqrt(inrm(F.col("qv8"))))
    q = qvec.select(
        F.col("vec_id").alias("query_id"),
        F.col("qv8").alias("query_qv8"),
        F.col("qn").alias("query_qn"),
    ).filter(F.col("query_id") < N_QUERIES)
    # int dot products: exact integer math on the quantized grid, so
    # ties and ordering are deterministic
    paired = qvec.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    idot = F.aggregate(
        F.zip_with("qv8", "query_qv8", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = paired.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(idot / (F.col("qn") * F.col("query_qn")), 6).alias("qsim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "qsim", "rk")
    )


TRUNC_DIM = 16


def matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval evaluation (Kusupati et al.,
    NeurIPS'22): per query, how many of the exact top-5 cosine neighbors
    survive when embeddings are truncated to their first 16 of 64
    dimensions — the measurement that decides whether a cheap
    truncated-vector index can front the full-dimension ranker.

    Plan shape: ONE pass over the corpus scores BOTH similarities (full
    and truncated arrays are precomputed as columns — never sliced
    inside the per-element lambda, the Catalyst duplication pitfall);
    the two rank windows share the query_id exchange; the overlap is a
    tiny per-query aggregate.  Scale: same broadcast-query /
    stream-corpus-once shape as cosine_topk — at 100 TB the truncated
    pass would run against a 4× smaller index file.
    """
    vec = _vectors(spark, sf_dir)
    both = (
        vec.withColumn("vt", F.slice("v", 1, TRUNC_DIM))
        .withColumn("nf", F.sqrt(sq_norm(F.col("v"))))
        .withColumn("nt", F.sqrt(sq_norm(F.col("vt"))))
    )
    q = both.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vt").alias("qt"),
        F.col("nf").alias("qnf"),
        F.col("nt").alias("qnt"),
    )
    scored = (
        both.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot(F.col("qv"), F.col("v")) / (F.col("qnf") * F.col("nf")), 6).alias("sf_"),
            F.round(dot(F.col("qt"), F.col("vt")) / (F.col("qnt") * F.col("nt")), 6).alias("st_"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("sf_").desc(), F.col("neighbor_id"))
    wt = Window.partitionBy("query_id").orderBy(F.col("st_").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rkf", F.row_number().over(wf))
        .withColumn("rkt", F.row_number().over(wt))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("rkf") <= TOP_K) & (F.col("rkt") <= TOP_K), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_common")
        )
        .orderBy("query_id")
    )


PQ_M = 8  # subvectors
PQ_KS = 64  # codewords per subspace
PQ_TRAIN_N = 1024  # training sample (hash-prefix of corpus)
PQ_SHORTLIST = 100  # ADC candidates per query before exact re-rank


def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011): vectors are
    split into 8 subvectors, each quantized to 1 of 16 codewords (8
    bytes total per vector — 64× compression of the 64-dim float
    corpus), and queries rank candidates by asymmetric distance
    computation (ADC): a per-query 8×16 lookup table of subspace dot
    products, summed per code.  The memory-bounded member of the ANN
    family (brute/LSH/IVF/int8 are the others).

    Codebooks are trained driver-side with seeded k-means on a
    deterministic corpus sample (vec_id < 512) — the train-on-a-sample
    pattern; at 100 TB the sample is a hash-sample and the codebooks
    broadcast exactly as here (captured by value in the Arrow closure).
    Encoding and scoring are each ONE mapInPandas pass (numpy matmuls);
    no shuffle beyond the final top-k.  Rows-only + pytest overlap
    floor vs exact cosine.
    """
    import numpy as np

    vec = _vectors_with_norm(spark, sf_dir)
    train = np.stack(
        [
            np.asarray(r["v"], dtype=np.float64)
            for r in vec.filter(F.col("vec_id") < PQ_TRAIN_N)
            .select("v")
            .collect()
        ]
    )
    qrows = (
        vec.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm").collect()
    )
    d_sub = train.shape[1] // PQ_M
    rng = np.random.default_rng(7)
    codebooks = []
    for m in range(PQ_M):
        X = train[:, m * d_sub : (m + 1) * d_sub]
        # seeded k-means: deterministic init from the sample, 5 Lloyd steps
        C = X[rng.choice(len(X), PQ_KS, replace=False)]
        for _ in range(5):
            a = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for k in range(PQ_KS):
                sel = X[a == k]
                if len(sel):
                    C[k] = sel.mean(axis=0)
        codebooks.append(C.tolist())

    queries_py = [
        (int(r["vec_id"]), [float(x) for x in r["v"]], float(r["nrm"])) for r in qrows
    ]
    topk = TOP_K

    def score_batches(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np
        import pandas as pd

        cb = [np.asarray(c) for c in codebooks]  # M × (KS, d_sub)
        M, KS = len(cb), cb[0].shape[0]
        ds = cb[0].shape[1]
        qs = [(qid, np.asarray(qv), qn) for qid, qv, qn in queries_py]
        # per-query ADC tables: table[m][k] = <q_m, c_{m,k}>
        tables = [
            np.stack([cb[m] @ q[m * ds : (m + 1) * ds] for m in range(M)])
            for _, q, _ in qs
        ]
        # codeword self-dot tables for the reconstructed norm
        cnorm = np.stack([np.einsum("kd,kd->k", cb[m], cb[m]) for m in range(M)])
        for pdf in batches:
            V = np.stack(pdf["v"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            codes = np.empty((len(V), M), dtype=np.int64)
            for m in range(M):
                X = V[:, m * ds : (m + 1) * ds]
                codes[:, m] = (
                    ((X[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
                )
            rhat = np.sqrt(
                np.sum(cnorm[np.arange(M)[None, :], codes], axis=1)
            )  # reconstructed norms
            out = []
            for (qid, _, qn), tab in zip(qs, tables):
                dots = np.sum(tab[np.arange(M)[None, :], codes], axis=1)
                sims = dots / (qn * np.maximum(rhat, 1e-12))
                for i in range(len(ids)):
                    if int(ids[i]) != qid:
                        out.append((qid, int(ids[i]), float(np.round(sims[i], 6))))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "sim"])

    scored = vec.select("vec_id", "v").mapInPandas(
        score_batches, schema="query_id long, neighbor_id long, sim double"
    )
    # stage 2: exact re-rank of the ADC shortlist (the standard PQ
    # retrieval topology — the compressed index prunes, the original
    # vectors decide), so output sims are EXACT cosines
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    shortlist = (
        scored.withColumn("rk0", F.row_number().over(w))
        .filter(F.col("rk0") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    probes = spark.createDataFrame(
        [(qid, qv, qn) for qid, qv, qn in queries_py],
        "query_id long, qv array<double>, qnrm double",
    )
    exact = (
        shortlist.join(
            vec.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm"),
            "neighbor_id",
        )
        .join(F.broadcast(probes), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
            ).alias("sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rk", F.row_number().over(w2).cast("int"))
        .filter(F.col("rk") <= topk)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by Mahalanobis distance — the
    covariance-aware anomaly score ((x−μ)ᵀ Σ⁻¹ (x−μ)) that catches
    points unusual in *correlated* directions where per-dimension
    z-scores see nothing.  The embedding-space data-quality screen for
    a training corpus (mislabeled / corrupted vectors surface first).

    Topology: μ and Σ come from ONE shuffle-free mapInPandas pass of
    per-partition (n, Σx, Σxxᵀ) partials (the same treeAggregate shape
    as PCA's covariance); the driver inverts the 64×64 matrix (trivial)
    and ships Σ⁻¹ by value into the scoring pass — no shuffle anywhere
    except the final top-k.  Rows-only (matrix inverse not in SQL);
    pytest pins determinism and that scores are nonnegative/finite.
    """
    import numpy as np

    vec = _vectors(spark, sf_dir)

    def cov_partials(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np
        import pandas as pd

        for pdf in batches:
            M = np.stack(pdf["v"].to_numpy())
            yield pd.DataFrame(
                {
                    "n": [int(M.shape[0])],
                    "sx": [M.sum(axis=0).tolist()],
                    "sxx": [(M.T @ M).reshape(-1).tolist()],
                }
            )

    parts = (
        vec.select("v")
        .mapInPandas(cov_partials, schema="n long, sx array<double>, sxx array<double>")
        .collect()
    )
    n = sum(r["n"] for r in parts)
    d = len(parts[0]["sx"])
    sx = np.zeros(d)
    sxx = np.zeros((d, d))
    # unique, content-based combine order: float sums must not depend on
    # partition arrival order
    for r in sorted(parts, key=lambda r: (r["n"], tuple(r["sx"]))):
        sx += np.asarray(r["sx"])
        sxx += np.asarray(r["sxx"]).reshape(d, d)
    mu = sx / n
    cov = sxx / n - np.outer(mu, mu)
    # ridge for numerical safety, then exact inverse on the driver
    prec = np.linalg.inv(cov + 1e-9 * np.eye(d))
    mu_l, prec_l = mu.tolist(), prec.tolist()

    def score_batches(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np
        import pandas as pd

        m = np.asarray(mu_l)
        P = np.asarray(prec_l)
        for pdf in batches:
            M = np.stack(pdf["v"].to_numpy()) - m
            # rowwise quadratic form
            sc = np.einsum("ij,jk,ik->i", M, P, M)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "score": np.round(sc, 6),
                }
            )

    scored = vec.select("vec_id", "v").mapInPandas(
        score_batches, schema="vec_id long, score double"
    )
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 20)
        .select("rk", "vec_id", "score")
        .orderBy("rk")
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the embedding matrix (mean / std / min /
    max per coordinate) — the column-profile pass that feeds feature
    scaling, dead-dimension detection, and quantization calibration.

    Scale: posexplode fans each vector into (dim, value) rows — at 100 TB
    this shuffles |rows|·|dims| skinny tuples hash-partitioned on dim,
    with map-side partial aggregation collapsing each partition to
    |dims| partials before the exchange; 64 groups aggregate exactly.
    Sums run through DECIMAL so cross-engine addition order cannot show.
    """
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select("dim", F.col("val").cast("double").alias("v"))
    dec = lambda c: c.cast("decimal(28,10)")
    agg = exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("v"))).alias("s1"),
        F.sum(dec(F.col("v") * F.col("v"))).alias("s2"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return agg.select(
        F.col("dim").cast("bigint").alias("dim"),
        "n",
        (F.round(mean, 6) + F.lit(0.0)).alias("mean_val"),
        (F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6) + F.lit(0.0)).alias("std_val"),
        (F.round(F.col("mn"), 6) + F.lit(0.0)).alias("min_val"),
        (F.round(F.col("mx"), 6) + F.lit(0.0)).alias("max_val"),
    ).orderBy("dim")


MMR_LAMBDA = 0.7
MMR_SHORTLIST = 50


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98) result
    diversification: for each query vector, shortlist the 50 most cosine-
    similar corpus vectors DISTRIBUTED (the expensive scan), then select 5
    greedily on the driver maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)
    — retrieval that trades pure relevance for coverage, the standard
    de-redundancy step after ANN in RAG/retrieval pipelines.

    Scale split: the corpus-wide scoring + per-query top-50 window is the
    same broadcast-query one-pass plan as cosine_topk (all heavy work);
    the greedy MMR loop is inherently sequential in k, so it runs on the
    driver over the BOUNDED 10×50 shortlist (the quantizer-partials
    pattern) — never a per-step distributed job.  Deterministic: shortlist
    tiebreaks on neighbor_id; the driver loop breaks score ties on
    neighbor_id asc.  Not SQL-expressible (iterative argmax over a growing
    selected set) — rows-only + numpy-oracle pytest.
    """
    import numpy as np

    vec = _vectors_with_norm(spark, sf_dir)
    q = vec.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    ).filter(F.col("query_id") < N_QUERIES)
    scored = vec.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "v",
        F.round(
            dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MMR_SHORTLIST)
        .select("query_id", "neighbor_id", "sim", "v")
        .collect()
    )
    by_q: dict = {}
    for r in short:
        by_q.setdefault(r["query_id"], []).append(r)
    out_rows = []
    for qid in sorted(by_q):
        cand = sorted(by_q[qid], key=lambda r: (-r["sim"], r["neighbor_id"]))
        V = np.stack([np.asarray(r["v"], dtype=float) for r in cand])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        sims = np.asarray([r["sim"] for r in cand])
        ids = [int(r["neighbor_id"]) for r in cand]
        selected: list[int] = []
        chosen_vecs = []
        for rank in range(1, TOP_K + 1):
            best_j, best_score = None, None
            for j in range(len(ids)):
                if j in selected:
                    continue
                red = (
                    max(float(Vn[j] @ c) for c in chosen_vecs)
                    if chosen_vecs
                    else 0.0
                )
                s = MMR_LAMBDA * sims[j] - (1.0 - MMR_LAMBDA) * red
                # deterministic: strict improvement, id asc on ties
                if best_score is None or s > best_score + 1e-12 or (
                    abs(s - best_score) <= 1e-12 and ids[j] < ids[best_j]
                ):
                    best_j, best_score = j, s
            if best_j is None:
                # shortlist exhausted (corpus smaller than TOP_K):
                # emit the truncated list instead of raising
                break
            selected.append(best_j)
            chosen_vecs.append(Vn[best_j])
            out_rows.append(
                (
                    int(qid),
                    rank,
                    ids[best_j],
                    float(sims[best_j]),
                    round(float(best_score) + 0.0, 6),
                )
            )
    return spark.createDataFrame(
        out_rows,
        "query_id long, rank int, neighbor_id long, sim double, mmr_score double",
    )


def procrustes_align_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthogonal Procrustes alignment between two embedding spaces — the
    model-migration primitive: when a new encoder re-embeds the corpus,
    the old index is reusable after solving min_R ||RB - A||_F over
    rotations (Schönemann 1966).  Space B here is a known orthogonal
    transform of A (coordinate reversal with alternating sign flips), so
    the solver must recover it to numerical zero — a self-validating
    setup with the same code path a real migration uses.

    Distributed shape (the PCA recipe): the cross-covariance M = Σ aᵢbᵢᵀ
    accumulates in ONE shuffle-free mapInPandas pass (64×64 partials per
    partition), the driver takes the 64×64 SVD (R = UVᵀ — constant work
    at any corpus size), and a second map-only pass scores per-vector
    alignment residuals ||Rbᵢ - aᵢ||.  Not SQL-expressible (SVD) —
    rows-only + pytest pins (R orthogonal, residual ≈ 0, label counts).
    """
    import numpy as np

    vec = _vectors(spark, sf_dir).select("vec_id", "v", "label")

    def cross_cov(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np
        import pandas as pd

        M = None
        for pdf in batches:
            A = np.stack(pdf["v"].to_numpy())
            sgn = np.asarray([1.0 if i % 2 == 0 else -1.0 for i in range(A.shape[1])])
            B = A[:, ::-1] * sgn  # the "new model": reverse + sign flips
            M = B.T @ A if M is None else M + B.T @ A
        if M is not None:
            yield pd.DataFrame({"m": [M.reshape(-1).tolist()]})

    parts = vec.select("v").mapInPandas(cross_cov, schema="m array<double>").collect()
    M = np.sum([np.asarray(r["m"]).reshape(DIM, DIM) for r in parts], axis=0)
    # min_R ||BR - A||_F with M = B^T A = U S V^T  =>  R = U V^T
    U, _, Vt = np.linalg.svd(M)
    R = (U @ Vt).tolist()  # rotation aligning B onto A, captured by value

    def residuals(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np

        Rm = np.asarray(R)
        sgn = np.asarray([1.0 if i % 2 == 0 else -1.0 for i in range(Rm.shape[0])])
        for pdf in batches:
            A = np.stack(pdf["v"].to_numpy())
            B = A[:, ::-1] * sgn
            res = np.linalg.norm(B @ Rm - A, axis=1)
            yield pdf.assign(resid=np.round(res, 6)).drop(columns=["v"])

    scored = vec.select(F.col("label").cast("int").alias("label"), "v").mapInPandas(
        residuals, schema="label int, resid double"
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.round(F.max("resid"), 6) + F.lit(0.0)).alias("max_residual"),
        )
        .orderBy("label")
    )


MAXSIM_QUERIES = 4


def colbert_maxsim_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval scoring: treat
    each label group as a multi-vector document and the first 4 vectors
    as query tokens; a document's score is Σ_q max_{v∈doc} cos(q, v) —
    the sum-of-max shape of Khattab & Zaharia (SIGIR'20), where every
    query token independently finds its best match inside the document.

    Plan: the 4-row query side broadcasts; ONE corpus pass scores all
    (query, vector) pairs; max-per-(query, label) then sum-per-label are
    two map-side-combined aggregations.  Self-matches are excluded.
    Determinism: each maxsim is rounded to 6 dp and the 4 per-query
    terms sum as DECIMAL(18,6) (order-free); rank ties break on label.

    At 100 TB: identical shape with real multi-vector docs — the scored
    pass is the ANN-prunable part (per query token, only its cell's
    candidates), and the sum-of-max aggregations never see raw vectors.
    """
    vec = _vectors_with_norm(spark, sf_dir)
    q = vec.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    ).filter(F.col("query_id") < MAXSIM_QUERIES)
    scored = vec.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("label").cast("int").alias("label"),
        (dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias("sim"),
    )
    per_q_label = scored.groupBy("label", "query_id").agg(
        F.round(F.max("sim"), 6).alias("maxsim")
    )
    w = Window.orderBy(F.col("score").desc(), F.col("label").asc())
    return (
        per_q_label.groupBy("label")
        .agg(
            F.sum(F.col("maxsim").cast("decimal(18,6)")).cast("double").alias("score"),
            F.count(F.lit(1)).alias("n_query_terms"),
        )
        .select(
            "label",
            (F.round("score", 6) + F.lit(0.0)).alias("score"),
            "n_query_terms",
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .orderBy("rank")
    )


# --- round-4 additions ------------------------------------------------

EVAL_QUERIES = 8
EVAL_K = 10
# DCG rank discounts 1/log2(k+1) and their prefix sums (ideal DCG),
# frozen as 12-dp DECIMAL LITERALS shared verbatim with the DuckDB
# oracle — zero libm in either engine's plan, and the ≤10-term DCG sums
# run in exact decimal, so group-aggregation order can't move a bit.
DCG_DISCOUNTS = (
    "1.000000000000", "0.630929753571", "0.500000000000", "0.430676558073",
    "0.386852807235", "0.356207187108", "0.333333333333", "0.315464876786",
    "0.301029995664", "0.289064826318",
)
IDCG_PREFIX = (
    "1.000000000000", "1.630929753571", "2.130929753571", "2.561606311644",
    "2.948459118879", "3.304666305987", "3.637999639320", "3.953464516106",
    "4.254494511770", "4.543559338088",
)


def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-retrieval evaluation — MRR@10, Recall@10, nDCG@10 per
    query, with "relevant" = shares the query's label (the standard IR
    eval harness every embedding-model data pipeline runs after
    building an index).

    Determinism: the rank discounts and ideal-DCG denominators are
    frozen decimal literals (no libm anywhere); DCG sums in exact
    decimal; reciprocal-rank and recall are single divisions of exact
    integers; nDCG rounds in scaled-integer space with per-query
    (sim desc, neighbor_id) ranking tiebroken uniquely.  Scale: the
    query side is 8 broadcast rows; the corpus streams once; ranking is
    a per-query window (WindowGroupLimit prunes to 10 rows per query
    before the metric join).
    """
    vec = _vectors_with_norm(spark, sf_dir)
    q = vec.filter(F.col("vec_id") < EVAL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("label").alias("qlabel"),
    )
    scored = vec.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (F.col("label") == F.col("qlabel")).cast("int").alias("rel"),
        F.round(
            dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), 6
        ).alias("sim"),
    )
    totals = scored.groupBy("query_id").agg(F.sum("rel").alias("n_rel"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    disc = F.element_at(
        F.array(*[F.lit(s).cast("decimal(18,12)") for s in DCG_DISCOUNTS]),
        F.col("rk"),
    )
    top = (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= EVAL_K)
        .groupBy("query_id")
        .agg(
            F.sum("rel").alias("hits"),
            F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("first_rel"),
            F.sum(
                F.when(F.col("rel") == 1, disc).otherwise(
                    F.lit("0").cast("decimal(18,12)")
                )
            ).alias("dcg"),
        )
    )
    idcg = F.element_at(
        F.array(*[F.lit(s).cast("decimal(18,12)") for s in IDCG_PREFIX]),
        F.least(F.lit(EVAL_K), F.col("n_rel")).cast("int"),
    )
    ndcg6 = (
        F.round(
            F.col("dcg").cast("double") / idcg.cast("double") * 1000000.0
        )
        .cast("bigint")
        .cast("double")
        / 1000000.0
    )
    return (
        top.join(totals, "query_id")
        .select(
            "query_id",
            F.col("n_rel").cast("bigint").alias("n_rel"),
            F.col("hits").cast("bigint").alias("hits_at_10"),
            F.when(
                F.col("first_rel").isNotNull(),
                F.lit(1.0) / F.col("first_rel"),
            )
            .otherwise(F.lit(0.0))
            .alias("rr_at_10"),
            F.when(
                F.col("n_rel") > 0,
                F.col("hits").cast("double") / F.col("n_rel"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall_at_10"),
            (
                F.when(F.col("n_rel") > 0, ndcg6).otherwise(F.lit(0.0))
                + F.lit(0.0)
            ).alias("ndcg_at_10"),
        )
        .orderBy("query_id")
    )


SEMDECON_HELDOUT = 50  # vec_id < 50 stand in for the eval/benchmark set
SEMDECON_TAU = 0.95


def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-level) train/test decontamination: flag every
    training vector whose cosine to ANY held-out benchmark vector
    reaches τ = 0.95 — the leakage check n-gram decontamination misses
    (paraphrases land near-parallel in embedding space while sharing no
    8-gram; this is decontaminate_ngram_overlap's semantic twin).

    Determinism: exact cosine (sequential-fold dot), per-vector MAX over
    the held-out side (max of identically-computed doubles is
    order-independent), rounded at 6 dp with exact comparisons.  Scale:
    the held-out side is small by definition (a benchmark) → broadcast;
    the corpus streams ONCE and aggregates by vec_id with map-side
    combine — the same plan at 100 TB with a bigger broadcast table.
    """
    vec = _vectors_with_norm(spark, sf_dir)
    held = vec.filter(F.col("vec_id") < SEMDECON_HELDOUT).select(
        F.col("vec_id").alias("held_id"),
        F.col("v").alias("hv"),
        F.col("nrm").alias("hnrm"),
    )
    train = vec.filter(F.col("vec_id") >= SEMDECON_HELDOUT)
    sim = dot(F.col("hv"), F.col("v")) / (F.col("hnrm") * F.col("nrm"))
    per_vec = (
        train.join(F.broadcast(held))
        .groupBy("vec_id")
        .agg(F.round(F.max(sim), 6).alias("max_sim"))
    )
    return per_vec.select(
        "vec_id",
        (F.col("max_sim") + F.lit(0.0)).alias("max_held_sim"),
        (F.col("max_sim") >= SEMDECON_TAU).alias("is_contaminated"),
    ).orderBy("vec_id")


def split_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-shift check between hash splits: assign every embedding
    to train/val with the deterministic multiplicative-hash recipe
    (train_split_assign's), compute each label's per-split centroid, and
    report the L2 distance between the two centroids — large drift on a
    label means the split is not exchangeable there (leakage or skew),
    the pre-flight eval-integrity check before trusting validation loss.

    Determinism: per-dimension sums run through DECIMAL (the
    embedding_dim_stats recipe) so addition order can't show; the 64
    squared-differences are 12-dp-quantized to DECIMAL before the final
    sum so the across-dim accumulation is exact too.

    Scale: one posexplode pass → (label, dim)-keyed partial-aggregated
    moments (|labels|·|dims| groups); everything after is arithmetic on
    a 640-row frame.
    """
    e = load_table(spark, sf_dir, "embeddings")
    is_train = (
        (F.col("vec_id") % 2147483647) * 2654435761
    ) % 2147483647 % 10 < 8
    exploded = e.select(
        "label",
        is_train.alias("train"),
        F.posexplode("embedding").alias("dim", "val"),
    ).select("label", "train", "dim", F.col("val").cast("double").alias("v"))
    dec = lambda c: c.cast("decimal(28,10)")
    agg = exploded.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("train"), dec(F.col("v")))).alias("s_t"),
        F.sum(F.when(~F.col("train"), dec(F.col("v")))).alias("s_v"),
        F.sum(F.col("train").cast("long")).alias("n_t"),
        F.sum((~F.col("train")).cast("long")).alias("n_v"),
    )
    diff = F.col("s_t").cast("double") / F.col("n_t") - F.col(
        "s_v"
    ).cast("double") / F.col("n_v")
    per_dim = agg.select(
        "label",
        "n_t",
        "n_v",
        F.round(diff * diff, 12).cast("decimal(28,12)").alias("d2"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.min("n_t").cast("bigint").alias("n_train"),
            F.min("n_v").cast("bigint").alias("n_val"),
            (
                F.round(F.sqrt(F.sum("d2").cast("double")), 6) + F.lit(0.0)
            ).alias("centroid_drift"),
        )
        .orderBy("label")
    )


def _semdedup_report(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """Shared tail of the SemDeDup pipeline: pair graph → min-label
    connected components → keep min vec_id per cluster → per-label drop
    report.  Factored so the pytest can run the exact pair graph through
    the identical tail and pin equality with the blocked path."""
    from .dedup import _cc_min_labels

    labels = _cc_min_labels(
        pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    lab = e.join(labels, "vec_id", "left").select(
        "vec_id",
        "label",
        F.coalesce("cluster_id", F.col("vec_id")).alias("cluster_id"),
    )
    kept = lab.withColumn(
        "keep", F.col("vec_id") == F.min("vec_id").over(
            Window.partitionBy("cluster_id")
        )
    )
    return (
        kept.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("keep").cast("long")).cast("bigint").alias("n_kept"),
        )
        .select(
            "label",
            "n_vecs",
            "n_kept",
            (F.col("n_vecs") - F.col("n_kept")).alias("n_dropped"),
            (
                F.round(
                    (F.col("n_vecs") - F.col("n_kept")).cast("double")
                    / F.col("n_vecs"),
                    6,
                )
                + F.lit(0.0)
            ).alias("drop_rate"),
        )
        .orderBy("label")
    )


def semdedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) composed end-to-end — the fourth
    composed flagship, next to corpus_curation_pipeline /
    user_feature_store / entity_resolution_pipeline: IVF-blocked
    embedding near-dup pairs (cosine ≥ 0.4, cell equi-join only — the
    measured-sublinear path of SCALE.md §8a) → connected components →
    keep the min-vec_id member per semantic cluster → per-label kept /
    dropped report, i.e. the whole "prune semantic duplicates before
    training" loop in one lazy composition.

    No SQL oracle: the quantizer cells aren't SQL-expressible, and at
    sf0.1 the blocked pair set is recall-0.956 against exact (operator
    docstring) so an exact-graph oracle would diverge there by design.
    The pytest pin runs the EXACT pair graph through the identical
    pipeline tail and asserts full-output equality at sf0.01, where the
    pair sets coincide.
    """
    pairs = embedding_near_dup_pairs(spark, sf_dir).select("id_a", "id_b")
    return _semdedup_report(spark, sf_dir, pairs)


CORESET_M = 64  # coreset size; ~N/8 at sf0.01, fixed so pins are exact


def coreset_kmeans_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lightweight k-means coreset via sensitivity sampling (Bachem,
    Lucic & Krause, "Scalable k-Means Clustering via Lightweight
    Coresets", KDD 2018): pick CORESET_M weighted vectors whose weighted
    k-means cost tracks the full corpus's for any candidate centers —
    the primitive that lets a 100 TB embedding table stand in for itself
    in driver-side model fitting (k-means/GMM refinement, elbow scans)
    after ONE distributed pass.

    Construction (all deterministic — no RNG):
    * coarse centers: the memoized sampled quantizer (k=16, 1 Lloyd
      iteration over the 1-in-4 hash sample — the IVF recipe);
    * one corpus pass computes each vector's nearest-center squared
      distance d² (numpy matmul per Arrow batch; no join, no shuffle);
    * sensitivity s(x) = ½·(1/N + d²(x)/Σd²)  (Σs = 1): mass splits
      between uniform coverage and outlier coverage;
    * sampling: Efraimidis–Spirakis weighted reservoir with the
      multiplicative-hash uniform u(vec_id) ∈ (0,1) and key
      ln(u)/s(x) — top-M by key is a TakeOrderedAndProject (bounded
      driver heap), never a global sort;  hash intermediates stay
      < 2^63 (reduce mod 2³¹−1 before the prime multiply);
    * weight w(x) = 1/(M·s(x)) — the Horvitz-Thompson-style inverse
      that keeps the weighted coreset cost an (approximately) unbiased
      estimate of the full cost.

    Scale: Σd²/N is a 2-double aggregate; scoring + top-M is one more
    pass over the (checkpointed) assignment.  Rows-only in the driver
    gate (quantizer centers aren't SQL-expressible); pytest pins
    determinism, exact size, positive weights, and the coreset
    property — weighted cost of the true centers within a band of the
    full-data cost (tests/test_pipeline_operators.py).
    """
    vec = _vectors_with_norm(spark, sf_dir)
    cids, cn = _trained_quantizer(vec, sf_dir, k=16, iters=1, sample_mod=SAMPLE_MOD)
    empty_schema = (
        "vec_id long, cell bigint, d2 double, sensitivity double, weight double"
    )
    if not cids:
        return spark.createDataFrame([], empty_schema)

    def assign_d2(batches):
        # self-contained closure (pickled by value; no module refs)
        import numpy as np
        import pandas as pd

        C = np.asarray(cn)
        ids = np.asarray(cids)
        for pdf in batches:
            M = np.stack(pdf["v"].to_numpy())
            scores = M @ C.T
            best = scores.argmax(axis=1)
            # centroids are L2-normalized: d² = |x|² + 1 − 2·(x·c_best)
            sq = (M * M).sum(axis=1)
            d2 = sq + 1.0 - 2.0 * scores[np.arange(len(best)), best]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": ids[best],
                    "d2": np.maximum(d2, 0.0),
                }
            )

    assigned = (
        vec.select("vec_id", "v")
        .mapInPandas(assign_d2, schema="vec_id long, cell long, d2 double")
        .localCheckpoint(eager=False)  # feeds the Σd² aggregate AND the scorer
    )
    tot = assigned.agg(
        F.count(F.lit(1)).alias("n"), F.sum("d2").alias("sum_d2")
    )
    p31 = 2147483647
    u = (
        ((F.col("vec_id") % p31) * 2654435761 % p31 + 1).cast("double")
        / (p31 + 1.0)
    )
    sens = 0.5 * (1.0 / F.col("n") + F.col("d2") / F.col("sum_d2"))
    scored = assigned.crossJoin(F.broadcast(tot)).select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        "d2",
        sens.alias("sensitivity"),
        (F.log(u) / sens).alias("es_key"),
    )
    return (
        scored.orderBy(F.col("es_key").desc(), F.col("vec_id"))
        .limit(CORESET_M)
        .select(
            "vec_id",
            "cell",
            (F.round("d2", 6) + F.lit(0.0)).alias("d2"),
            (F.round("sensitivity", 9) + F.lit(0.0)).alias("sensitivity"),
            (
                F.round(1.0 / (F.lit(CORESET_M) * F.col("sensitivity")), 4)
                + F.lit(0.0)
            ).alias("weight"),
        )
        .orderBy("vec_id")
    )


def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-maintenance report: per-cell occupancy of the coarse
    quantizer (the memoized ivf_ann_topk layout — 16 cells, sampled
    Lloyd), each cell's share of the corpus, its imbalance factor vs the
    mean cell, and whether the re-balance policy would SPLIT it
    (occupancy > 2× mean) or MERGE it (< ¼ mean) — the nightly health
    check a 100 TB IVF deployment runs before deciding to retrain or
    re-shard, because one hot cell turns nprobe-bounded reads into a
    full-scan of that cell.

    Scale: one assignment pass (numpy matmul per Arrow batch, no
    shuffle) + a 16-row aggregate; shares/factors are exact integer
    quotients emitted as identical doubles in both engines — but the
    cell ids come from the driver-side quantizer, so the driver gate is
    rows-only; pytest pins occupancy-sums-to-N, determinism, and policy
    consistency.
    """
    vec = _vectors_with_norm(spark, sf_dir)
    cids, cn = _trained_quantizer(
        vec, sf_dir, N_CENTROIDS, LLOYD_ITERS, sample_mod=SAMPLE_MOD
    )
    if not cids:
        return spark.createDataFrame(
            [],
            "cell bigint, n_vecs bigint, share double, imbalance double, "
            "action string",
        )
    assigned = _assign_np(vec, cids, cn)
    per_cell = assigned.groupBy(F.col("cid").cast("bigint").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    tot = per_cell.agg(
        F.sum("n_vecs").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    return (
        per_cell.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vecs",
            (
                F.col("n_vecs").cast("double") / F.col("n_total") + F.lit(0.0)
            ).alias("share"),
            (
                F.col("n_vecs").cast("double")
                * F.col("n_cells")
                / F.col("n_total")
                + F.lit(0.0)
            ).alias("imbalance"),
            F.when(
                F.col("n_vecs") * F.col("n_cells") > 2 * F.col("n_total"),
                F.lit("split"),
            )
            .when(
                F.col("n_vecs") * F.col("n_cells") * 4 < F.col("n_total"),
                F.lit("merge"),
            )
            .otherwise(F.lit("keep"))
            .alias("action"),
        )
        .orderBy("cell")
    )


def kmeans_integer_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations of k-means (k=8) over the embedding
    corpus in EXACT integer arithmetic — the first clustering entry in
    the registry that a SQL oracle can gate bit-for-bit (the IVF/PQ
    quantizers train in float via memoized mapInPandas partials
    (`_lloyd_distributed`), which no cross-engine check can replay).

    Exactness recipe: coordinates quantize once to non-negative bigints
    (q = round((v+1)*1e5); fixture values are within ±0.5, and the
    24-bit float mantissa times 1e5 stays exactly representable, so the
    round sees the same exact value in both engines); distances are
    int64 sums of squared differences (max 64 * (1.5e5)² ≈ 1.4e12);
    centroid updates are floor divisions of positive ints (Spark `div`
    == DuckDB `//` on non-negatives); the argmin ties break through the
    packed key min(dist*1024 + cid).  Every intermediate is an integer,
    so two engines running two full Lloyd rounds agree exactly —
    determinism strategy #6 (scaled-integer space) applied to an
    iterative algorithm.

    Scale: each iteration is one broadcast join of the k*64-row centroid
    table against the (vec_id, dim, q) points frame plus two
    map-side-combinable groupBys — the standard distributed Lloyd step
    (MLlib's treeAggregate shape) expressed relationally; per-iteration
    shuffle is O(n_vectors * k) narrow rows, never all-pairs.  Seeds
    are the k smallest vec_ids (deterministic; k-means|| sampling would
    add RNG the oracle cannot mirror), DENSIFIED to cluster ids 0..K-1
    before packing so the dist*1024+cid key never aliases on corpora
    whose smallest vec_ids exceed 1024 (round-8 advice): densification
    is an order-preserving relabel, so the packed-min tie-break (smallest
    seed wins) is unchanged.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _kmeans_integer_lloyd_core(emb)


def _kmeans_integer_lloyd_core(emb: DataFrame) -> DataFrame:
    """Core of :func:`kmeans_integer_lloyd` over an arbitrary
    ``(vec_id, embedding)`` frame — split out so tests can prove cluster
    assignments are invariant under a vec_id shift (+5000)."""
    K = 8
    pts = (
        emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "v")
        )
        .select(
            "vec_id",
            "dim",
            F.round((F.col("v").cast("double") + F.lit(1.0)) * F.lit(100000.0))
            .cast("bigint")
            .alias("q"),
        )
        .localCheckpoint(eager=False)
    )
    # densify seed ids to 0..K-1 (rank by vec_id) DRIVER-SIDE: a K-row
    # collect is a bounded shortlist (SURVEY §7.4 — the same class as
    # quantizer seeds), exactly how MLlib holds k-means centers on the
    # driver; the inline CASE mapping replaces a K×K densify join plus a
    # broadcast join per run (measured ~0.3s at sf0.1)
    seed_ids = [
        r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(K).collect()
    ]
    if not seed_ids:  # empty corpus: no seeds, no clusters
        return emb.sparkSession.createDataFrame(
            [], "cluster long, n_members long, inertia long, c0_mean double"
        )
    sid = F.lit(None).cast("bigint")
    for rank in range(len(seed_ids) - 1, -1, -1):
        sid = F.when(
            F.col("vec_id") == F.lit(seed_ids[rank]), F.lit(rank).cast("bigint")
        ).otherwise(sid)
    c0 = pts.where(F.col("vec_id").isin(seed_ids)).select(
        sid.alias("cid"), "dim", F.col("q").alias("cq")
    )

    def assign(centroids: DataFrame) -> DataFrame:
        d = (
            pts.join(F.broadcast(centroids), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum((F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq")))
                .alias("dist")
            )
        )
        return d.groupBy("vec_id").agg(
            F.min(F.col("dist") * 1024 + F.col("cid")).alias("akey")
        ).select(
            "vec_id",
            (F.col("akey") % 1024).alias("cid"),
            F.expr("akey div 1024").alias("dist"),
        )

    def update(assigned: DataFrame) -> DataFrame:
        return (
            pts.join(assigned.select("vec_id", "cid"), "vec_id")
            .groupBy("cid", "dim")
            .agg(F.expr("sum(q) div count(1)").alias("cq"))
        )

    a1 = assign(c0)
    c1 = update(a1)
    # the round-2 assignment feeds BOTH the final membership/inertia
    # aggregate and the round-2 centroid update (via c2/dim0): without a
    # checkpoint each consumer replays the whole two-round Lloyd chain
    # (the round-11 job audit measured 19 jobs / 44 stages, half of them
    # duplicate re-derivations of a2)
    a2 = assign(c1).localCheckpoint(eager=False)
    c2 = update(a2)
    dim0 = c2.where(F.col("dim") == 0).select(
        "cid", (F.col("cq") / 100000.0 - 1.0 + F.lit(0.0)).alias("c0_mean")
    )
    return (
        a2.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("dist").cast("long").alias("inertia"),
        )
        .join(dim0, "cid")
        .select(
            F.col("cid").cast("long").alias("cluster"),
            "n_members",
            "inertia",
            "c0_mean",
        )
        .orderBy("cluster")
    )


def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    SIGIR 2009): fuse the LEXICAL ranking (the BM25 arm shared with
    bm25_search, same fixed query) with a SEMANTIC ranking (cosine
    against a pseudo-relevance-feedback centroid — the exact-integer
    average of the lexical top-3 docs' embeddings, the classic
    "expand the query from its best lexical hits" shape), with
    rrf = 1/(60+rank_lex) + 1/(60+rank_sem) over the union of both
    top-20 lists.  This is the standard RAG retrieval stack — sparse +
    dense arms fused rank-wise so neither score scale dominates.

    Determinism (invariant 3): each arm's ranks carry doc_id
    tiebreaks over 6-dp-rounded scores; the centroid averages in
    scaled-INTEGER space (sum of round(x*1e9) bigints, then
    /count/1e9 — two IEEE ops mirrored verbatim); dot products fold
    left-to-right (matching DuckDB's list_dot_product — the
    cosine_topk precedent); the RRF sum is two exact divisions added
    in written order.  embeddings.vec_id ↔ documents.doc_id is the
    fixture's 1:1 key (the semantic_decontamination precedent).

    Scale: the lexical arm shuffles O(matching postings) like
    bm25_search; both top-20s are TakeOrderedAndProject heaps (rank
    windows run over ≤20 rows); the centroid is a 1-row broadcast; the
    semantic scan streams the corpus once.  The fused window covers
    ≤40 rows.  No corpus-sized window anywhere.
    """
    from .text import _bm25_scored

    scored = _bm25_scored(spark, sf_dir)
    wlex = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex = (
        scored.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
        # rank BEFORE the checkpoint: the window must sit directly over
        # the GlobalLimit so the plan (and the registry lint) can see
        # it is 20-row-bounded, not corpus-global
        .withColumn("lex_rank", F.row_number().over(wlex).cast("long"))
        .select("doc_id", "lex_rank")
        .localCheckpoint(eager=False)  # reused by top-3 AND the fusion
    )
    if not lex.take(1):
        # empty corpus (or zero query-term matches): no lexical seed,
        # no centroid — the typed empty answer, not a NaN ordering
        return spark.createDataFrame(
            [],
            "fused_rank long, doc_id long, lex_rank long,"
            " sem_rank long, rrf_score double",
        )
    top3 = lex.where(F.col("lex_rank") <= 3).select("doc_id")
    vec = _vectors_with_norm(spark, sf_dir)
    cent_parts = (
        vec.join(F.broadcast(top3), vec.vec_id == top3.doc_id)
        .select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum(F.round(F.col("x") * 1e9).cast("bigint")).alias("sx"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cv = (
        cent_parts.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        ((F.col("sx").cast("double") / F.col("n")) / F.lit(1e9)).alias("c"),
                    )
                )
            ).alias("ps")
        )
        .select(F.expr("transform(ps, s -> s.c)").alias("cv"))
        .withColumn("cnrm", F.sqrt(sq_norm(F.col("cv"))))
    )
    sem_scored = vec.join(F.broadcast(cv)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            dot(F.col("cv"), F.col("v")) / (F.col("cnrm") * F.col("nrm")), 6
        ).alias("sim"),
    )
    sem20 = sem_scored.orderBy(F.col("sim").desc(), F.col("doc_id")).limit(20)
    wsem = Window.orderBy(F.col("sim").desc(), F.col("doc_id"))
    sem = sem20.withColumn(
        "sem_rank", F.row_number().over(wsem).cast("long")
    ).select("doc_id", "sem_rank")
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("sem_rank")), F.lit(0.0))
    wf = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rrf_score", F.round(rrf, 9))
        .withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .where(F.col("fused_rank") <= 10)
        .select(
            "fused_rank",
            "doc_id",
            F.coalesce(F.col("lex_rank"), F.lit(-1)).cast("long").alias("lex_rank"),
            F.coalesce(F.col("sem_rank"), F.lit(-1)).cast("long").alias("sem_rank"),
            "rrf_score",
        )
        .orderBy("fused_rank")
    )
