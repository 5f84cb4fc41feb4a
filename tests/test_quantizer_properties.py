"""Property tests for the driver-local quantizer trainer — pure numpy,
no SparkSession: the properties that make the memoized sampled trainer
safe to share across queries and partitionings.

- ORDER INVARIANCE: _lloyd_local sorts its sample internally, so any
  permutation of the collected rows (collect order is partition order,
  which is not deterministic in general) yields identical centroids.
- CONTRACT: cell ids ascending; centroids L2-normalized; k cells unless
  Lloyd emptied some (then fewer, never more).
"""

import math

from hypothesis import given, settings, strategies as st


def _rows(vecs):
    return [{"vec_id": i, "v": v} for i, v in enumerate(vecs)]


vec_strategy = st.lists(
    st.lists(
        st.floats(
            min_value=-10.0, max_value=10.0, allow_nan=False, allow_infinity=False
        ),
        min_size=4,
        max_size=4,
    ).filter(lambda v: sum(x * x for x in v) > 1e-6),
    min_size=4,
    max_size=24,
)


@settings(max_examples=60, deadline=None)
@given(vecs=vec_strategy, seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_lloyd_local_is_sample_order_invariant(vecs, seed):
    import random

    from mini_pandas_spark.operators.similarity import _lloyd_local

    k = min(3, len(vecs))
    rows = _rows(vecs)
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    cids_a, cn_a = _lloyd_local(rows, k, iters=1)
    cids_b, cn_b = _lloyd_local(shuffled, k, iters=1)
    assert cids_a == cids_b
    assert cn_a == cn_b  # bit-identical: same sorted fold order inside


@settings(max_examples=60, deadline=None)
@given(vecs=vec_strategy)
def test_lloyd_local_contract(vecs):
    from mini_pandas_spark.operators.similarity import _lloyd_local

    k = min(3, len(vecs))
    cids, cn = _lloyd_local(_rows(vecs), k, iters=1)
    assert cids == sorted(cids)
    assert 1 <= len(cids) <= k
    assert len(cn) == len(cids)
    for c in cn:
        assert math.isclose(sum(x * x for x in c), 1.0, rel_tol=1e-9)


def test_quantizer_memo_fingerprint_and_lru(spark, tmp_path, monkeypatch):
    """Memo contract: two sf_dirs coexist; rewriting a fixture in-place
    invalidates its entry (mtime+size fingerprint); the cache is
    LRU-bounded."""
    from pyspark.sql import functions as F

    from mini_pandas_spark.memo import SessionMemo
    from mini_pandas_spark.operators import similarity as sim

    def write_dir(name, scale):
        out = tmp_path / name
        df = spark.range(64).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: (F.col("id") * scale + i).cast("float"),
            ).alias("embedding"),
            F.lit(0).alias("label"),
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            str(out / "embeddings.parquet")
        )
        return str(out)

    monkeypatch.setattr(sim, "_QUANTIZER_MEMO", SessionMemo(8))
    d1, d2 = write_dir("sfA", 1.0), write_dir("sfB", 2.0)

    def train(d):
        vec = sim._vectors_with_norm(spark, d)
        return sim._trained_quantizer(vec, d, 4, 1, sample_mod=2)

    r1, r2 = train(d1), train(d2)
    assert len(sim._QUANTIZER_MEMO) == 2  # two sf dirs coexist
    assert train(d1) is r1  # memo hit, same object

    import time

    time.sleep(0.05)
    write_dir("sfA", 3.0)  # in-place rewrite → new fingerprint
    r1b = train(d1)
    assert r1b is not r1, "stale cell layout reused after fixture rewrite"
    assert len(sim._QUANTIZER_MEMO) == 3

    sim._QUANTIZER_MEMO.max_entries = 2
    train(write_dir("sfC", 4.0))
    assert len(sim._QUANTIZER_MEMO) <= 2  # LRU bound enforced
