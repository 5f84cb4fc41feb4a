"""The workloads' op lists, the ``MiniFrame`` veneer ops with their
pandas references, and the veneer's seeded input data.

- ``batch_fresh``: batch HEADLINE rows of the registry plus two veneer
  ops (the reference's flagship mask→project→``to_list`` pipeline and a
  ``groupby().agg``) on seed-generated data shaped like the reference's
  products fixture.  Every pass reads a fresh fixture copy, so every
  session memo is rebuilt per pass.
- ``stream_drains``: HEADLINE streaming drains, each pass on a fresh copy.
"""

from __future__ import annotations

import math
import random
import string

BATCH_OPS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "topk_orders",
    "join_broadcast_dims",
    "window_rank_orders",
    "text_quality",
    "token_count_docs",
    "dedup_exact",
    "minhash_lsh_pairs",
    "cosine_topk",
]

STREAM_OPS = [
    "streaming_hourly_counts",
    "streaming_dedup_user_days",
    "streaming_epoch_log_sink",
    "state_store_user_totals",
]

VENEER_ROWS = 20_000
_CATEGORIES = ["tools", "garden", "toys", "books", "food", "audio", "video", "games"]


def veneer_data(seed: int, n: int = VENEER_ROWS) -> dict[str, list]:
    """The products table: the reference schema plus a category."""
    rng = random.Random(seed)
    alphabet = string.ascii_uppercase + string.digits
    return {
        "SKU": ["".join(rng.choices(alphabet, k=3)) for _ in range(n)],
        "category": [rng.choice(_CATEGORIES) for _ in range(n)],
        "price": [round(rng.uniform(0, 10), 4) for _ in range(n)],
        "sales": [rng.randint(0, 100) for _ in range(n)],
        "taxed": [rng.random() < 0.5 for _ in range(n)],
    }


# Each veneer op takes the session, the data and a ``phase`` context
# manager.  It constructs its frames in the ``build`` phase and composes
# the lazy expression in the ``expr`` phase, then returns the frame whose
# plan the expression ends in and a callable that runs it, collecting a
# plain Python result to the driver.

def flagship(spark, data, phase):
    from mini_pandas_spark import MiniFrame

    with phase("build"):
        df = MiniFrame.from_dict(spark, data)
    with phase("expr"):
        mask = (df["price"] + 5.0 > 10.0) & (df["sales"] > 3) & ~df["taxed"]
        hits = df[mask]
    return hits, lambda: hits["SKU"].to_list()


def groupby_agg(spark, data, phase):
    from mini_pandas_spark import MiniFrame

    with phase("build"):
        df = MiniFrame.from_dict(spark, data)
    with phase("expr"):
        out = df.groupby("category").agg(
            {"price": ["mean", "max"], "sales": ["sum", "count"]}
        )
    return out, lambda: sorted(out.collect())


VENEER_OPS = {
    "flagship_mask_to_list": flagship,
    "groupby_agg": groupby_agg,
}


def pandas_expected(data: dict) -> dict:
    """What each veneer op must return, computed with pandas."""
    import pandas as pd

    p = pd.DataFrame(data)
    m = (p["price"] + 5.0 > 10.0) & (p["sales"] > 3) & ~p["taxed"]
    g = p.groupby("category").agg(
        price_mean=("price", "mean"), price_max=("price", "max"),
        sales_sum=("sales", "sum"), sales_count=("sales", "count"),
    ).reset_index()
    return {
        "flagship_mask_to_list": p[m]["SKU"].tolist(),
        "groupby_agg": sorted(
            (r.category, r.price_mean, r.price_max, int(r.sales_sum), int(r.sales_count))
            for r in g.itertuples()
        ),
    }


def same(got, want) -> bool:
    """Equality with a relative tolerance of 1e-9 on floats: Spark and
    pandas sum in different orders."""
    if isinstance(want, float) or isinstance(got, float):
        return (got is not None and want is not None
                and math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9))
    if isinstance(want, (list, tuple)):
        return (isinstance(got, (list, tuple)) and len(got) == len(want)
                and all(same(a, b) for a, b in zip(got, want)))
    return got == want


WORKLOADS = {
    "batch_fresh": BATCH_OPS + list(VENEER_OPS),
    "stream_drains": STREAM_OPS,
}

# the wall time of one warm pass on a quiet 4-vCPU host, in seconds: a
# run makes ``--seconds`` / this many timed passes (``harness.timed_passes``)
NOMINAL_PASS_S = {
    "batch_fresh": 8.0,
    "stream_drains": 7.0,
}
