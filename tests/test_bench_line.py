"""Pins bench.py's driver-facing final line under the measured stdout cap.

The grading driver keeps only the last 2000 characters of bench stdout and
parses the final JSON line.  Rounds 2-4 recorded ``"parsed": null`` because
the full per-query map overflowed that tail.  bench.final_line must therefore
stay under FINAL_BUDGET (1800) even in a worst case far beyond the real
registry: 300 queries with 40-char names and large float timings.
"""

import json

import bench


def _record(n_queries: int, name_len: int = 40) -> dict:
    queries = {
        ("q" + str(i)).ljust(name_len, "x"): 1234.567 + i for i in range(n_queries)
    }
    return {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
    }


def test_final_line_under_driver_tail_cap_worst_case():
    line = bench.final_line(_record(300))
    assert len(line) < bench.FINAL_BUDGET < 2000
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_suite_wall_clock"
    assert parsed["value"] == _record(300)["value"]
    assert parsed["full_record"] == "BENCH_LOCAL.json"
    assert len(parsed["queries"]) <= bench.MAX_FINAL_QUERIES
    assert parsed["queries_omitted"] == 300 - len(parsed["queries"])


def test_final_line_keeps_slowest_queries():
    rec = _record(50, name_len=8)
    line = bench.final_line(rec)
    parsed = json.loads(line)
    kept = parsed["queries"]
    # The kept entries must be exactly the slowest MAX_FINAL_QUERIES.
    expected = dict(
        sorted(rec["queries"].items(), key=lambda kv: -kv[1])[: bench.MAX_FINAL_QUERIES]
    )
    assert set(kept) == set(expected)
    for k, v in kept.items():
        assert v == round(expected[k], 2)


def test_final_line_current_headline_suite_fits():
    # The real suite: every HEADLINE name with a plausible timing.
    queries = {name: 3.141 for name in bench.HEADLINE}
    rec = {
        "metric": "headline_suite_wall_clock",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
    }
    line = bench.final_line(rec)
    assert len(line) < bench.FINAL_BUDGET
    json.loads(line)


def test_final_line_property_never_overflows():
    """Property: for ANY query map (names up to 64 chars, values up to
    1e6, up to 500 entries), the final line stays under budget and
    round-trips the exact total."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    names = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_0123456789", min_size=1, max_size=64
    )
    timings = st.dictionaries(
        names, st.floats(min_value=0, max_value=1e6, allow_nan=False), max_size=500
    )

    @settings(max_examples=200, deadline=None)
    @given(timings=timings)
    def check(timings):
        rec = {
            "metric": "headline_suite_wall_clock",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": 0.1,
        }
        line = bench.final_line(rec)
        assert len(line) < bench.FINAL_BUDGET
        parsed = json.loads(line)
        assert parsed["value"] == rec["value"]
        assert set(parsed["queries"]) <= set(timings)

    check()


def test_bench_warmup_imports_match_inventory():
    """Benchmark-accounting lint (VERDICT_r11 'What's wrong' #1,
    condition b): bench.py's warmup may pre-build ONLY the standing
    infrastructure named in BASELINE.md's 'Unbilled warmup inventory'.
    Any new import inside bench.warm() (the warmup every timing tool
    shares) or bench.main() (the timing body) fails here until a
    verdict item sanctions it AND the inventory table gains a row for
    it."""
    import ast
    import os

    bench_path = os.path.join(os.path.dirname(bench.__file__), "bench.py")
    tree = ast.parse(open(bench_path).read())
    fns = [
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name in ("warm", "main")
    ]
    assert sorted(f.name for f in fns) == ["main", "warm"]
    imported = set()
    for node in (n for fn in fns for n in ast.walk(fn)):
        if isinstance(node, ast.ImportFrom):
            for alias in node.names:
                imported.add(f"{node.module}.{alias.name}")
        elif isinstance(node, ast.Import):
            for alias in node.names:
                imported.add(alias.name)

    # The frozen inventory: every entry maps to a row in BASELINE.md's
    # 'Unbilled warmup inventory' table (engine warmups + sanctioned
    # standing builds).  Additions require a verdict item by name.
    allowed = {
        # engine warmups (JVM/codegen/worker-pool/table-scan)
        "pyspark.sql.functions",
        "pyspark.sql.functions.pandas_udf",
        "mini_pandas_spark.sources.TABLE_NAMES",
        "mini_pandas_spark.sources.load_table",
        # standing infrastructure, each with an inventory row
        "mini_pandas_spark.streaming.windows._events_dir_with_sentinels",
        "mini_pandas_spark.streaming.windows._standing_index_tables",
        "mini_pandas_spark.streaming.state_reader.build_standing_state_checkpoints",
        "mini_pandas_spark.streaming.ingest._ingest_artifacts",
        "mini_pandas_spark.operators.layout.hilbert_layout_table",
        "mini_pandas_spark.operators.layout.quantized_layout_table",
        "mini_pandas_spark.operators.layout.zorder_layout_table",
        "mini_pandas_spark.operators.relational._bucketed_order_tables",
        "mini_pandas_spark.operators.relational._partitioned_orders_path",
        # concurrency plumbing for the builds (guide §2.6) and the
        # main-thread conf pre-set that keeps the pooled builders'
        # conf calls idempotent (ADVICE r11) — not pre-builds
        "concurrent.futures.ThreadPoolExecutor",
        "mini_pandas_spark.session.ensure_runtime_confs",
    }
    unexpected = imported - allowed
    assert not unexpected, (
        "bench.warm()/main() import outside the frozen unbilled-warmup "
        f"inventory: {sorted(unexpected)} — a new warmup pre-build needs "
        "a verdict sanction plus a BASELINE.md inventory row first"
    )

    baseline = open(
        os.path.join(os.path.dirname(bench_path), "BASELINE.md")
    ).read()
    assert "## Unbilled warmup inventory" in baseline
    for name in (
        "_standing_index_tables",
        "_events_dir_with_sentinels",
        "build_standing_state_checkpoints",
        "_ingest_artifacts",
        "zorder_layout_table",
        "_bucketed_order_tables",
        "_partitioned_orders_path",
    ):
        assert name in baseline, f"inventory table missing {name}"
