"""UDF registration surface (SURVEY.md §2.4): the Arrow-vectorized path
registers for SQL use and computes correctly."""

from pyspark.sql import functions as F

from mini_pandas_spark.functions.udf import register_pandas_udf


def test_register_pandas_udf(spark):
    register_pandas_udf(spark, "times_two_pd", lambda s: s * 2, "long")
    df = spark.range(5).select(F.expr("times_two_pd(id)").alias("v"))
    assert sorted(r["v"] for r in df.collect()) == [0, 2, 4, 6, 8]


def test_arrow_optimized_scalar_udf_matches_row_udf(spark):
    """Arrow-optimized scalar Python UDFs (Spark 3.5+ `useArrow=True`):
    same per-row semantics as the pickled row-at-a-time UDF, Arrow
    batch transfer instead — the conf-free opt-in form.  Pin equality
    against the plain UDF and a pure column expression on a value with
    a Python-specific edge (negative floor division)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def arrow_fd(x):
        return (x - 7) // 3

    @udf("long", useArrow=False)
    def row_fd(x):
        return (x - 7) // 3

    df = spark.range(-10, 11).select(
        arrow_fd(F.col("id")).alias("a"),
        row_fd(F.col("id")).alias("r"),
        F.floor((F.col("id") - 7) / 3).cast("long").alias("c"),
    )
    rows = df.collect()
    assert all(r.a == r.r == r.c for r in rows), rows[:5]
