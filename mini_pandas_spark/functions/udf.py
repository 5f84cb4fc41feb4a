"""UDF registration surface (SURVEY.md §2.4).

The reference has no UDFs; this engine exposes the full Spark UDF family
but keeps every built-in operator UDF-free.  The wrapper exists so users
of the engine register functions through one audited entry point on the
Arrow-vectorized path.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def register_pandas_udf(spark: SparkSession, name: str, fn, return_type: str):
    """Arrow-vectorized pandas UDF (Series -> Series), ~10-100× the
    row-at-a-time throughput.  ``fn`` must be self-contained (no module
    globals) so workers can unpickle it regardless of driver cwd."""
    from pyspark.sql.functions import pandas_udf

    return spark.udf.register(name, pandas_udf(fn, return_type))
