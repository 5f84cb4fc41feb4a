"""SparkSession construction and runtime configuration.

The engine targets a large multi-executor cluster; locally we run
``local[N]``.  All scale-relevant settings (AQE, shuffle partitions,
broadcast threshold) are centralized here so bench/tests/driver share one
tuned profile.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark.sql import SparkSession

# Confs that must be present for this repo's datasets / plan quality.
# They are all session-settable at runtime (verified on pyspark 4.1).
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects; read as epoch-nanos long and convert (see sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
    # ones, convert sort-merge to broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs evaluate through Arrow batches (ArrowEvalPythonUDTF)
    # instead of row-at-a-time BatchEvalPythonUDTF pickling.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Deterministic timestamp rendering regardless of host zone.
    "spark.sql.session.timeZone": "UTC",
    # Custom Python DataSources may implement pushFilters (sources/
    # synthetic.py); planning asserts this flag when they do.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an externally-created session (e.g. the
    driver's).  Safe to call repeatedly."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime on this build — leave as-is.
            pass
    return spark


# The fork-free local file system (jvm/NioLocalFileSystem.java), compiled
# once per source + Hadoop jar into a cache next to the source, the way
# __pycache__ works.
NIO_FS_CLASS = "mini_pandas_spark.jvm.NioLocalFileSystem"
_NIO_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java"
)
JAR_CACHE = os.path.join(os.path.dirname(_NIO_FS_SOURCE), "__jarcache__")
JAVAC_TIMEOUT_S = 120


def _compile_jar(javac: str, hadoop_jar: str, jar: str) -> None:
    """javac the source against ``hadoop_jar`` and write the classes to
    ``jar`` atomically (temp file, then ``os.replace``)."""
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=os.path.dirname(jar))
    try:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", hadoop_jar,
             "-d", classes, _NIO_FS_SOURCE],
            check=True, capture_output=True, timeout=JAVAC_TIMEOUT_S,
        )
        staged = os.path.join(tmp, "out.jar")
        with zipfile.ZipFile(staged, "w") as zf:
            for root, _, files in os.walk(classes):
                for f in files:
                    path = os.path.join(root, f)
                    zf.write(path, os.path.relpath(path, classes))
        os.replace(staged, jar)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def local_fs_confs() -> dict[str, str]:
    """Builder confs that swap Hadoop's local file system for
    ``NioLocalFileSystem``, or ``{}`` when its jar cannot be had.

    Without libhadoop, ``RawLocalFileSystem.setPermission`` forks
    ``chmod`` for every permissioned create and mkdir: every checkpoint,
    state-store and parquet file a drain or a write makes.  The jar is
    built at most once per hash of the source and the Hadoop jar name;
    when javac is missing, fails or times out, or the cache is
    unwritable, this returns ``{}`` and the session keeps the stock file
    system.  Speed only: results never depend on which one runs (the
    driver's bare session keeps the stock one)."""
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    hadoop = sorted(glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar")))
    if not hadoop:
        return {}
    with open(_NIO_FS_SOURCE, "rb") as fh:
        key = hashlib.sha256(fh.read() + os.path.basename(hadoop[-1]).encode())
    jar = os.path.join(JAR_CACHE, f"NioLocalFileSystem-{key.hexdigest()[:16]}.jar")
    if not os.path.exists(jar):
        javac = shutil.which("javac")
        if javac is None:
            return {}
        try:
            _compile_jar(javac, hadoop[-1], jar)
        except (OSError, subprocess.SubprocessError):
            return {}
    return {"spark.driver.extraClassPath": jar, "spark.hadoop.fs.file.impl": NIO_FS_CLASS}


def get_spark(
    app_name: str = "mini-pandas-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned local session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores.  On a real
    cluster the same confs apply; only ``master`` changes.
    ``extra_confs`` are applied at BUILD time — required for static
    confs (e.g. spark.io.compression.codec) that reject runtime sets;
    they only take effect when this call actually creates the session.

    The builder also carries ``local_fs_confs()``: the fork-free local
    file system's jar on ``spark.driver.extraClassPath`` (after any
    caller value) and its class as ``spark.hadoop.fs.file.impl``.  The
    first build per source hash runs javac (about a second); when that
    cannot work the session is built exactly as without it.  Which file
    system a session runs shows in its ``spark.hadoop.fs.file.impl``
    (unset: Hadoop's stock one).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    confs = local_fs_confs()
    for k, v in (extra_confs or {}).items():
        if k == "spark.driver.extraClassPath" and k in confs:
            v = v + os.pathsep + confs[k]
        confs[k] = v
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_runtime_confs(spark)
