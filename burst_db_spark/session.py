"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same configs apply per
executor. AQE handles runtime coalescing + skew joins so the static
``shuffle.partitions`` only needs to be a sane upper bound (~cores locally,
~2-3x total cores on a cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "burst_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    UTC session timezone is required for oracle parity: parquet timestamps
    are naive and DuckDB treats them as UTC-naive. The package root goes
    first on ``PYTHONPATH`` before the JVM starts, so Spark's Python
    workers import the same ``burst_db_spark`` as the driver from any
    working directory.
    """
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [_ROOT] + [p for p in paths if p and p != _ROOT])
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master.startswith("local"):
        # list every path on the driver: past this many paths Spark lists
        # through a job, one task per path, which in one JVM only adds
        # the job's fixed cost (a 60-date partitioned table, a 60-file glob)
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parallelism(spark: SparkSession) -> int:
    """The number of tasks a CPU-dense stage fans out to: the cluster's
    default parallelism (the core count in local mode)."""
    return spark.sparkContext.defaultParallelism


def broadcastable(n_rows: int) -> bool:
    """Whether a join side measured at ``n_rows`` rows is broadcast; past
    the gate it takes the hash equi-join, the 100 TB fallback."""
    return n_rows <= 500_000


def fan_out(df: DataFrame, *cols) -> DataFrame:
    """``df`` hash- (or round-robin-, with no ``cols``) repartitioned
    into :func:`parallelism` partitions.

    A single-file scan is one partition, so a CPU-dense row-wise stage
    over it (tokenize, hash, explode, distance folds, Python kernels)
    would run in one task. Row-wise stages give identical results on any
    partitioning, so spreading the rows first changes only the wall time.
    """
    return df.repartition(parallelism(df.sparkSession), *cols)
