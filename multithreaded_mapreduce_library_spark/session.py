"""SparkSession factory.

Local test harness runs ``local[N]`` (single JVM); the same configuration
is cluster-correct: AQE handles runtime partition coalescing and skew-join
splitting, shuffle parallelism scales with the cluster, and all operators in
this package are expressed declaratively so Catalyst chooses physical
strategies (broadcast vs sort-merge, codegen, pushdown) per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Python workers must import this package (the daemon module, mr_run's
# mappers) from any cwd, so its parent directory leads their PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "multithreaded-mapreduce-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Notes on the knobs:
    - ``spark.sql.shuffle.partitions`` ≈ cores in local mode; on a real
      cluster this would be 2-3× total executor cores, and AQE coalesces
      small post-shuffle partitions automatically either way.
    - AQE + skewJoin: runtime re-planning; the scale story for skewed keys.
    - UTC session timezone: parquet fixtures are tz-naive; pinning UTC makes
      timestamp semantics match the DuckDB oracle byte-for-byte.
    - Arrow: vectorized toPandas/pandas-UDF transfer.
    - Python workers fork from ``worker_daemon``, which stops CPython < 3.13
      re-reading pyspark.zip and the spark-core jar before every task
      (0.1-0.4 s per task); the package's parent directory goes first on the
      workers' ``PYTHONPATH``, ahead of any value ``extra_conf`` gives.
    """
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    extra_conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, extra_conf.pop("spark.executorEnv.PYTHONPATH", None)) if p
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r21 A/B note: coalescePartitions.parallelismFirst=false
        # (size-based post-shuffle coalescing, guide §2.2) was measured
        # against the default over two clean-canary-bracket bench runs
        # per arm — sum of per-query bests 7.722s vs 7.715s, a wash at
        # sf0.1 (AQE already coalesces the tiny local shuffles; the
        # post-shuffle stages here are small aggs either way), so the
        # Spark default stands. Revisit on a real cluster where reduce
        # partition sizing matters (OPTIMIZATION_r21.md).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # named, not imported: runpy warns on a module already imported
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
