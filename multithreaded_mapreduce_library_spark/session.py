"""SparkSession factory.

Local test harness runs ``local[N]`` (single JVM); the same configuration
is cluster-correct: AQE handles runtime partition coalescing and skew-join
splitting, shuffle parallelism scales with the cluster, and all operators in
this package are expressed declaratively so Catalyst chooses physical
strategies (broadcast vs sort-merge, codegen, pushdown) per deployment.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shlex
import shutil

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Python workers must import this package (the daemon module, mr_run's
# mappers) from any cwd, so its parent directory leads their PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A dynamic class-data archive (JEP 350) of the driver JVM's classes: the
# first session records it when its JVM exits cleanly, and every later
# session maps it instead of loading and verifying those classes again.
_CDS_MAGIC = 0xF00BABA8  # a dynamic archive's first 4 bytes, little-endian
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# dump mode otherwise prints hundreds of "[cds] Preload Warning" lines
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def _cds_key(spark_home: str, driver_mem: str) -> str | None:
    """``<hash>-<oops>``: the hash covers the java binary spark-class runs
    and every Spark jar (realpath, size, mtime), since an archive only maps
    onto the classes it was recorded from; ``<oops>`` is the heap's
    compressed-oops mode (on below 32 GiB), which must match too."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", driver_mem.strip().lower())
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = os.path.join(spark_home, "jars")
    if m is None or java is None or not os.path.isdir(jars):
        return None
    h = hashlib.sha256()
    for path in [java, *sorted(os.path.join(jars, n) for n in os.listdir(jars))]:
        real = os.path.realpath(path)
        st = os.stat(real)
        h.update(f"{real}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    heap = int(m.group(1)) * 1024 ** "bkmgt".index(m.group(2) or "b")
    return f"{h.hexdigest()[:16]}-{'coops' if heap < 32 * 1024**3 else 'nocoops'}"


def _is_archive(path: str) -> bool:
    """JDK 17 writes the header last, so a dump cut short reads as missing."""
    try:
        with open(path, "rb") as f:
            return int.from_bytes(f.read(4), "little") == _CDS_MAGIC
    except OSError:
        return False


def _cds_launch(java_opts: str, driver_mem: str) -> tuple[str, str] | None:
    """``(driver java options, empty conf dir)`` that map the archive, or
    record it if none is valid; None when it does not apply.

    It applies only to a driver JVM this call starts, on the stock
    classpath: CDS rejects a non-empty directory there, and Spark puts
    ``SPARK_CONF_DIR`` on it, so a conf dir holding any real file (the
    user's configuration wins) or caller flags that already choose a CDS
    mode turn it off. The archive lives in the user's cache, not TMPDIR
    (callers may point that into a directory they delete).
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if any(flag in java_opts for flag in _CDS_FLAGS):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(not n.endswith(".template") for n in os.listdir(conf_dir)):
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
        __package__,
    )
    empty = os.path.join(cache, "conf")
    try:
        key = _cds_key(spark_home, driver_mem)
        if key is None:
            return None
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(cache, os.W_OK):
            return None
        jsa = os.path.join(cache, f"{key}.jsa")
        if _is_archive(jsa):
            mode = "-XX:SharedArchiveFile="
        else:
            mode = "-XX:ArchiveClassesAtExit="
            # other JDKs' or jar sets' archives, ~140 MB each; the other
            # oops mode's archive for these classes stays
            stale = key.rsplit("-", 1)[0] + "-"
            for n in os.listdir(cache):
                if n.endswith(".jsa") and not n.startswith(stale):
                    os.remove(os.path.join(cache, n))
    except OSError:
        return None
    return " ".join(filter(None, (java_opts, mode + shlex.quote(jsa), _CDS_QUIET))), empty


@contextlib.contextmanager
def _conf_dir(path: str | None):
    """``SPARK_CONF_DIR`` set to ``path`` (if any) for one launch, then restored."""
    saved = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def env_count(name: str, default: int) -> int:
    """The integer >= 1 in environment variable ``name``, or ``default``
    when it is unset. Any other value raises naming the variable, so a
    bad override fails before a JVM starts, not inside it."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    if not raw.strip().isdecimal() or int(raw) < 1:
        raise ValueError(f"{name}={raw!r}: expected an integer >= 1")
    return int(raw)


def default_cpus() -> int:
    return env_count("SPARK_GRAFT_CPUS", 32)


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
    - A driver JVM this call starts maps the class-data archive in
      ``$XDG_CACHE_HOME/multithreaded_mapreduce_library_spark/`` (about
      3 s less start-up), or records it at a clean exit if none is there;
      the caller's ``spark.driver.extraJavaOptions`` are kept and the flags
      appended (``_cds_launch`` says when it is skipped).
    """
    cpus = cpus or default_cpus()
    shuffle_partitions = shuffle_partitions or cpus
    extra_conf = dict(extra_conf or {})
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, extra_conf.pop("spark.executorEnv.PYTHONPATH", None)) if p
    )
    driver_mem = extra_conf.get("spark.driver.memory") or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    cds = _cds_launch(extra_conf.get("spark.driver.extraJavaOptions", ""), driver_mem)
    if cds is not None:
        extra_conf["spark.driver.extraJavaOptions"] = cds[0]
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
        .config("spark.driver.memory", driver_mem)
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
    with _conf_dir(cds[1] if cds else None):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
