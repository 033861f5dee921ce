"""Parquet sources for the fixture tables (TESTDATA.md / FIXTURES.md).

The reference's only source is one-file-per-map-task text input
(`mapreduce.c:173-175`, `distwc.c:8-13`); Spark's parquet reader subsumes it
(splittable files, column pruning, predicate pushdown). The reference-native
text-file path is provided by :mod:`..mapreduce` for the facade.
"""

from __future__ import annotations

import hashlib
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


# The session confs that shape parquet schema inference; a change to any
# of them infers the file's schema again.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
)

# session -> {realpath: (stamp, schema)}: one entry per file, so a rewrite
# replaces its entry and a stopped session takes its entries with it. Two
# threads missing at once both infer and store the same schema.
_schemas: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stored_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema of fixture table ``name`` as stored, inferred once per
    session for a local file.

    Inference is a Spark job (a footer read), paid before any data moves:
    a read of sf0.1 lineitem took a median 0.104 s with it and 0.016 s
    with the cached schema on 4 cores (PERF.md, "Fixed per-query cost").
    An entry is keyed by the file's realpath and stamped with its
    ``st_size``, ``st_mtime_ns`` and the ``_INFERENCE_CONFS`` values, so
    a file rewritten in place, or a conf change, infers again. A part
    file directory (the test replay's splits) or a non-local URI is
    inferred on every call: its listing can change while the path stays
    the same. The cache is per ``SparkSession`` object, so
    ``spark.newSession()`` infers for itself.

    ``nanosAsLong`` is set here on every ``events`` call, since the scan
    needs it as well as the inference (``normalize_events_ts``).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    if not os.path.isfile(path):
        return spark.read.parquet(path).schema
    st = os.stat(path)
    stamp = (st.st_size, st.st_mtime_ns, *(spark.conf.get(k) for k in _INFERENCE_CONFS))
    cache = _schemas.setdefault(spark, {})
    real = os.path.realpath(path)
    hit = cache.get(real)
    if hit is None or hit[0] != stamp:
        hit = cache[real] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def _read_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one parquet read of a fixture table, as stored, through the
    session's schema (``_stored_schema``): the batch loader builds on it,
    and a warm read runs no Spark job."""
    return spark.read.schema(_stored_schema(spark, sf_dir, name)).parquet(
        table_path(sf_dir, name)
    )


def _normalize(name: str, df: DataFrame) -> DataFrame:
    """Per-table column normalization, shared by batch and stream."""
    return normalize_events_ts(df) if name == "events" else df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _normalize(name, _read_raw(spark, sf_dir, name))


def table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one fixture table, normalized like
    ``load_table``. The schema is the batch read's (``_stored_schema``),
    so the stream sees the stored columns, gets the same normalization as
    the batch, and runs no inference job once the session has read the
    file.

    HARD single-file guard: the update-mode streaming oracles ("one final
    row per key") and the no-late-drop assumption behind the sliding/
    session/dedup oracles depend on the source replaying as exactly ONE
    data batch, which holds only for a single parquet FILE (file sources
    never split one file across triggers). A fixture-layout change to a
    part-file DIRECTORY fails here with one clear message, not as a run of
    driver hash mismatches. Multi-batch replays are a deliberate act: the
    test suite runs the streaming builders with this function patched to
    stream a split directory with maxFilesPerTrigger=1.
    """
    path = table_path(sf_dir, name)
    if not os.path.isfile(path):
        kind = "a directory" if os.path.isdir(path) else "missing"
        raise AssertionError(
            f"{name} source {path} is {kind}, not a single parquet file — "
            "the single-data-batch replay assumption behind the streaming "
            "oracles is void; fix the fixture layout or drive the transform "
            "over a split directory for multi-batch semantics"
        )
    schema = _stored_schema(spark, sf_dir, name)
    # The file source requires a directory; stream the sf dir filtered to
    # the table's file (real deployments point at an arriving-files dir).
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return _normalize(name, stream)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-tz TIMESTAMP from either physical
    layout the fixture generator has shipped — batch and stream both get
    it through ``_normalize``.

    Layouts seen so far: INT64 TIMESTAMP(NANOS), which Spark's parquet
    reader rejects by default (read nanos as long via the nanosAsLong
    conf; integer `div` keeps full precision — ns since epoch exceeds
    2^53, so float division would corrupt timestamps), and plain
    timestamp[us], which arrives as TIMESTAMP_NTZ (cast to session-tz
    TIMESTAMP — value-preserving under the UTC session, and keeps every
    downstream query on one timestamp class).
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes)["ts"] == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def rebalance_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy map work.

    Parquet's split unit is the row group; a file with one giant row group
    (our fixtures — and any badly-written upstream file at 100 TB) scans as
    ONE task, serializing everything narrow that follows (tokenize, md5,
    shingle explode, per-pair folds). When the scan's parallelism is below
    the cluster's, insert one round-robin exchange of the *source* rows —
    cheap relative to the downstream compute it parallelizes. When the
    source is already well-split (the normal many-files case at scale),
    this is a no-op with zero plan change.

    Only worth it when downstream per-row work dominates the exchange cost;
    plain filter/agg paths should NOT use this (the exchange would defeat
    scan-adjacent partial aggregation for no compute win).
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Bucket count for co-located joins. Locally tiny; on a cluster this would
# be sized so each bucket is a few hundred MB at the target SF (e.g. 4096
# buckets for a 1 TB fact table).
N_BUCKETS = 8


def bucketed_table(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Load ``name`` as a parquet table bucketed (and sorted) on ``key``,
    writing it to the session warehouse on first use (cached per sf_dir).

    Bucketing is the on-disk pre-shuffle: both sides of a join bucketed on
    the join key with the same bucket count satisfy the join's required
    distribution straight off the scan, so the exchange (and with one file
    per bucket, the sort) disappears from the plan. At 100 TB this is the
    difference between re-shuffling the fact table on every join and
    shuffling it once at ingest — the standard layout for a fact table
    joined repeatedly on the same key.

    The ``repartition(N_BUCKETS, key)`` before the write makes each task
    hold exactly one bucket, yielding one file per bucket — the layout
    Spark requires to trust the per-bucket sort order.
    """
    from pyspark.sql import functions as F

    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tbl = f"bkt_{name}_{suffix}"
    if not spark.catalog.tableExists(tbl):
        # The warehouse dir outlives the in-memory catalog: a leftover
        # location from a previous session makes saveAsTable fail with
        # LOCATION_ALREADY_EXISTS even in overwrite mode. Clear it.
        import shutil
        from urllib.parse import urlparse

        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        leftover = os.path.join(warehouse, tbl)
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
        df = load_table(spark, sf_dir, name)
        (
            df.repartition(N_BUCKETS, F.col(key))
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
    return spark.table(tbl)
