"""Sinks: partitioned/bucketed writes for every supported format.

The reference's only sink is user-code append-mode text files, one per
partition (``result-%d.txt``, distwc.c:30-33) — with a concurrency bug
(unsynchronized appends across per-key reduce tasks, SURVEY.md §4.3 #2).
Spark's one-writer-per-partition output model provides the same layout
race-free: ``part-*`` files stand in for ``result-*.txt``.

Scale notes: ``partitionBy`` gives partition pruning to every downstream
reader; ``bucketBy`` pre-shuffles on the join/agg key so repeated joins on
the bucket key skip their exchange entirely (the cluster answer to
"co-located joins"). Writer parallelism = upstream partitions; use
``df.repartition(n, key)`` before the write to control file count and
layout.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def settled_in_scratch(prefix: str, build: Callable[[str], DataFrame]) -> DataFrame:
    """The package's one lifetime for scratch writes: ``build(dir)`` gets
    a fresh temp dir named ``prefix`` + a random suffix, its (small)
    answer is pinned with ``localCheckpoint(eager=True)``, and the dir
    is deleted before this returns, also when ``build`` raises — as the
    reference frees a job's partitions before ``MR_Run`` returns
    (mapreduce.c:190-191).

    The checkpoint cuts the lineage, so the returned frame never reads
    the deleted files. ``cache()``/``persist()`` would keep the lineage,
    and an evicted block would re-read them. A process killed mid-call
    leaks its one in-flight dir; nothing else outlives the call.
    """
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        return build(tmp).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_partitioned_text(df: DataFrame, path: str, num_partitions: int, key: str) -> None:
    """Reference-fidelity text sink: hash-partition rows by ``key`` into
    ``num_partitions`` outputs and write one text file per partition —
    the distwc.c result-file layout, race-free."""
    from pyspark.sql import functions as F

    line = F.concat_ws(": ", *[F.col(c).cast("string") for c in df.columns])
    df.repartition(num_partitions, key).select(line.alias("value")).write.mode(
        "overwrite"
    ).text(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """Partitioned write in any built-in format (parquet/csv/json/orc)."""
    w = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: pre-shuffled on ``bucket_col`` so joins and
    aggregations on it skip their exchange (requires saveAsTable)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_back(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    r = spark.read.format(fmt)
    if fmt == "csv":
        r = r.option("header", "true").option("inferSchema", "true")
    return r.load(path)


def write_clustered_table(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    num_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Layout-clustered write: range-partition rows on ``cluster_by`` into
    ``num_files`` outputs and sort within each, so every file carries a
    TIGHT min/max footer envelope on the cluster key — the layout that
    makes downstream scan pruning effective (a filtered read touches only
    the files whose envelope intersects the predicate; the OPTIMIZE ...
    ZORDER write-side companion to layout_zorder's bucket statistics).
    One range exchange + a per-partition sort; no global sort."""
    (
        df.repartitionByRange(num_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )
