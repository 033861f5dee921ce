"""MapReduce API facade — capability-parity layer over Spark RDDs.

Mirrors the reference's public API and semantics (mapreduce.h:5-59):

==============================  =============================================
reference                       this facade
==============================  =============================================
``MR_Run(files, map, reduce,    :func:`mr_run` — same five knobs; Spark's
num_workers, num_parts)``       scheduler replaces the thread pool
(mapreduce.c:165-192)
``Mapper(char *file_name)``     ``mapper(file_name) -> Iterable[(k, v)]`` —
(mapreduce.h:5)                 emits pairs by *returning* them instead of
                                calling a global ``MR_Emit``
``MR_Emit`` empty-key drop      enforced centrally, same as
(mapreduce.c:205-207)           the reference's emit-time guard
``MR_Partitioner`` djb2         :func:`djb2` — bit-identical 64-bit djb2,
(mapreduce.c:234-241)           used as the RDD partitionFunc so bucket
                                layout matches the reference exactly
``Reducer(key, partition)`` +   ``reducer(key, values) -> Iterable[out]`` —
``MR_GetNext`` iterator         values arrive as the same unordered,
(mapreduce.c:253-280)           consume-once bag (groupByKey iterable)
==============================  =============================================

Faithful semantics (SURVEY.md §1.3): values per key form an **unordered
multiset** (the reference's LIFO emit + destructive scan makes order
nondeterministic, mapreduce.c:218-219/261-277); duplicate pairs are
preserved; NULL/empty keys are dropped at emit time. The reference's
one-task-per-(partition,key) reduce scheduling (mapreduce.c:179-187) is
deliberately *not* ported — partition-granular tasks are the correct Spark
idiom (SURVEY.md §7.2 "hard parts" (d)).

This module is the fidelity layer; the DataFrame operators in
``operators/`` are the performance path (Tungsten, codegen, map-side
combine). Use those unless you need arbitrary Python map/reduce logic.

Fixed cost of a Python task: every map and reduce task here is a Python
task. Before each one, PySpark calls ``importlib.invalidate_caches()``,
which on CPython < 3.13 makes every zipimporter over pyspark.zip and the
spark-core jar re-read its archive directory, 0.1-0.4 s of executor CPU
per task, more than a distwc map task's own work. Sessions from
``session.get_spark`` fork their workers from ``worker_daemon``, which
skips that re-read while an archive is unchanged. An empty Python job on 4
cores (Python 3.11.7, Spark 4.1.2) took a median 0.22 s -> 0.10 s at 1
task, 0.62 s -> 0.24 s at 10 and 2.05 s -> 0.58 s at 40 (PERF.md, "Fixed
per-task cost").
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any, TypeVar

from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

Pair = tuple[str, str]
Mapper = Callable[[Any], Iterable[Pair]]
Reducer = Callable[[str, Iterator[str]], Iterable[Any]]


def djb2(key: str) -> int:
    """64-bit djb2 hash, bit-identical to the reference partitioner
    (mapreduce.c:234-241: ``hash = hash * 33 + c`` over unsigned long,
    seeded 5381). Python ints are arbitrary precision, so wrap to 64 bits
    the way C's unsigned long does."""
    h = 5381
    for byte in key.encode("utf-8", errors="surrogatepass"):
        h = ((h << 5) + h + byte) & 0xFFFFFFFFFFFFFFFF
    return h


def mr_partitioner(key: str, num_partitions: int) -> int:
    """djb2 mod N — same bucket assignment as MR_Partitioner."""
    return djb2(key) % num_partitions


def emit_filter(pairs: Iterable[Pair]) -> Iterator[Pair]:
    """The MR_Emit guard: drop pairs with NULL/empty keys
    (mapreduce.c:205-207)."""
    for key, value in pairs:
        if key:
            yield key, value


def mr_run(
    spark: SparkSession,
    inputs: list[str] | RDD,
    mapper: Mapper,
    reducer: Reducer,
    num_workers: int | None = None,
    num_partitions: int = 10,
) -> RDD:
    """Run a full MapReduce job with reference semantics; returns the RDD of
    reducer outputs.

    ``inputs`` is either a list of file names — one map task per file, the
    reference's split model (mapreduce.c:173-175) — or any RDD whose records
    the mapper understands. ``num_workers`` maps to Spark task slots and is
    advisory here (local[N] / executor cores own scheduling); it mirrors the
    reference knob but Spark's scheduler replaces the thread pool
    (threadpool.c:46-73 — not ported, per SURVEY.md §7.2 non-goals).
    """
    sc = spark.sparkContext
    if isinstance(inputs, RDD):
        records = inputs
    else:
        # One partition per input file = one map task per file.
        records = sc.parallelize(list(inputs), numSlices=max(1, len(inputs)))

    mapped = records.flatMap(mapper).mapPartitions(emit_filter)
    # Single djb2 shuffle (bucket-identical to the reference): groupByKey
    # with the custom partitionFunc does the partitionBy + grouping in one
    # exchange. (A separate partitionBy first would shuffle twice — PySpark
    # compares partitionFunc by object identity, so even an identical lambda
    # passed to both calls is treated as a different Partitioner.) The
    # groupByKey iterable is the same unordered bag MR_GetNext drains.
    grouped = mapped.groupByKey(
        numPartitions=num_partitions,
        partitionFunc=lambda k: mr_partitioner(k, num_partitions),
    )

    def reduce_partition(kvs: Iterator[tuple[str, Iterable[str]]]) -> Iterator[Any]:
        # Partition-granular reduce tasks (Spark idiom) — all keys of one
        # partition in one task, replacing the reference's per-(partition,
        # key) job fan-out (mapreduce.c:179-187).
        for key, values in kvs:
            yield from reducer(key, iter(values))

    return grouped.mapPartitions(reduce_partition, preservesPartitioning=True)


# ---------------------------------------------------------------------------
# distwc.c reproduction (the reference's example application)
# ---------------------------------------------------------------------------

def wordcount_mapper(line: str) -> Iterator[Pair]:
    """distwc.c:7-21 Map: split on " \\t\\n\\r", emit (token, "1"). Empty
    tokens from delimiter runs are dropped by the emit filter."""
    for token in line.replace("\t", " ").replace("\n", " ").replace("\r", " ").split(" "):
        yield token, "1"


def wordcount_reducer(key: str, values: Iterator[str]) -> Iterator[tuple[str, int]]:
    """distwc.c:23-34 Reduce: drain the value iterator, count occurrences."""
    count = 0
    for _ in values:
        count += 1
    yield key, count


def mr_wordcount_df(spark: SparkSession, lines: RDD, num_partitions: int = 10) -> DataFrame:
    """Word count through the facade, surfaced as a DataFrame."""
    out = mr_run(spark, lines, wordcount_mapper, wordcount_reducer, num_partitions=num_partitions)
    return spark.createDataFrame(out, schema="word string, cnt long")
