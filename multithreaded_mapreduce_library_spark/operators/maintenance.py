"""Table-maintenance operators: snapshot diff (CDC) and incremental
aggregate maintenance (SURVEY.md §2.3 extension surface; the reference has
no notion of mutable tables — its closest primitive is re-running the whole
job, which is exactly what these operators exist to avoid at 100 TB).

Both are exactness-by-construction: the snapshot pair is derived from
``orders`` by the cross-engine md5 bucket (functions.h31), so the two
engines see bit-identical "old" and "new" tables; row equality is decided
by a canonical fixed-point row hash, never by float comparison.

Scale notes (100 TB story):
- snapshot_diff: ONE co-partitioned full-outer sort-merge join on the
  snapshot key; each side carries (key, row_hash, price_cents) only —
  wide rows never shuffle, the diff decision is a 60-bit hash compare.
  Output is the aggregated change summary, not a row explosion.
- incremental_agg: the merge algebra (count/sum/min/max are commutative
  monoids; avg derived at the end) means the 100 TB base table is
  aggregated ONCE into per-key states and every later batch only
  aggregates its delta and merges — the oracle recomputes from scratch,
  so the driver's hash equality IS the proof that merge == recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_mapreduce_library_spark.functions import (
    duck_fixed_point,
    duck_h31,
    duck_md5_long60,
    duck_money_sum,
    fixed_point,
    h31,
    md5_long60,
    money_sum,
)
from multithreaded_mapreduce_library_spark.registry import register
from multithreaded_mapreduce_library_spark.sources import load_table
from multithreaded_mapreduce_library_spark.sources.sinks import settled_in_scratch

# Snapshot construction: hash bucket of the order key in [0, 100).
#   old snapshot A: buckets [0, 97), with the pre-update price on [90, 97)
#   new snapshot B: buckets [3, 100)
# => deletes [0,3), updates [90,97), inserts [97,100), unchanged [3,90).
DEL_CUT = 3
UPD_LO = 90
A_CUT = 97


def _bucket(col):
    return F.pmod(h31(F.col(col).cast("string")), F.lit(100))


_DUCK_BUCKET = f"({duck_h31('CAST(o_orderkey AS VARCHAR)')} % 100)"


def _row_sig(price_col: str):
    """Canonical 60-bit row signature over the value columns (price in
    fixed-point cents so the hash input is integer text, not float repr)."""
    return md5_long60(
        F.concat_ws(
            "|",
            F.col("o_orderstatus"),
            fixed_point(F.col(price_col)).cast("long").cast("string"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
    )


def _duck_row_sig(price_expr: str) -> str:
    return duck_md5_long60(
        "concat_ws('|', o_orderstatus, "
        f"CAST({duck_fixed_point(price_expr)} AS VARCHAR), "
        "strftime(o_orderdate, '%Y-%m-%d'))"
    )


@register(
    "snapshot_diff",
    oracle=f"""
WITH a AS (
  SELECT o_orderkey AS k,
         CASE WHEN {_DUCK_BUCKET} >= {UPD_LO} THEN o_totalprice - 1.0
              ELSE o_totalprice END AS price,
         {_duck_row_sig(f'CASE WHEN {_DUCK_BUCKET} >= {UPD_LO} THEN o_totalprice - 1.0 ELSE o_totalprice END')} AS sig
  FROM orders WHERE {_DUCK_BUCKET} < {A_CUT}
), b AS (
  SELECT o_orderkey AS k, o_totalprice AS price, {_duck_row_sig('o_totalprice')} AS sig
  FROM orders WHERE {_DUCK_BUCKET} >= {DEL_CUT}
), d AS (
  SELECT CASE WHEN a.k IS NULL THEN 'insert'
              WHEN b.k IS NULL THEN 'delete'
              WHEN a.sig <> b.sig THEN 'update'
              ELSE 'unchanged' END AS change_type,
         coalesce(b.price, a.price) AS price
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT change_type,
       count(*) AS n_rows,
       {duck_money_sum('price', 'total_price')}
FROM d GROUP BY change_type
""",
    tags=("maintenance", "cdc", "diff"),
    doc=(
        "Change-data-capture diff between two keyed snapshots (derived "
        "deterministically from orders by md5 bucket: ~3% deletes, ~7% "
        "updates, ~3% inserts): full-outer join on the key, row change "
        "detected by comparing a canonical fixed-point row signature "
        "(one 60-bit compare instead of N column compares — at 100 TB "
        "the shuffle carries (key, sig, price_cents), never the wide "
        "row), classified insert/delete/update/unchanged and aggregated. "
        "Shuffle story: two scans of the same source, one co-partitioned "
        "full-outer SMJ exchange pair on the key, then a tiny 4-group "
        "agg with map-side partials."
    ),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = _bucket("o_orderkey")
    old_price = F.when(
        bucket >= UPD_LO, F.col("o_totalprice") - 1.0
    ).otherwise(F.col("o_totalprice"))
    a = (
        o.filter(bucket < A_CUT)
        .withColumn("price", old_price)
        .select(
            F.col("o_orderkey").alias("k"),
            "price",
            _row_sig("price").alias("sig"),
        )
    )
    b = o.filter(bucket >= DEL_CUT).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        _row_sig("o_totalprice").alias("sig"),
    )
    d = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    change = (
        F.when(F.col("a.k").isNull(), "insert")
        .when(F.col("b.k").isNull(), "delete")
        .when(F.col("a.sig") != F.col("b.sig"), "update")
        .otherwise("unchanged")
    )
    return (
        d.select(
            change.alias("change_type"),
            F.coalesce(F.col("b.price"), F.col("a.price")).alias("price"),
        )
        .groupBy("change_type")
        .agg(F.count("*").alias("n_rows"), money_sum("price", "total_price"))
    )


CUTOFF = "1996-01-01"  # base/delta boundary for the maintained aggregate

# The from-scratch truth for the per-customer order aggregate — shared by
# incremental_agg (batch base+delta merge) and stream_incremental_agg
# (foreachBatch monoid-merge): both maintenance paths must reconstruct
# exactly this, so the driver hash IS the merge==recompute proof.
INCR_AGG_ORACLE = f"""
SELECT o_custkey AS custkey,
       count(*) AS n_orders,
       (CAST(sum({duck_fixed_point('o_totalprice')}) AS BIGINT) / 100) AS total_price,
       max(o_totalprice) AS max_price,
       strftime(min(o_orderdate), '%Y-%m-%d') AS first_order_date
FROM orders
GROUP BY o_custkey
"""


def agg_state(df: DataFrame) -> DataFrame:
    """Per-customer monoid state (cnt, fixed-point sum, max, min-date) of
    an orders frame — the partial a batch OR a micro-batch aggregates
    before merging (count/sum/max/min are commutative monoids, so any
    partition of the input merges to the same state)."""
    return df.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("cnt"),
        F.sum(fixed_point("o_totalprice")).cast("long").alias("sum_c"),
        F.max("o_totalprice").alias("mx"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("mn_d"),
    )


def merge_agg_states(states: DataFrame) -> DataFrame:
    """Merge a union of per-customer states keyed on custkey (the monoid
    joins: sum of counts/sums, max of maxes, min of min-dates)."""
    return states.groupBy("custkey").agg(
        F.sum("cnt").cast("long").alias("cnt"),
        F.sum("sum_c").cast("long").alias("sum_c"),
        F.max("mx").alias("mx"),
        F.min("mn_d").alias("mn_d"),
    )


def finalize_agg_state(state: DataFrame) -> DataFrame:
    """Present a state table in the oracle-compared output shape."""
    return state.select(
        "custkey",
        F.col("cnt").alias("n_orders"),
        (F.col("sum_c") / 100).alias("total_price"),
        F.col("mx").alias("max_price"),
        F.col("mn_d").alias("first_order_date"),
    )


@register(
    "incremental_agg",
    oracle=INCR_AGG_ORACLE,
    tags=("maintenance", "incremental", "materialized-view"),
    doc=(
        "Incremental materialized-view maintenance: the per-customer "
        "order aggregate is computed as BASE-state (orders before "
        f"{CUTOFF}) merged with DELTA-state (orders after) — count/"
        "fixed-point-sum/min/max are commutative monoids, so "
        "merge(agg(base), agg(delta)) == agg(base ∪ delta); the oracle "
        "recomputes from the full table, so the driver's value-hash "
        "equality is a machine-checked proof of the merge algebra. At "
        "100 TB this is THE maintenance pattern: the base state is "
        "materialized once and each arriving batch aggregates only "
        "itself (map-side partials) before a merge keyed like the "
        "state. Shuffle story: two partial-aggregated exchanges on "
        "o_custkey (base, delta — in production the base one is "
        "amortized to zero); both states come out hash-partitioned on "
        "the merge key, so the merge agg rides that partitioning with "
        "NO third exchange (plan-asserted)."
    ),
)
def incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = agg_state(o.filter(F.col("o_orderdate") < CUTOFF))
    delta = agg_state(o.filter(F.col("o_orderdate") >= CUTOFF))
    return finalize_agg_state(merge_agg_states(base.unionByName(delta)))


# merge_upsert change feed, derived from the same deterministic md5
# bucketing as snapshot_diff: deletes [0, DEL_CUT), updates [UPD_LO,
# A_CUT) (restoring the true price over the target's stale price-1.0),
# inserts [A_CUT, 100). Applying the feed to the stale target must
# reconstruct exactly `orders WHERE bucket >= DEL_CUT` with current
# prices — which is what the oracle computes DIRECTLY from the base
# table, so the driver's hash equality is an end-to-end proof of the
# MERGE semantics (wrong delete scope, a lost carried row, or an
# unapplied update all land in a different checksum), the same
# merge==recompute proof style as incremental_agg.
KEY_CHECKSUM_MOD = 1_000_003


def apply_merge(target: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply a typed change feed to a keyed target — the MERGE INTO core,
    shared verbatim by the batch ``merge_upsert`` and the streaming
    ``stream_upsert`` foreachBatch sink (so the two cannot drift).

    ``target``:  (k, status, price)                — current table state
    ``changes``: (k, op I/U/D, status, new_price)  — keyed change feed,
                 at most one row per key per application
    Returns the applied table (o_orderkey, o_orderstatus, o_totalprice):
    matched U → update price, matched D → delete, unmatched I → insert,
    everything else carried. Because the feed is keyed (≤1 op per key per
    batch), applying a partition of the feed batch-by-batch composes to
    the same table as applying it all at once — the additivity property
    stream_upsert's multi-batch exactly-once test pins.

    Shuffle story: ONE co-partitioned full-outer SMJ exchange pair on the
    merge key carrying (key, status, price_cents, op) only; at 100 TB the
    feed side is the arriving CDC batch — small enough that AQE turns the
    same plan into a broadcast or skew-split join without a code change.
    """
    j = target.alias("t").join(
        changes.alias("c"), F.col("t.k") == F.col("c.k"), "full_outer"
    )
    action = (
        F.when(F.col("c.k").isNull(), "carried")
        .when(
            F.col("t.k").isNull(),
            # change on an absent key: only an insert applies; U/D no-op
            F.when(F.col("c.op") == "I", "inserted"),
        )
        .when(F.col("c.op") == "U", "updated")
        .when(F.col("c.op") == "D", "deleted")
        .otherwise("carried")
    )
    return (
        j.withColumn("action", action)
        .filter(F.col("action").isin("carried", "updated", "inserted"))
        .select(
            F.coalesce(F.col("t.k"), F.col("c.k")).alias("o_orderkey"),
            F.coalesce(F.col("t.status"), F.col("c.status")).alias("o_orderstatus"),
            F.when(
                F.col("action").isin("updated", "inserted"), F.col("c.new_price")
            )
            .otherwise(F.col("t.price"))
            .alias("o_totalprice"),
        )
    )


def merge_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stale keyed target (k, status, price): buckets [0, A_CUT) with
    the pre-update price on [UPD_LO, A_CUT) — shared by merge_upsert and
    stream_upsert so both ops merge into the identical starting table."""
    o = load_table(spark, sf_dir, "orders")
    bucket = _bucket("o_orderkey")
    stale_price = F.when(
        bucket >= UPD_LO, F.col("o_totalprice") - 1.0
    ).otherwise(F.col("o_totalprice"))
    return o.filter(bucket < A_CUT).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        stale_price.alias("price"),
    )


def merge_feed(o: DataFrame) -> DataFrame:
    """The typed change feed (k, op, status, new_price) derived from an
    orders frame (batch or per-micro-batch slice): D on [0, DEL_CUT),
    U on [UPD_LO, A_CUT), I on [A_CUT, 100) — one row per key."""
    bucket = _bucket("o_orderkey")
    feed_op = (
        F.when(bucket < DEL_CUT, "D").when(bucket < A_CUT, "U").otherwise("I")
    )
    return o.filter((bucket < DEL_CUT) | (bucket >= UPD_LO)).select(
        F.col("o_orderkey").alias("k"),
        feed_op.alias("op"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("new_price"),
    )


def merge_result_agg(applied: DataFrame) -> DataFrame:
    """Per-status summary of an applied table (the oracle-compared shape
    shared by merge_upsert and stream_upsert): row count, fixed-point
    money sum, and a modular key checksum pinning the surviving key set."""
    return applied.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        money_sum("o_totalprice", "total_price"),
        F.sum(F.col("o_orderkey") % KEY_CHECKSUM_MOD)
        .cast("long")
        .alias("key_checksum"),
    )


# The merged-table truth, computed directly from the base data: applying
# the feed to the stale target must reconstruct exactly `orders WHERE
# bucket >= DEL_CUT` with current prices. Shared by merge_upsert and
# stream_upsert — hash equality is an end-to-end proof of the MERGE
# semantics on either execution path.
MERGE_ORACLE = f"""
SELECT o_orderstatus,
       count(*) AS n_rows,
       {duck_money_sum('o_totalprice', 'total_price')},
       CAST(sum(o_orderkey % {KEY_CHECKSUM_MOD}) AS BIGINT) AS key_checksum
FROM orders
WHERE {_DUCK_BUCKET} >= {DEL_CUT}
GROUP BY o_orderstatus
"""


@register(
    "merge_upsert",
    oracle=MERGE_ORACLE,
    tags=("maintenance", "merge", "upsert", "cdc"),
    doc=(
        "MERGE INTO-style keyed upsert (the lakehouse MERGE statement the "
        "reference cannot express — its only mutation primitive is a full "
        "re-run, mapreduce.c:176): a typed change feed (op I/U/D) is "
        "applied to a stale target in ONE full-outer join on the key — "
        "WHEN MATCHED AND op='U' THEN UPDATE, WHEN MATCHED AND op='D' "
        "THEN DELETE, WHEN NOT MATCHED AND op='I' THEN INSERT, unmatched "
        "target rows carried. The output aggregates the APPLIED table "
        "(per-status row counts, fixed-point money sum, and a modular "
        "key checksum that pins the exact surviving key set); the oracle "
        "reconstructs the expected table directly from the base data, so "
        "hash equality proves merge(stale, feed) == truth end-to-end. "
        "Shuffle story: two scans of orders (target, feed — both narrow "
        "projections with pushed filters), ONE co-partitioned full-outer "
        "SMJ exchange pair on the merge key carrying (key, status, "
        "price_cents, op) only, then a 3-group agg with map-side "
        "partials. At 100 TB the feed side is the arriving CDC batch — "
        "small enough that AQE turns the same plan into a broadcast or "
        "skew-split join without a code change."
    ),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = merge_target(spark, sf_dir)
    changes = merge_feed(load_table(spark, sf_dir, "orders"))
    return merge_result_agg(apply_merge(target, changes))


# --- small-files compaction planner -----------------------------------------
#
# File inventory derived deterministically from orders: one "file" per
# customer chunk, sized by its fixed-point money volume in cents. Chunk
# width models a real lakehouse file listing — 30% of customers (mod-10
# buckets 0-2) sit in wide already-compacted chunks (~4.5B cents), the
# rest in narrow fresh-ingest chunks (~0.75B) — so file COUNT scales with
# the data while per-file SIZE stays scale-invariant (files are chunks,
# not shards of the whole table), and both keep and compact branches are
# exercised at every sf. Both engines reconstruct the inventory
# bit-identically (integer key arithmetic only).
COMPACT_TARGET = 2_000_000_000  # target bin size (cents standing in for bytes)

_DUCK_FILE_ID = (
    "CASE WHEN o_custkey % 10 < 3 THEN 'compacted/' || CAST(o_custkey // 100 AS VARCHAR) "
    "ELSE 'ingest/' || CAST(o_custkey // 5 AS VARCHAR) END"
)


@register(
    "compact_plan",
    oracle=f"""
WITH inv AS (
  SELECT {_DUCK_FILE_ID} AS file_id,
         CAST(sum({duck_fixed_point('o_totalprice')}) AS BIGINT) AS size_bytes
  FROM orders GROUP BY 1
), cand AS (
  SELECT file_id, size_bytes,
         CAST((sum(size_bytes) OVER (ORDER BY size_bytes DESC, file_id)
               - size_bytes) // {COMPACT_TARGET} AS BIGINT) AS bin_id
  FROM inv WHERE size_bytes < {COMPACT_TARGET}
), u AS (
  SELECT file_id, size_bytes, bin_id FROM cand
  UNION ALL
  SELECT file_id, size_bytes, CAST(-1 AS BIGINT) AS bin_id
  FROM inv WHERE size_bytes >= {COMPACT_TARGET}
)
SELECT file_id, size_bytes,
       CASE WHEN bin_id = -1 THEN 'keep' ELSE 'compact' END AS action,
       bin_id,
       CAST(sum(size_bytes) OVER (
         PARTITION BY bin_id,
                      CASE WHEN bin_id = -1 THEN file_id ELSE '' END
       ) AS BIGINT) AS bin_total
FROM u
""",
    tags=("maintenance", "compaction", "optimize"),
    doc=(
        "Small-files compaction planner — the OPTIMIZE bin-packing step "
        "that pairs with layout_zorder (the reference rewrites one output "
        "file per reduce task, distwc.c-style, and has no notion of "
        "compacting them back). The file inventory (one file per customer "
        "chunk, wide compacted + narrow ingest chunks, sized by fixed-"
        "point money volume) is packed by "
        "sequential fill in (size DESC, file_id) order: each file's bin is "
        "its preceding cumulative size DIV target — a deterministic, "
        "window-expressible packing (the same single ordered pass Delta-"
        "style OPTIMIZE planners make on the file listing) with every bin "
        "except possibly the last filled to >= target - max_candidate. "
        "Files already at/over target are kept as-is (action='keep', "
        "bin_id=-1, their own bin_total). All arithmetic is integer "
        "(cents, DIV) so the two engines agree bit-for-bit. Shuffle "
        "story: one partial-aggregated exchange on the custkey-chunk "
        "file_id inventory key, then ONE single-partition window pass — over FILE "
        "METADATA, O(#files) not O(data): at 100 TB with 128 MB files "
        "that is ~800k rows on one task, the planner's input, not the "
        "table's; the compaction EXECUTION the plan drives shuffles on "
        "bin_id with no skew (bins are size-capped by construction)."
    ),
)
def compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign_compaction_bins(compact_file_inventory(spark, sf_dir))


def spark_file_id():
    """The deterministic customer-chunk file id, the Spark twin of
    _DUCK_FILE_ID — shared by the inventory (compact_plan) and the row
    router (compact_apply) so the plan and the rewrite see the same
    file listing."""
    return F.when(
        F.col("o_custkey") % 10 < 3,
        F.concat(F.lit("compacted/"), F.expr("CAST(o_custkey DIV 100 AS STRING)")),
    ).otherwise(
        F.concat(F.lit("ingest/"), F.expr("CAST(o_custkey DIV 5 AS STRING)"))
    )


def compact_file_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(file_id, size_bytes) file listing derived from orders — one
    partial-aggregated exchange on the chunk key."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(spark_file_id().alias("file_id")).agg(
        F.sum(fixed_point("o_totalprice")).cast("long").alias("size_bytes")
    )


def assign_compaction_bins(inv: DataFrame) -> DataFrame:
    """Sequential-fill bin packing over an inventory frame — the planning
    core shared verbatim by compact_plan (emits the decision table) and
    compact_apply (executes it). One single-partition window pass over
    file METADATA, O(#files)."""
    from pyspark.sql.window import Window

    # DIV (exact integer division) rather than floor(double /): at metadata
    # cardinalities the doubles would be exact too, but integer arithmetic
    # matches the oracle's // by construction, not by analysis.
    cand = inv.filter(F.col("size_bytes") < COMPACT_TARGET).withColumn(
        "bin_id",
        F.expr(
            f"CAST((sum(size_bytes) OVER (ORDER BY size_bytes DESC, file_id)"
            f" - size_bytes) DIV {COMPACT_TARGET} AS BIGINT)"
        ),
    )
    keep = inv.filter(F.col("size_bytes") >= COMPACT_TARGET).withColumn(
        "bin_id", F.lit(-1).cast("long")
    )
    per_bin = Window.partitionBy(
        "bin_id",
        F.when(F.col("bin_id") == -1, F.col("file_id")).otherwise(F.lit("")),
    )
    return (
        cand.unionByName(keep)
        .select(
            "file_id",
            "size_bytes",
            F.when(F.col("bin_id") == -1, "keep")
            .otherwise("compact")
            .alias("action"),
            "bin_id",
            F.sum("size_bytes").over(per_bin).cast("long").alias("bin_total"),
        )
    )


# --- compaction execution ----------------------------------------------------

_DUCK_COMPACT_BINS = f"""inv AS (
  SELECT {_DUCK_FILE_ID} AS file_id,
         CAST(sum({duck_fixed_point('o_totalprice')}) AS BIGINT) AS size_bytes
  FROM orders GROUP BY 1
), cand AS (
  SELECT file_id, size_bytes,
         CAST((sum(size_bytes) OVER (ORDER BY size_bytes DESC, file_id)
               - size_bytes) // {COMPACT_TARGET} AS BIGINT) AS bin_id
  FROM inv WHERE size_bytes < {COMPACT_TARGET}
), u AS (
  SELECT file_id, size_bytes, bin_id FROM cand
  UNION ALL
  SELECT file_id, size_bytes, CAST(-1 AS BIGINT) AS bin_id
  FROM inv WHERE size_bytes >= {COMPACT_TARGET}
)"""


@register(
    "compact_apply",
    oracle=f"""
WITH {_DUCK_COMPACT_BINS},
m AS (
  SELECT file_id,
         CASE WHEN bin_id = -1 THEN file_id
              ELSE 'bin-' || CAST(bin_id AS VARCHAR) END AS out_file
  FROM u
), r AS (
  SELECT {_DUCK_FILE_ID} AS file_id, o_orderkey, o_totalprice FROM orders
)
SELECT m.out_file,
       count(*) AS n_rows,
       {duck_money_sum('o_totalprice', 'total_price')},
       CAST(sum(o_orderkey % {KEY_CHECKSUM_MOD}) AS BIGINT) AS key_checksum
FROM r JOIN m USING (file_id)
GROUP BY m.out_file
""",
    tags=("maintenance", "compaction", "optimize", "sink"),
    doc=(
        "Compaction EXECUTION — materializes compact_plan's bin-packing "
        "decision the way Delta/Iceberg OPTIMIZE does after planning "
        "(the reference's only layout is one file per reduce task, "
        "distwc.c:30-33, with no rewrite path): every 'compact' file's "
        "rows are routed to its bin's single output file (out_file = "
        "'bin-<bin_id>'), every 'keep' file passes through under its own "
        "name, and the rewrite is PHYSICAL — rows are repartitioned by "
        "out_file and written to a partitioned parquet target (exactly "
        "one data file per output, since each out_file lives in exactly "
        "one shuffle task), then read BACK from disk for the summary, so "
        "what the oracle checks is the round-tripped on-disk result, not "
        "an in-memory shortcut. The rewrite lives in a per-call scratch "
        "dir (sources.sinks.settled_in_scratch): the summary is "
        "checkpointed and the dir deleted before the builder returns. "
        "The output aggregates the applied table "
        "per out_file (row count, fixed-point money sum, modular key "
        "checksum pinning the exact surviving row set); the oracle "
        "reconstructs the same summary from base data through the shared "
        "bin CTEs, so hash equality proves the rewrite is lossless AND "
        "landed in exactly the planned layout. Shuffle story: the "
        "planning subtree as compact_plan (inventory agg + one metadata "
        "window); the rewrite is ONE exchange on out_file whose "
        "partitions are size-capped by construction (bins fill to "
        "~target, keeps are single files) — no skew; the mapping join "
        "is a broadcast of O(#files) metadata onto the row scan; the "
        "summary is a partial-aggregated exchange on out_file. At 100 "
        "TB the rewrite streams scan->route->write with no wide row "
        "ever crossing more than the one planned exchange."
    ),
)
def compact_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    def summarize(tmp: str) -> DataFrame:
        applied = compact_rewrite(spark, sf_dir, os.path.join(tmp, "orders"))
        return applied.groupBy("out_file").agg(
            F.count("*").alias("n_rows"),
            money_sum("o_totalprice", "total_price"),
            F.sum(F.col("o_orderkey") % KEY_CHECKSUM_MOD)
            .cast("long")
            .alias("key_checksum"),
        )

    # one row per output file: checkpointed before the rewrite is deleted
    return settled_in_scratch("compact_apply_", summarize)


def compact_rewrite(spark: SparkSession, sf_dir: str, target: str) -> DataFrame:
    """Execute the compaction plan physically into the parquet directory
    ``target``, which the caller owns, and return the read-back
    post-rewrite table (out_file, o_orderkey, o_orderstatus,
    o_totalprice); the invariance test counts ``target``'s data files
    against the plan's bin/keep count."""
    plan = assign_compaction_bins(compact_file_inventory(spark, sf_dir))
    mapping = plan.select(
        "file_id",
        F.when(F.col("bin_id") == -1, F.col("file_id"))
        .otherwise(F.concat(F.lit("bin-"), F.col("bin_id").cast("string")))
        .alias("out_file"),
    )
    rows = load_table(spark, sf_dir, "orders").select(
        spark_file_id().alias("file_id"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    routed = rows.join(F.broadcast(mapping), "file_id").drop("file_id")
    if routed.isEmpty():
        # empty table => OPTIMIZE is a no-op. A zero-row partitionBy write
        # emits no partition directories, so the read-back below would
        # fail schema inference; return the empty applied frame directly
        # (the oracle's join over zero rows is empty too). The probe is a
        # planner-scale limit-1 over the already-metadata-sized inventory
        # join, not a data path.
        return spark.createDataFrame(
            [],
            "o_orderkey long, o_orderstatus string, o_totalprice double,"
            " out_file string",
        )
    # one shuffle on out_file => every out_file's rows sit in one task =>
    # partitionBy emits exactly one data file per output (the invariance
    # test counts them against the plan's bin/keep count)
    routed.repartition(F.col("out_file")).write.partitionBy("out_file").parquet(target)
    return spark.read.parquet(target)
