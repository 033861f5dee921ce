"""Structured Streaming operators over the events table.

The reference is strictly batch — two synchronous phases with full barriers
(mapreduce.c:176,188); streaming is part of the mandated capability set
beyond it (SURVEY.md §2.2). Each operator here is a readStream →
transform → writeStream pipeline; the registry builders execute with
``trigger(availableNow=True)`` into a memory sink and return the settled
result.

Oracle coverage: ALL THIRTEEN streaming queries carry real DuckDB oracles —
their settled availableNow replays are deterministic. Complete-mode aggs
(tumbling, static join) settle to the exact batch answer; append-mode
windows/sessions settle to the batch set cut at the final watermark
(floor_ms(max(ts)) - delay, inclusive boundary — pinned by
tests/test_streaming.py::test_watermark_boundary_is_inclusive_and_ms_truncated);
update-mode stateful ops (running max, funnel) settle to one final row
per key because the single-file fixture replays as ONE data batch —
``sources.table_stream`` hard-asserts that layout so a fixture change
fails with one clear message instead of a run of hash mismatches. The
batch-twin exactness tests in tests/test_streaming.py remain as a second,
oracle-independent anchor, and its multi-batch replay suite runs the
registered builders with ``table_stream`` patched to a time-split
multi-file source (maxFilesPerTrigger=1) to verify REAL cross-batch
state transitions.

Batch twins with full DuckDB oracles live in ``operators/events.py``
(time_tumbling / time_sliding / sessionize / event_funnel /
dedup_keep_first); the tumbling and sliding twins run the same
``tumbling_transform`` / ``sliding_transform`` defined there.

Scale notes: watermarks bound state (late data beyond the delay is
dropped); tumbling/sliding aggs shuffle on (window, key); session windows
shuffle on the session key; dedup state is per-key and watermark-expired.
"""

from __future__ import annotations

import contextlib
import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multithreaded_mapreduce_library_spark.functions import fixed_point, tokens
from multithreaded_mapreduce_library_spark.operators.events import (
    FUNNEL_CTES,
    SESSION_ISLANDS_CTES,
    SLIDING_CORE,
    TUMBLING_ORACLE,
    sliding_transform,
    tumbling_transform,
)
from multithreaded_mapreduce_library_spark.registry import register
from multithreaded_mapreduce_library_spark.sources import table_stream
from multithreaded_mapreduce_library_spark.sources.sinks import settled_in_scratch

_sink_ids = itertools.count()

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a single-file stream (``table_stream``)."""
    return table_stream(spark, sf_dir, "events")


_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


@contextlib.contextmanager
def _one_store_per_slot(spark: SparkSession):
    """The runner's conf pin: state parallelism and the checkpoint file
    manager for the block, each restored to the session's own value (or
    unset) afterwards, also when the block fails.

    State parallelism (``spark.sql.shuffle.partitions``) is pinned to
    ``defaultParallelism``. A stateful operator gets one HDFS-backed state
    store per shuffle partition, and every store costs a fixed load +
    commit + snapshot per micro-batch whatever rows it holds. A
    200-partition session would pay that ~200 times per stateful op for a
    single-file replay (6-11s of pure overhead at sf0.1), and any count
    above the task slots only queues more fixed-cost tasks behind the
    slots without adding parallelism. On 4 cores, stream_tumbling's run
    took a median 1.33 s with 16 stores, 0.87 s with 4 and 0.76 s with 1,
    with identical rows (PERF.md, "Fixed per-task cost").

    The checkpoint file manager is pinned to Spark's FileSystem-based one
    for the package's throwaway checkpoints. Spark's default for ``file:``
    paths goes through Hadoop ``FileContext``, whose local rename forks
    ``readlink`` and ``chmod``: stream_tumbling's four state stores spent
    a median 335 ms of a 1.02 s run in commit with it and 39 ms of a
    0.66 s run without (PERF.md, "Fixed per-query cost"). Both managers
    write a temp file and rename it; a local POSIX rename is atomic, each
    checkpoint here has one writer, and Spark's checksum manager wraps
    either. A caller who set the manager class or
    ``spark.sql.streaming.checkpointLocation`` keeps their own manager.
    """
    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    own_ckpt = conf.get(_CKPT_MANAGER, None) is None and (
        conf.get("spark.sql.streaming.checkpointLocation", None) is None
    )
    conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    if own_ckpt:
        conf.set(_CKPT_MANAGER, _FS_CKPT_MANAGER)
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
        if own_ckpt:
            conf.unset(_CKPT_MANAGER)


def run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink, one state store per task slot (``_one_store_per_slot``),
    and return the settled result as a batch DataFrame.

    The sink's temp view is dropped before returning, also when the
    stream fails: the returned frame holds the sink, so the settled rows
    live on the driver only as long as that frame does."""
    spark = stream_df.sparkSession
    name = f"stream_sink_{next(_sink_ids)}"
    try:
        with _one_store_per_slot(spark):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


@register(
    "stream_tumbling",
    # complete mode emits the FULL settled window set — deterministic, so
    # the oracle IS the batch twin's, via the shared constant (drift-proof).
    oracle=TUMBLING_ORACLE,
    tags=("streaming", "time-window"),
    doc=(
        "Tumbling 1-hour windowed count/sum as a streaming aggregation "
        "(complete mode), replaying the fixture via availableNow. "
        "Oracle-gated: complete mode's settled output IS the batch window "
        "set, so the driver hash-checks a real streaming run against the "
        "same SQL as time_tumbling."
    ),
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(tumbling_transform(events_stream(spark, sf_dir)), "complete")


@register(
    "stream_sliding_watermark",
    # append mode emits exactly the windows the FINAL watermark has passed;
    # availableNow pins that watermark to floor_ms(max(ts)) - 2h (Spark
    # tracks event time in MILLISECONDS, truncating the microsecond tail,
    # and the closing no-data batch flushes finalized state), and a window
    # whose end equals the watermark IS emitted (verified empirically:
    # end == watermark finalizes). Both details are encoded below —
    # date_trunc to ms, inclusive <= — so the oracle is exact even when a
    # boundary lands inside the sub-millisecond gap or dead on the
    # watermark.
    oracle=SLIDING_CORE
    + """
  AND ws + INTERVAL 60 MINUTE <=
      (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR FROM events)
GROUP BY 1, 2
""",
    tags=("streaming", "time-window", "watermark"),
    doc=(
        "Sliding windows (1h/30m) with a 2-hour watermark in append mode: "
        "only watermark-finalized windows are emitted — the late-data-drop "
        "semantics a replay can observe (trailing windows stay open). "
        "Oracle-gated: the final availableNow watermark is max(ts) - 2h, "
        "so the emitted set is the batch window set cut at that boundary."
    ),
)
def stream_sliding_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(sliding_transform(events_stream(spark, sf_dir)), "append")


def dedup_transform(s: DataFrame) -> DataFrame:
    """Watermarked dropDuplicates."""
    return (
        s.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select(
            "event_id", "user_id", "event_type",
            F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        )
    )


@register(
    "stream_dedup",
    # event_id is unique in the fixture, so the settled append output is
    # exactly the identity projection — the oracle gates the whole
    # streaming pipeline (source, watermark, state store, sink) end to
    # end. The drop-duplicates semantics under ACTUAL duplicate keys are
    # pinned separately in tests/test_streaming.py (a synthesized
    # duplicate-bearing stream), where emission timing makes a SQL oracle
    # inapplicable.
    oracle=f"""
SELECT event_id, user_id, event_type, strftime(ts, '{TS_FMT_DUCK}') AS ts_s
FROM events
""",
    tags=("streaming", "dedup", "stateful"),
    doc=(
        "Stateful streaming dedup on event_id under a 1-hour watermark "
        "(state expires with the watermark — bounded memory at 100 TB/day "
        "event volumes). Oracle-gated via the fixture's unique-key "
        "identity (see registration comment)."
    ),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(dedup_transform(events_stream(spark, sf_dir)), "append")


def session_transform(s: DataFrame) -> DataFrame:
    """Session windows + 30m watermark."""
    return (
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )


@register(
    "stream_session",
    # append mode emits exactly the sessions the FINAL watermark has
    # closed; session end = last event + gap, watermark =
    # floor_ms(max(ts)) - 30min under availableNow (Spark truncates event
    # time to milliseconds), and end == watermark counts as closed —
    # same ms-truncation + inclusive-<= semantics as
    # stream_sliding_watermark, encoded identically below.
    oracle=f"""
WITH {SESSION_ISLANDS_CTES}
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, sid
HAVING max(ts) + INTERVAL 15 MINUTE <=
       (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 30 MINUTE FROM events)
""",
    tags=("streaming", "session-window", "stateful"),
    doc=(
        "Streaming session windows (15-minute gap) per user with a 30-min "
        "watermark, append mode: sessions emit once closed by the "
        "watermark. Oracle-gated: the final availableNow watermark pins "
        "the closed-session set to the batch gaps-and-islands sessions "
        "whose end precedes max(ts) - 30min."
    ),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(session_transform(events_stream(spark, sf_dir)), "append")


def running_max_transform(s: DataFrame) -> DataFrame:
    """Per-user running max/count via applyInPandasWithState; over a
    multi-batch replay state genuinely transitions across batches and
    each batch re-emits the updated per-user row."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = s.select("user_id", "value")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        mx, n = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                n += int(len(pdf))
        state.update((mx, n))
        yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx], "n_events": [n]})

    return s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, max_value double, n_events long",
        stateStructType="max_value double, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_stateful_running_max",
    # update mode emits one row per user per data batch; the single-file
    # fixture replays as ONE availableNow data batch (file sources never
    # split a file across triggers, and NoTimeout means the closing
    # no-data batch invokes no keys), so the settled sink holds exactly
    # the per-user FINAL state — the batch max/count. A multi-file source
    # would accumulate per-batch updates and void this oracle; the
    # rows-only escape hatch would return then.
    oracle="""
SELECT user_id, max(value) AS max_value, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
""",
    tags=("streaming", "stateful", "pandas-udf"),
    doc=(
        "Custom stateful operator via applyInPandasWithState: per-user "
        "running max/count of event value carried in explicit GroupState — "
        "the escape hatch for operators Spark lacks natively. Oracle-gated "
        "via the single-batch settled state (see registration comment)."
    ),
)
def stream_stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        running_max_transform(events_stream(spark, sf_dir)), "update"
    )


def stream_stream_join_transform(p_events: DataFrame, c_events: DataFrame) -> DataFrame:
    """The watermarked purchase-click interval join over two event
    streams; join state buffers across micro-batches."""
    p = (
        p_events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        c_events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
        & (c.c_ts <= p.p_ts),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
    )


@register(
    "stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
""",
    tags=("streaming", "stream-stream-join", "watermark"),
    doc=(
        "Stream-stream inner join with watermarks on both sides and an "
        "event-time range condition: each purchase joined to the clicks of "
        "the same user in the preceding hour. The range bound plus the "
        "2-hour watermarks let Spark expire join state (bounded memory at "
        "any volume — without them a stream-stream join buffers forever); "
        "both streams shuffle once on user_id. An inner join emits exactly "
        "the batch matches on replay, so this carries a full DuckDB oracle."
    ),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = stream_stream_join_transform(
        events_stream(spark, sf_dir), events_stream(spark, sf_dir)
    )
    return run_to_memory(joined, "append")


def static_join_transform(s: DataFrame, cust: DataFrame) -> DataFrame:
    """Broadcast stream-static enrichment + segment aggregation."""
    joined = s.join(F.broadcast(cust), s.user_id == cust.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        (F.sum(fixed_point("value", 1_000_000)) / 1_000_000).alias("total_value"),
    )


@register(
    "stream_static_join",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_events,
       sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000 AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    tags=("streaming", "stream-static-join"),
    doc=(
        "Stream-static join: the events stream enriched against the static "
        "customer dimension (broadcast — the canonical streaming-enrichment "
        "pattern), then a complete-mode aggregation per market segment. "
        "Unlike the windowed ops this settles to the exact batch answer, so "
        "it carries a full DuckDB oracle rather than a rows-only check."
    ),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle story: the static dim broadcasts to every micro-batch task
    (no stream-side shuffle for the join); the complete-mode agg exchanges
    on the 5-value segment key with partial aggregation. 100 TB: identical
    — stream-static joins never reshuffle the stream when the dim
    broadcasts; a huge dim would switch to a stream-side keyed state join.
    """
    from multithreaded_mapreduce_library_spark.sources import load_table

    s = events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return run_to_memory(static_join_transform(s, cust), "complete")


def funnel_transform(s: DataFrame) -> DataFrame:
    """The stateful click→purchase attribution funnel: pending clicks
    committed to state in one micro-batch are attributed by purchases
    arriving in later batches."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from multithreaded_mapreduce_library_spark.operators.events import FUNNEL_WINDOW_MIN

    WINDOW_US = FUNNEL_WINDOW_MIN * 60 * 1_000_000  # attribution window, exact integer us
    # Event-time disorder allowance: pending clicks are expired against a
    # MONOTONE watermark (max event time seen so far, carried in state)
    # minus this lateness budget — never against the current row's
    # timestamp, which regresses under disorder. A purchase arriving up
    # to LATENESS_US behind the watermark still finds its in-window
    # clicks pending; one later than that is late-beyond-allowance data
    # and may miss expired clicks — the standard watermark contract,
    # stated instead of accidental. State stays bounded by clicks per
    # user per (window + lateness).
    LATENESS_US = FUNNEL_WINDOW_MIN * 60 * 1_000_000

    # Only clicks and purchases drive the funnel; filtering the stream up
    # front shrinks state AND pins the output domain to the oracle's
    # (users with >= 1 click) — other event types neither convert nor
    # change what a later purchase can attribute.
    s = (
        s.filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id", "event_type", "ts", "event_id")
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        pending, n_clicks, n_converted, max_ts = (
            state.get if state.exists else ((), 0, 0, 0.0)
        )
        max_ts = int(max_ts)  # monotone event-time watermark, integer us
        # Epoch MICROSECONDS (integers, carried in doubles — exact below
        # 2^53): float epoch *seconds* have ~0.24us resolution at 2024
        # magnitudes, enough to flip the <= at an exactly-60-minute
        # boundary where the oracle's integer interval arithmetic is
        # exact. Integer-microsecond comparisons match it bit-for-bit.
        pending = list(pending)
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows):
            rows = rows.sort_values(["ts", "event_id"])
            # itertuples, not iterrows: ~10× less per-row overhead — this
            # loop is the operator's hot path (once per event per batch)
            for r in rows.itertuples(index=False):
                t = r.ts.value // 1000  # ns -> us, exact integer
                if t > max_ts:
                    max_ts = t
                if r.event_type == "click":
                    pending.append(t)
                    n_clicks += 1
                elif r.event_type == "purchase":
                    keep = []
                    for c in pending:
                        if c > t:
                            # Event-time disorder ACROSS micro-batches: a
                            # click committed to state by an earlier batch
                            # while this purchase (smaller ts) arrives in a
                            # later one. Not attributable to THIS purchase;
                            # must stay pending for a later one. Unreachable
                            # in an ordered replay (single batch, or a
                            # time-split multi-batch source) where rows are
                            # processed in (ts, event_id) order — kept
                            # because an update operator must not silently
                            # corrupt state under batch-boundary reordering.
                            keep.append(c)
                        elif t - c <= WINDOW_US:
                            n_converted += 1  # every in-window click converts
                        else:
                            # Too old for THIS purchase — but a disordered
                            # purchase with a SMALLER ts (arriving within
                            # the lateness allowance in a later batch) may
                            # still own it; dropping here would break the
                            # watermark contract stated above. In an
                            # ordered replay no later purchase can reach
                            # it either (t' >= t => t' - c > WINDOW), so
                            # keeping it only defers removal to the
                            # batch-end watermark expiry — counts are
                            # unchanged.
                            keep.append(c)
                    pending = keep
            # expire clicks no allowed-lateness purchase could still reach
            # — once per batch, against the monotone watermark (see
            # LATENESS_US above; a per-row cutoff from t would let a
            # future-timestamped click evict state a disorder-within-
            # allowance purchase still needs)
            cutoff = max_ts - LATENESS_US - WINDOW_US
            pending = [c for c in pending if c >= cutoff]
        state.update(
            (tuple(float(c) for c in pending), n_clicks, n_converted, float(max_ts))
        )
        if not n_clicks:
            # zero-click users (purchases only) are outside the funnel
            # domain — the oracle's clicks CTE has no row for them
            return
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [n_clicks],
                "n_converted": [n_converted],
            }
        )

    return s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_clicks long, n_converted long",
        stateStructType=(
            "pending array<double>, n_clicks long, n_converted long,"
            " max_ts double"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_funnel",
    # Same single-data-batch determinism argument as
    # stream_stateful_running_max: the settled update-mode sink holds one
    # final row per user, which equals the batch event_funnel totals
    # (the oracle below is event_funnel's, minus its conversion_rate
    # column). 60 = operators.events.FUNNEL_WINDOW_MIN; a drift would
    # surface as a hash mismatch on either query.
    oracle=f"""
WITH {FUNNEL_CTES}
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(sum(converted) AS BIGINT) AS n_converted
FROM clicks
GROUP BY user_id
""",
    tags=("streaming", "stateful", "pandas-udf", "funnel"),
    doc=(
        "Custom stateful streaming funnel via applyInPandasWithState: per "
        "user, GroupState carries the pending click timestamps inside the "
        "1-hour attribution window plus running (n_clicks, n_converted); "
        "each batch sorts its events in event-time order, attributes "
        "purchases to pending in-window clicks, expires clicks against a "
        "MONOTONE event-time watermark (max ts seen, carried in state) "
        "minus an explicit lateness allowance — so disorder-within-"
        "allowance purchases in later batches still find their clicks, "
        "and 'late beyond allowance' is a stated contract rather than an "
        "accident of row order — and emits the updated per-user totals. "
        "State is bounded by clicks-per-user per (window + lateness) — "
        "the invariant that keeps memory flat at any stream volume. The "
        "settled replay equals the batch event_funnel operator exactly "
        "(asserted in tests)."
    ),
)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(funnel_transform(events_stream(spark, sf_dir)), "update")


# Event-time disorder allowance for stream_transitions: events stay
# PENDING (re-stitchable) until the monotone watermark passes this far
# beyond them, mirroring funnel_transform's stated lateness contract.
TRANSITIONS_LATENESS_US = 60 * 60 * 1_000_000


def transitions_transform(s: DataFrame) -> DataFrame:
    """Per-user event-transition DELTA counts via applyInPandasWithState,
    with the same explicit event-time disorder contract stream_funnel
    carries (r7 ADVICE: the previous one-scalar carry silently assumed
    every later batch sorted entirely after the stored last event).

    GroupState per user: the last SETTLED event (ts, event_id, type —
    the newest event no within-allowance late row can still precede), a
    PENDING buffer of events younger than the monotone event-time
    watermark (max ts seen, carried) minus TRANSITIONS_LATENESS_US, and
    the watermark itself. Each batch merges its rows into the pending
    buffer on the pinned (ts, event_id) total order, recomputes the pair
    counts over (settled last + merged pending), and emits the SIGNED
    difference against the same recomputation from before the merge — a
    late row landing between two previously-adjacent events retracts
    their old pair (-1) and asserts the two new ones (+1 each), so the
    per-(user, pair) SUMS across batches equal the batch answer on the
    rows seen, for ANY arrival order within the allowance. Rows sorting
    at or before the settled event are late-beyond-allowance and dropped
    (the stated watermark contract, as in stream_funnel). State stays
    bounded by events per user per lateness window; settling advances
    once per batch against the monotone watermark. In an ordered replay
    (the gated single-batch run, the time-split multi-batch suite) every
    delta is positive and the semantics reduce to the old carry."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = s.select("user_id", "event_id", "event_type", "ts")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        def pair_counts(seq):
            counts: dict[tuple[str, str], int] = {}
            for a, b in zip(seq, seq[1:]):
                k = (a[2], b[2])
                counts[k] = counts.get(k, 0) + 1
            return counts

        if state.exists:
            st_ts, st_eid, st_type, p_ts, p_eid, p_type, max_ts = state.get
            # ts/eid ride in doubles as exact integer MICROSECONDS
            # (< 2^53 — same exactness argument as funnel_transform)
            settled = (int(st_ts), int(st_eid), st_type) if st_ts >= 0 else None
            pend = [(int(t), int(e), y) for t, e, y in zip(p_ts, p_eid, p_type)]
            max_ts = int(max_ts)
        else:
            settled, pend, max_ts = None, [], 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame(
                {"user_id": [], "prev_type": [], "next_type": [], "n_transitions": []}
            )
            return
        rows = []
        for r in pd.concat(chunks, ignore_index=True).itertuples(index=False):
            t = r.ts.value // 1000  # ns -> us, exact integer
            if t > max_ts:
                max_ts = t
            rows.append((t, int(r.event_id), str(r.event_type)))
        if settled is not None:
            # late-beyond-allowance: pairs at or before the settled event
            # are final (their neighbours may already be settled away) —
            # dropped by contract, like funnel clicks behind the watermark
            horizon = (settled[0], settled[1])
            rows = [r for r in rows if (r[0], r[1]) > horizon]
        head = [settled] if settled is not None else []
        old = pair_counts(head + pend)
        merged = sorted(pend + rows, key=lambda r: (r[0], r[1]))
        new = pair_counts(head + merged)
        delta = {
            k: new.get(k, 0) - old.get(k, 0)
            for k in new.keys() | old.keys()
            if new.get(k, 0) != old.get(k, 0)
        }
        # settle events the allowance guarantees no future row precedes
        cutoff = max_ts - TRANSITIONS_LATENESS_US
        n_settled = 0
        while n_settled < len(merged) and merged[n_settled][0] <= cutoff:
            n_settled += 1
        if n_settled:
            settled = merged[n_settled - 1]
        pend = merged[n_settled:]
        state.update(
            (
                float(settled[0]) if settled is not None else -1.0,
                float(settled[1]) if settled is not None else -1.0,
                settled[2] if settled is not None else "",
                tuple(float(r[0]) for r in pend),
                tuple(float(r[1]) for r in pend),
                tuple(r[2] for r in pend),
                float(max_ts),
            )
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(delta),
                "prev_type": [p for p, _ in delta],
                "next_type": [n for _, n in delta],
                "n_transitions": list(delta.values()),
            }
        )

    return s.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, prev_type string, next_type string, n_transitions long"
        ),
        stateStructType=(
            "settled_ts double, settled_eid double, settled_type string,"
            " pend_ts array<double>, pend_eid array<double>,"
            " pend_type array<string>, max_ts double"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_transitions",
    # Delta emission + the single-file fixture's ONE availableNow data
    # batch (hard-asserted in events_stream) => the settled sink holds
    # each (user, prev, next) pair exactly once with its total count —
    # the batch answer. A multi-file source would append per-batch
    # deltas; the multi-batch suite verifies those SUM to this same
    # total (the additive-semantics design point).
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT user_id, prev_type, event_type AS next_type,
       count(*) AS n_transitions
FROM s WHERE prev_type IS NOT NULL
GROUP BY user_id, prev_type, next_type
""",
    tags=("streaming", "stateful", "markov", "pandas-udf"),
    doc=(
        "Streaming twin of event_transitions: per-user first-order "
        "transition counts with GroupState carrying the last SETTLED "
        "event plus a pending buffer bounded by an explicit event-time "
        "lateness allowance (monotone watermark, as stream_funnel), so "
        "pairs that straddle a batch boundary are counted exactly once "
        "and a within-allowance late row RETRACTS the pair it splits "
        "(signed deltas, update mode) — per-(user, pair) sums equal the "
        "batch answer under any arrival order within the allowance. "
        "Same (ts, event_id) total order as the batch twin; oracle-gated "
        "via the single-batch settled replay, cross-batch boundary pairs "
        "and disorder retraction pinned by the multi-batch suite."
    ),
)
def stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(transitions_transform(events_stream(spark, sf_dir)), "update")


# ---------------------------------------------------------------------------
# streaming MERGE sink (CDC -> lakehouse) and streaming dedup membership
# ---------------------------------------------------------------------------


def versioned_sink(target_root: str, apply_fn):
    """foreachBatch applier over a versioned copy-on-write target — the
    shared exactly-once commit chain under upsert_sink (keyed MERGE) and
    mv_sink (monoid state merge).

    The target lives as ``target_root/v{N}`` parquet snapshots plus the
    implicit commit marker (_SUCCESS). Batch ``e`` reads the newest
    COMMITTED version at or below ``e`` and writes ``v{e+1}`` — so a
    retried epoch (foreachBatch's at-least-once contract) recomputes from
    the SAME predecessor and overwrites the same directory: the committed
    chain advances exactly once per epoch regardless of retries, which is
    precisely how Delta/Iceberg sinks achieve exactly-once under the
    hood (their log commit replaces the _SUCCESS marker; the local-fs
    marker stands in for that here — at 100 TB this function body is the
    engine-side half, and the table format supplies the atomic commit).

    ``apply_fn(prev_df, batch_df) -> DataFrame`` supplies the semantics:
    what the new version IS, given the committed predecessor and the
    arriving micro-batch.
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        import os

        out = os.path.join(target_root, f"v{epoch_id + 1}")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            return  # retried epoch already committed — exactly-once
        prev = latest_upsert_version(target_root, upto=epoch_id)
        prev_df = batch_df.sparkSession.read.parquet(prev)
        apply_fn(prev_df, batch_df).write.mode("overwrite").parquet(out)

    return apply_batch


def upsert_sink(target_root: str):
    """The streaming MERGE applier: versioned_sink specialized with
    apply_merge (see operators/maintenance.apply_merge — ONE
    co-partitioned full-outer SMJ on the merge key per batch; the CDC
    micro-batch side is small, so AQE broadcasts it in production)."""
    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        apply_merge,
    )

    def apply(prev_df: DataFrame, batch_df: DataFrame) -> DataFrame:
        tgt = prev_df.select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        return apply_merge(tgt, batch_df)

    return versioned_sink(target_root, apply)


def latest_upsert_version(target_root: str, upto: int | None = None) -> str:
    """Path of the newest committed version ``v{N}`` (``_SUCCESS``
    present), optionally limited to ``N <= upto``."""
    import os

    committed = [
        int(d[1:])
        for d in os.listdir(target_root)
        if d.startswith("v")
        and d[1:].isdigit()
        and (upto is None or int(d[1:]) <= upto)
        and os.path.exists(os.path.join(target_root, d, "_SUCCESS"))
    ]
    return os.path.join(target_root, f"v{max(committed)}")


def run_versioned(feed: DataFrame, v0: DataFrame, sink, settle) -> DataFrame:
    """Replay ``feed`` (availableNow) through a versioned foreachBatch
    sink and return the settled result, checkpointed.

    ``v0`` is written as the chain's first committed version, ``sink``
    maps the version root to the foreachBatch applier (``upsert_sink``,
    ``mv_sink``), and ``settle`` maps the newest committed version to the
    answer. The run holds one state store per task slot
    (``_one_store_per_slot``). The versions and the checkpoint live in
    one ``settled_in_scratch`` dir, so the answer stays on the executors
    and the dir is removed before returning, also when the run fails.
    """
    import os

    spark = feed.sparkSession

    def build(tmp: str) -> DataFrame:
        troot = os.path.join(tmp, "versions")
        os.makedirs(troot)
        v0.write.parquet(os.path.join(troot, "v0"))
        q = (
            feed.writeStream.foreachBatch(sink(troot))
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return settle(spark.read.parquet(latest_upsert_version(troot)))

    with _one_store_per_slot(spark):
        return settled_in_scratch("stream_versioned_", build)


from multithreaded_mapreduce_library_spark.operators.maintenance import (  # noqa: E402
    MERGE_ORACLE,
)


@register(
    "stream_upsert",
    # The settled copy-on-write target after replaying the CDC feed must
    # reconstruct `orders WHERE bucket >= DEL_CUT` with current prices —
    # the SAME end-to-end truth merge_upsert proves, via the shared
    # MERGE_ORACLE (computed directly from base data, so the hash cannot
    # be satisfied by a wrong merge on either path).
    oracle=MERGE_ORACLE,
    tags=("streaming", "merge", "upsert", "cdc", "foreachBatch"),
    doc=(
        "Streaming MERGE sink — the streaming-CDC-to-lakehouse pattern: "
        "the typed change feed (op I/U/D, derived from orders exactly as "
        "merge_upsert's) arrives as a stream and foreachBatch applies "
        "each micro-batch to a versioned copy-on-write keyed target via "
        "the SAME apply_merge core the batch operator uses (shared code "
        "— the two cannot drift). Exactly-once under foreachBatch's "
        "at-least-once retries comes from the versioned commit chain: "
        "batch e always applies onto the newest committed version <= e "
        "and idempotently (over)writes v{e+1} (see upsert_sink). "
        "Because the feed is keyed (one op per key), applying it in any "
        "batch partition composes to the single-shot merge — the "
        "additivity the multi-batch test pins. The builder returns the "
        "per-status summary of the settled target (3 groups; the O(1)-"
        "row local materialization lets the temp versions be reclaimed "
        "eagerly). At 100 TB the version chain is a Delta/Iceberg log "
        "and each micro-batch costs one AQE-broadcast merge join over "
        "the arriving keys — state lives in the table, not the stream. "
        "The reference's only mutation primitive is a full re-run "
        "(mapreduce.c:176 barrier); this is the operator that replaces "
        "it."
    ),
)
def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        merge_feed,
        merge_result_agg,
        merge_target,
    )

    v0 = merge_target(spark, sf_dir).select(
        F.col("k").alias("o_orderkey"),
        F.col("status").alias("o_orderstatus"),
        F.col("price").alias("o_totalprice"),
    )
    feed = merge_feed(table_stream(spark, sf_dir, "orders"))
    # settles to 3 status groups — O(groups), not a data path
    return run_versioned(feed, v0, upsert_sink, merge_result_agg)


def dedup_docs_transform(s: DataFrame) -> DataFrame:
    """Stateful streaming dedup membership over a documents stream —
    the online twin of the batch dedup_exact family.

    Arrival contract (stated, like the watermark contracts above): the
    FIRST batch in which a content hash appears elects the keeper (min
    doc_id within that batch breaks simultaneous-arrival ties); later
    arrivals of the same hash only increment the duplicate count. On an
    id-ordered replay — the gated single-batch run, or the id-split
    multi-batch suite — first-arrival == min doc_id and the settled
    answer equals batch dedup_exact bit-for-bit (the oracle). Under
    genuine arrival disorder the keeper is the first SEEN, which is the
    semantics an online ingest gate actually wants (the doc already
    admitted must stay the keeper; the batch twin re-decides offline).

    State per distinct content hash: (keeper_id, copies) — two longs, the
    membership set sharded across the cluster by the groupBy(content_hash)
    shuffle. The md5 is computed JVM-side BEFORE the shuffle, so document
    text never crosses an exchange — shuffle volume is O(rows), same as
    batch dedup_exact. In production the state carries a TTL/watermark on
    ingestion time (membership beyond the dedup horizon expires), keeping
    state proportional to the horizon, not history.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = s.select(
        F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id"
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        keeper, copies = state.get if state.exists else (-1, 0)
        chunks = [pdf["doc_id"] for pdf in pdfs if len(pdf)]
        if chunks:
            ids = pd.concat(chunks)
            if copies == 0:
                keeper = int(ids.min())  # first-arrival batch elects keeper
            copies += int(len(ids))
        state.update((int(keeper), int(copies)))
        yield pd.DataFrame(
            {
                "content_hash": [key[0]],
                "keeper_id": [keeper],
                "copies": [copies],
            }
        )

    return hashed.groupBy("content_hash").applyInPandasWithState(
        update,
        outputStructType="content_hash string, keeper_id long, copies long",
        stateStructType="keeper_id long, copies long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_dedup_docs",
    # Same single-data-batch determinism as the other update-mode oracles
    # (table_stream pins the one-file layout): the settled sink holds one
    # row per content hash with the final (keeper, copies) — which on a
    # single ordered batch is exactly batch dedup_exact's answer, so this
    # shares its oracle text.
    oracle="""
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_id,
       count(*) AS copies
FROM documents
GROUP BY 1
""",
    tags=("streaming", "dedup", "stateful", "llm-pipeline", "pandas-udf"),
    doc=(
        "Streaming dedup membership over the documents stream: a new doc "
        "is kept iff its content hash is unseen (GroupState carries "
        "(keeper_id, copies) per distinct hash — the online twin of batch "
        "dedup_exact, sharing its oracle). First-arrival-batch-elects-"
        "keeper contract with min-doc_id tiebreak; cross-batch membership "
        "(a duplicate arriving after its keeper's batch) and the disorder "
        "contract are pinned by the multi-batch suite. Text never "
        "shuffles (md5 computed scan-side); state is two longs per "
        "distinct hash, TTL-bounded in production."
    ),
)
def stream_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(
        dedup_docs_transform(table_stream(spark, sf_dir, "documents")), "update"
    )


def mv_sink(target_root: str):
    """The streaming materialized-view applier: versioned_sink specialized
    with the monoid merge — each micro-batch partial-aggregates ITSELF
    (agg_state) and merges with the committed state table
    (merge_agg_states); commutativity/associativity of count/sum/max/min
    make the result independent of how the feed was batched."""
    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        agg_state,
        merge_agg_states,
    )

    def apply(prev_df: DataFrame, batch_df: DataFrame) -> DataFrame:
        return merge_agg_states(prev_df.unionByName(agg_state(batch_df)))

    return versioned_sink(target_root, apply)


def _register_stream_incremental_agg():
    from multithreaded_mapreduce_library_spark.operators.maintenance import (
        INCR_AGG_ORACLE,
    )

    @register(
        "stream_incremental_agg",
        # The settled state table after replaying the orders feed must
        # equal the from-scratch aggregate — the SAME merge==recompute
        # proof incremental_agg carries, via the shared INCR_AGG_ORACLE.
        oracle=INCR_AGG_ORACLE,
        tags=("streaming", "incremental", "materialized-view", "foreachBatch"),
        doc=(
            "Streaming materialized-view maintenance — the agg twin of "
            "stream_upsert: the orders feed arrives as a stream and "
            "foreachBatch maintains the per-customer monoid state table "
            "(count / fixed-point sum / max / min-date) through the SAME "
            "versioned exactly-once commit chain (versioned_sink), each "
            "batch aggregating only itself before one keyed merge with "
            "the committed state. The monoid algebra makes the settled "
            "table independent of batching — proven end-to-end by the "
            "shared from-scratch oracle (merge == recompute, as "
            "incremental_agg). Shuffle story per batch: one map-side "
            "partial-aggregated exchange on custkey for the batch state, "
            "one keyed merge agg riding the union — the 100 TB pattern "
            "where each arriving batch costs O(batch), never O(table). "
            "The reference's only refresh primitive is a full re-run "
            "(mapreduce.c:176)."
        ),
    )
    def stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
        from multithreaded_mapreduce_library_spark.operators.maintenance import (
            finalize_agg_state,
        )

        # v0: the empty state table (schema-complete, zero rows)
        v0 = spark.createDataFrame(
            [], "custkey long, cnt long, sum_c long, mx double, mn_d string"
        )
        feed = table_stream(spark, sf_dir, "orders")
        # settles to one row per customer state — the MV itself
        return run_versioned(feed, v0, mv_sink, finalize_agg_state)


_register_stream_incremental_agg()


def minhash_bands_transform(s: DataFrame) -> DataFrame:
    """Shingle -> MinHash -> LSH band signatures computed ON the stream
    (same constants and hash family as batch dedup_minhash, imported so
    they cannot drift): one row per (doc, band) carrying the band
    signature, ready for the per-(band, sig) stateful membership group.

    Unlike the batch twin (explode + partial-min groupBy — the fast
    path), the per-doc minimum here is an ARRAY fold (array_min over a
    transformed shingle-hash array) inside a single projection: a
    streaming aggregation before applyInPandasWithState is not allowed
    (Spark rejects stateful-after-agg in update mode), and the
    aggregation-free formulation keeps the whole signature narrow. The
    batch code deliberately avoids this shape for throughput
    (dedup.py's CollapseProject note); for the streaming gate the
    per-batch volume is the arriving increment, where narrowness wins."""
    from multithreaded_mapreduce_library_spark.functions import h31, tokens
    from multithreaded_mapreduce_library_spark.operators.dedup import (
        MINHASH_PARAMS,
        MOD_P,
        N_BANDS,
        ROWS_PER_BAND,
    )

    toks = s.select("doc_id", tokens("text").alias("toks"))
    sh = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.array_join(F.slice("toks", i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = toks.select(
        "doc_id", F.transform(sh, lambda sg: h31(sg)).alias("hs")
    ).filter(F.size("hs") > 0)
    mh_cols = [
        F.array_min(
            F.transform(F.col("hs"), lambda h: F.pmod(h * a + b, F.lit(MOD_P)))
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    mh = hashed.select("doc_id", *mh_cols)
    band_structs = [
        F.struct(
            F.lit(bb).alias("band"),
            F.concat_ws(
                "-",
                *[F.col(f"mh{bb * ROWS_PER_BAND + j}") for j in range(ROWS_PER_BAND)],
            ).alias("sig"),
        )
        for bb in range(N_BANDS)
    ]
    return mh.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def near_dup_membership_transform(bands: DataFrame) -> DataFrame:
    """Per-(band, sig) stateful membership: GroupState carries the
    bucket's FIRST-ARRIVAL keeper — stable once set (a later arrival
    with a smaller doc_id does NOT steal keepership, exactly the
    stream_dedup_docs contract, per LSH bucket instead of per exact
    hash; min-doc_id breaks simultaneous-arrival ties). Each arriving
    doc is emitted with its rep: the keeper that already occupied the
    bucket (-1 for the keeper itself). State: ONE long per distinct
    (band, sig) bucket."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (keeper,) = state.get if state.exists else (-1,)
        chunks = [pdf["doc_id"] for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame({"doc_id": [], "rep": []})
            return
        ids = pd.concat(chunks).astype("int64")
        if keeper < 0:
            keeper = int(ids.min())  # first-arrival batch elects keeper
            state.update((keeper,))
        rep = [(-1 if int(d) == keeper else keeper) for d in ids]
        yield pd.DataFrame({"doc_id": ids, "rep": rep})

    return bands.groupBy("band", "sig").applyInPandasWithState(
        update,
        outputStructType="doc_id long, rep long",
        stateStructType="keeper long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _register_stream_dedup_minhash():
    from multithreaded_mapreduce_library_spark.operators.dedup import (
        _DUCK_SHINGLES,
        _band_sig,
        _duck_minhash_cols,
        N_BANDS,
    )

    @register(
        "stream_dedup_minhash",
        # Single-file single-batch replay (table_stream hard-asserts) =>
        # within every bucket the keeper is the bucket min, so the
        # settled per-doc aggregate equals the batch EXISTS-any-earlier
        # answer: a doc is a near-dup iff an earlier doc shares any band
        # signature, with the smallest such doc as representative. The
        # oracle computes that directly from the batch band join. Both
        # sides restrict to docs with >= 1 shingle (a shingle-less doc
        # has no signature and no bucket on either engine).
        oracle=f"""
WITH {_DUCK_SHINGLES},
mh AS (SELECT doc_id, {_duck_minhash_cols()} FROM hs GROUP BY doc_id),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {bb} AS band, {_band_sig('', bb)} AS sig FROM mh"
      for bb in range(N_BANDS)
  )}
),
hits AS (
  SELECT b.doc_id AS d, min(a.doc_id) AS rep
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY b.doc_id
)
SELECT m.doc_id,
       (h.d IS NOT NULL) AS is_near_dup,
       CAST(coalesce(h.rep, -1) AS BIGINT) AS dup_of
FROM (SELECT DISTINCT doc_id FROM hs) m
LEFT JOIN hits h ON m.doc_id = h.d
""",
        tags=("streaming", "dedup", "minhash", "lsh", "stateful", "llm-pipeline"),
        doc=(
            "Streaming NEAR-dup membership — the online LSH admission "
            "gate completing the dedup 2x2 (exact/near x batch/stream): "
            "shingle->MinHash->band signatures computed JVM-side on the "
            "documents stream with the exact constants of batch "
            "dedup_minhash, then a per-(band, sig) bucket carries its "
            "earliest-seen doc in GroupState; a doc whose bucket keeper "
            "precedes it in ANY of its bands is flagged with the "
            "smallest such keeper as dup_of. First-arrival-bucket-keeper "
            "contract as stream_dedup_docs. The settled replay equals "
            "the batch EXISTS-any-earlier band-join answer (the oracle). "
            "Shuffle story: one shingle explode + partial-min signature "
            "agg, one exchange on (band, sig) into the state groups, "
            "one keyed per-doc finalize agg — signatures, never text, "
            "cross the exchanges; state is ONE long per distinct bucket "
            "(bounded by the corpus's signature diversity, TTL-bounded "
            "in production like the exact-hash twin)."
        ),
    )
    def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
        emitted = run_to_memory(
            near_dup_membership_transform(
                minhash_bands_transform(table_stream(spark, sf_dir, "documents"))
            ),
            "update",
        )
        return emitted.groupBy("doc_id").agg(
            F.max(F.col("rep") >= 0).alias("is_near_dup"),
            F.coalesce(F.min(F.when(F.col("rep") >= 0, F.col("rep"))), F.lit(-1))
            .cast("long")
            .alias("dup_of"),
        )


_register_stream_dedup_minhash()


def semantic_admission_stream_transform(
    stream: DataFrame, centroid_rows, idx: DataFrame
):
    """Online semantic admission over a stream of arriving embeddings:
    per-row nearest-cell assignment against the LITERAL trained-centroid
    array (k x dim doubles embedded in the plan — no window, no extra
    shuffle, streaming-legal), then a stream-static equi join on the cell
    id against the static corpus index and the per-vector decision
    aggregate (count / max cosine / min qualifying corpus id) in update
    mode. ``centroid_rows`` are the collected (cid, vc) rows (k rows —
    a broadcast-tiny fetch) and the argmin is similarity._nearest_centroid,
    the batch assignment's own expression, so cell ids agree bit-for-bit
    with dedup_semantic_incremental; ``idx`` is the static (od, cid_i,
    vb, norm_b) corpus index frame."""
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _SPARK_COSINE,
        _SPARK_NORM,
        _dvec,
        _nearest_centroid,
        SEMANTIC_TAU,
    )

    assign = F.expr(_nearest_centroid(centroid_rows, "v") + ".cid")
    arriving = (
        stream.select("vec_id", _dvec("embedding").alias("v"))
        .withColumn("cid_b", assign)
        .withColumn("norm", F.expr(_SPARK_NORM))
        .select(
            F.col("vec_id").alias("nd"), "cid_b",
            F.col("v").alias("va"), F.col("norm").alias("norm_a"),
        )
    )
    pairs = arriving.join(idx, F.col("cid_b") == F.col("cid_i")).select(
        "nd", "od", F.expr(_SPARK_COSINE).alias("c")
    )
    return pairs.groupBy("nd").agg(
        F.count("*").cast("long").alias("n_cell"),
        F.max("c").alias("max_c"),
        F.min(F.when(F.col("c") >= SEMANTIC_TAU, F.col("od"))).alias("dup_raw"),
    )


def _register_stream_dedup_semantic():
    from multithreaded_mapreduce_library_spark.functions import h31
    from multithreaded_mapreduce_library_spark.operators.dedup import INC_SPLIT_MOD
    from multithreaded_mapreduce_library_spark.operators.similarity import (
        _COS_SENTINEL_FX,
        _FX,
        _SPARK_NORM,
        _assign_to_cells,
        _dvec,
        _duck_sem_inc_oracle,
        _lloyd_train,
        _load_embeddings,
    )

    @register(
        "stream_dedup_semantic",
        # The corpus index is STATIC and the decision for an arriving
        # vector depends only on (vector, index) — never on other
        # arrivals — so the settled replay is arrival-order-independent
        # and equals the batch admission answer exactly: the oracle is
        # dedup_semantic_incremental's, shared VERBATIM (the
        # stream_upsert/merge_upsert precedent — one truth, two
        # execution paths).
        oracle=_duck_sem_inc_oracle(),
        tags=(
            "streaming", "dedup", "similarity", "kmeans", "incremental",
            "stateful", "llm-pipeline",
        ),
        doc=(
            "Streaming SEMANTIC admission — the online half of "
            "dedup_semantic_incremental, completing the exact/near/"
            "semantic x batch/stream dedup matrix (3x2, all six cells "
            "green): the corpus index (cells trained on the corpus "
            "split, corpus vectors assigned) is built ONCE and held "
            "static; arriving batch vectors stream in, each assigned to "
            "its nearest trained cell by a LITERAL k-centroid argmin "
            "expression (array_min over struct(d2, cid) — field-"
            "lexicographic struct order IS the (d2, cid) tiebreak; no "
            "window, streaming-legal), stream-static equi-joined on the "
            "cell id against the same-cell corpus vectors only, cosine-"
            "gated, and aggregated per arriving vector in update mode. "
            "Empty-cell arrivals surface through the batch-side left "
            "join with the sentinel, exactly as the batch twin. "
            "Exactness: centroid values are fixed-point-quantized exact "
            "1e-6 multiples (round-trip to plan literals losslessly), "
            "d2/cosine are the shared sequential folds, so every cell "
            "assignment and gate decision agrees bit-for-bit with the "
            "batch path and the shared oracle. Shuffle story: training "
            "rides the batch side (literal-argmin narrow assignment, "
            "k x dim partial-agg update); "
            "the stream side's assignment is a NARROW per-row map (the "
            "k centroids live in the plan, nothing joins before the "
            "cell exchange), then ONE stream-static equi exchange on "
            "the cell id and ONE keyed decision agg — state is one "
            "(count, max, min) triple per in-flight arriving vector. "
            "At 100 TB the index is the stored IVF assignment, cell-"
            "partitioned; an arriving stream shuffles only itself plus "
            "the touched cells — the same work-scales-with-the-batch "
            "contract as the batch twin, now paid per micro-batch."
        ),
    )
    def stream_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
        is_batch = (
            F.pmod(h31(F.col("vec_id").cast("string")), F.lit(INC_SPLIT_MOD)) == 0
        )
        e = _load_embeddings(spark, sf_dir).select(
            "vec_id", _dvec("embedding").alias("v")
        )
        corpus = e.filter(~is_batch)
        centroids = _lloyd_train(corpus)
        schema = (
            "vec_id long, cell_id long, n_cell long, max_cos_fx long,"
            " is_dup boolean, dup_of long"
        )
        if not centroids:
            # all-batch corpus: nothing to train on => no assignments on
            # either engine (the oracle's bat CTE is empty too) — the
            # contract pinned by the batch twin's empty-corpus edge test
            return spark.createDataFrame([], schema)
        idx = (
            _assign_to_cells(corpus, centroids)
            .withColumn("norm", F.expr(_SPARK_NORM))
            .select(
                F.col("vec_id").alias("od"), F.col("cid").alias("cid_i"),
                F.col("v").alias("vb"), F.col("norm").alias("norm_b"),
            )
        )
        stream = table_stream(spark, sf_dir, "embeddings").filter(is_batch)
        settled = run_to_memory(
            semantic_admission_stream_transform(stream, centroids, idx),
            "update",
        )
        # defensive cross-update finalize (the minhash twin's pattern):
        # counts/maxes only grow, the qualifying min only shrinks, so the
        # latest state == these monoid merges on any batching
        dec = settled.groupBy("nd").agg(
            F.max("n_cell").cast("long").alias("n_cell"),
            F.floor(F.max("max_c") * _FX + F.lit(0.5))
            .cast("long")
            .alias("max_cos_fx"),
            F.min("dup_raw").alias("dup_raw"),
        )
        # batch-side assignment of the arriving split (the same literal
        # argmin as the stream side), for cell ids and the empty-cell
        # left-join rows
        bat = _assign_to_cells(e.filter(is_batch), centroids)
        return bat.join(dec, bat.vec_id == dec.nd, "left").select(
            "vec_id",
            F.col("cid").cast("long").alias("cell_id"),
            F.coalesce(F.col("n_cell"), F.lit(0)).cast("long").alias("n_cell"),
            F.coalesce(F.col("max_cos_fx"), F.lit(_COS_SENTINEL_FX))
            .cast("long")
            .alias("max_cos_fx"),
            F.col("dup_raw").isNotNull().alias("is_dup"),
            F.coalesce(F.col("dup_raw"), F.lit(-1)).cast("long").alias("dup_of"),
        )


_register_stream_dedup_semantic()


# ---------------------------------------------------------------------------
# streaming bigram-LM quality gate (landed r18 after an oracle
# differential on seeds 42 AND 1201 and a hand-checked micro-corpus with
# the real h31 split; multi-batch settle pinned in tests/test_streaming.py)
# ---------------------------------------------------------------------------

# same explode as the batch twin (operators/text.py lm_bigram_score)
_BG_EXPR = (
    "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
    " (a, b) -> struct(a AS w1, b AS w2))"
)


def lm_score_stream_transform(
    s: DataFrame, c2: DataFrame, c1: DataFrame, vocab_n: int
) -> DataFrame:
    """Streaming-legal scoring of an arriving document stream against a
    STATIC corpus-trained bigram model: per-row tokenize + bigram explode
    (narrow), stream-static LEFT equi-joins against the model tables
    (unseen bigrams/contexts coalesce to 0 and ride the same add-1
    smoothing: P = (c12+1)/(c_ctx+V), so a fully-novel transition scores
    1/V), V folded in as a literal (the streaming-twin precedent for
    constant model state — stream_dedup_semantic's centroid literals),
    then ONE keyed update-mode aggregation per arriving doc emitting
    monotone (n_bigrams, sum_fx) counters."""
    toks = s.select("doc_id", tokens("text").alias("t"))
    bg = (
        toks.filter(F.size("t") >= 2)
        .select("doc_id", F.explode(F.expr(_BG_EXPR)).alias("bgs"))
        .select("doc_id", "bgs.w1", "bgs.w2")
        .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    )
    p = (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.lit(int(vocab_n))
    ).cast("double")
    return (
        bg.join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .withColumn("p_fx", F.floor(p * F.lit(1000000) + F.lit(0.5)).cast("long"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("p_fx").alias("sum_fx"))
    )


def _register_stream_lm_score():
    from multithreaded_mapreduce_library_spark.functions import duck_tokens, h31
    from multithreaded_mapreduce_library_spark.operators.dedup import (
        _INC_BATCH_COND,
        INC_SPLIT_MOD,
    )
    from multithreaded_mapreduce_library_spark.sources import load_table

    oracle = f"""
WITH corpus AS (SELECT text FROM documents WHERE NOT {_INC_BATCH_COND}),
batch AS (SELECT doc_id, text FROM documents WHERE {_INC_BATCH_COND}),
tc AS (SELECT {duck_tokens('text')} AS t FROM corpus),
v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab
      FROM (SELECT unnest(t) AS w FROM tc)),
bgc AS (
  SELECT bgs.w1 AS w1, bgs.w2 AS w2 FROM (
    SELECT unnest(list_transform(range(2, len(t) + 1),
                  i -> {{'w1': t[i-1], 'w2': t[i]}})) AS bgs
    FROM tc WHERE len(t) >= 2
  )
),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bgc GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bgc GROUP BY w1),
tb AS (SELECT doc_id, {duck_tokens('text')} AS t FROM batch),
bgb AS (
  SELECT doc_id, bgs.w1 AS w1, bgs.w2 AS w2 FROM (
    SELECT doc_id, unnest(list_transform(range(2, len(t) + 1),
                          i -> {{'w1': t[i-1], 'w2': t[i]}})) AS bgs
    FROM tb WHERE len(t) >= 2
  )
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       floor(CAST(CAST(sum(CAST(floor(
           (COALESCE(c2.c12, 0) + 1)
           / CAST(COALESCE(c1.c1, 0) + v.vocab AS DOUBLE) * 1000000 + 0.5
         ) AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) + 0.5) / 1000000
         AS avg_bigram_p
FROM bgb b
LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
LEFT JOIN c1 ON b.w1 = c1.w1
CROSS JOIN v
WHERE v.vocab > 0
GROUP BY b.doc_id
"""

    @register(
        "stream_lm_score",
        oracle=oracle,
        tags=("streaming", "text", "quality", "incremental", "llm-pipeline"),
        doc=(
            "Streaming quality gate — the online half of lm_bigram_score: "
            "train the add-1-smoothed bigram model on the CORPUS split "
            "(the standard h31 % INC_SPLIT_MOD incremental convention), "
            "hold it static, and score ARRIVING documents (the batch "
            "split) as they stream in. The deployed perplexity-filter "
            "shape: the model is fixed at serving time, V covers corpus "
            "vocabulary only, and novel transitions in arriving text fall "
            "back to the smoothed floor — so scores are comparable across "
            "micro-batches. Exactness as the batch twin (one IEEE double "
            "division of exact integers per bigram, fixed-point per-doc "
            "mean); the oracle derives c_ctx directly from the bigram "
            "stream while the builder re-aggregates c2 — independent "
            "derivations must agree exactly. Shuffle story (100 TB): "
            "model = lm_bigram_score's one corpus-scale (w1,w2) agg + "
            "vocab-scale c_ctx re-agg, built once per deployment (persist "
            "it as a table in production — here it rides the replay); per "
            "micro-batch the arriving docs pay narrow explode + two "
            "stream-static keyed LEFT joins (vocab-sized static sides, "
            "broadcast when small) + one keyed update agg whose state is "
            "a (count, sum) pair per in-flight doc. The PER-MICRO-BATCH "
            "executed plan is pinned in tests/test_streaming.py: both "
            "model joins BroadcastHashJoin (arriving rows never shuffle "
            "for the joins — their only exchange is the stateful doc_id "
            "agg), exactly ONE corpus-side FileScan with c_ctx riding a "
            "ReusedExchange of the (w1,w2) model agg (the batch twin's "
            "r17 exchange-reuse lesson holds inside each micro-batch "
            "plan). Work scales with the BATCH, never the corpus. "
            "Finalize is the twins' defensive monoid merge (counters "
            "only grow across update emissions)."
        ),
    )
    def stream_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        is_batch = (
            F.pmod(h31(F.col("doc_id").cast("string")), F.lit(INC_SPLIT_MOD)) == 0
        )
        d = load_table(spark, sf_dir, "documents")
        corpus = d.filter(~is_batch)
        toks_c = corpus.select(tokens("text").alias("t"))
        vocab_n = (
            toks_c.select(F.explode("t").alias("w"))
            .agg(F.count_distinct("w").alias("v"))
            .collect()[0]["v"]
        )
        schema = "doc_id long, n_bigrams long, avg_bigram_p double"
        if not vocab_n:
            # all-batch corpus (or token-free corpus): no trained model =>
            # no scores on either engine (the oracle's WHERE v.vocab > 0)
            return spark.createDataFrame([], schema)
        bgc = (
            toks_c.filter(F.size("t") >= 2)
            .select(F.explode(F.expr(_BG_EXPR)).alias("bgs"))
            .select("bgs.w1", "bgs.w2")
            .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
        )
        c2 = bgc.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
        # derived c_ctx (the batch twin's shape); the oracle derives it
        # directly from the bigram stream — independent derivations must
        # agree exactly
        c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
        stream = table_stream(spark, sf_dir, "documents").filter(is_batch)
        settled = run_to_memory(
            lm_score_stream_transform(stream, c2, c1, vocab_n), "update"
        )
        fin = settled.groupBy("doc_id").agg(
            F.max("n_bigrams").cast("long").alias("n_bigrams"),
            F.max("sum_fx").cast("long").alias("sum_fx"),
        )
        return fin.select(
            "doc_id",
            "n_bigrams",
            (
                F.floor(
                    F.col("sum_fx").cast("double") / F.col("n_bigrams")
                    + F.lit(0.5)
                ) / F.lit(1000000)
            ).alias("avg_bigram_p"),
        )


_register_stream_lm_score()
