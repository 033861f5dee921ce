"""Event-time operators over the ``events`` table: JSON extraction,
tumbling/sliding windows, session windows, keep-first dedup.

These are the batch twins of the Structured Streaming operators in
:mod:`multithreaded_mapreduce_library_spark.streaming` — same window
semantics (epoch-aligned tumble/slide, gap-based sessions), checkable
against a SQL oracle, whereas the streaming variants get rows-only checks.
The reference is strictly batch with no time semantics at all
(SURVEY.md §2.2: streaming ABSENT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from multithreaded_mapreduce_library_spark.functions import fixed_point
from multithreaded_mapreduce_library_spark.registry import register
from multithreaded_mapreduce_library_spark.sources import load_table

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@register(
    "json_extract",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS cnt,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY 1
""",
    tags=("scalar", "json", "events"),
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props payload + grouped stats."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("cnt"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# Shared with the streaming twin (stream_tumbling): complete mode settles
# to exactly this window set, and sharing the constant is what enforces
# the "identical results" claim (same pattern as joins._ASOF_ORACLE).
def tumbling_transform(s: DataFrame) -> DataFrame:
    """Tumbling 1-hour windowed count/sum per event_type over a batch or
    stream frame: time_tumbling and stream_tumbling both run this one
    aggregation."""
    return (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            (F.sum(fixed_point("value", 1_000_000)) / 1_000_000).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def sliding_transform(s: DataFrame) -> DataFrame:
    """Sliding 1-hour/30-minute windowed count per event_type behind a
    2-hour watermark, shared by time_sliding and stream_sliding_watermark.
    Spark drops the watermark on batch input, so the batch plan is the
    plain windowed aggregate."""
    return (
        s.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "cnt",
        )
    )


TUMBLING_ORACLE = f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS window_start,
       event_type,
       count(*) AS cnt,
       (sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000) AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "time_tumbling",
    oracle=TUMBLING_ORACLE,
    tags=("events", "time-window"),
    doc=(
        "Tumbling 1-hour event-time windows (epoch-aligned, matching "
        "Structured Streaming's window() semantics)."
    ),
)
def time_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_transform(load_table(spark, sf_dir, "events"))


# The sliding-window SET (every event in its two 1h/30m windows); the
# batch oracle aggregates it directly, the streaming twin appends the
# final-watermark cutoff before the same GROUP BY.
SLIDING_CORE = f"""
SELECT strftime(ws, '{TS_FMT_DUCK}') AS window_start, event_type, count(*) AS cnt
FROM (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws,
         event_type, ts
  FROM events
)
WHERE ts >= ws AND ts < ws + INTERVAL 60 MINUTE"""


@register(
    "time_sliding",
    oracle=SLIDING_CORE + "\nGROUP BY 1, 2\n",
    tags=("events", "time-window"),
    doc=(
        "Sliding windows (1h length, 30m slide): each event lands in two "
        "overlapping windows; the oracle materializes the same window set "
        "via epoch-aligned buckets."
    ),
)
def time_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_transform(load_table(spark, sf_dir, "events"))


# Gaps-and-islands session identification, shared with stream_session
# (which adds the watermark HAVING cutoff and drops sum_value).
SESSION_ISLANDS_CTES = """flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) < INTERVAL 15 MINUTE
              THEN 0 ELSE 1 END AS brk
  FROM events
), numbered AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)"""


@register(
    "sessionize",
    oracle=f"""
WITH {SESSION_ISLANDS_CTES}
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       count(*) AS n_events,
       (sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000) AS sum_value
FROM numbered
GROUP BY user_id, sid
""",
    tags=("events", "session-window"),
    doc=(
        "Sessionization with a 15-minute inactivity gap via session_window "
        "— the batch twin of streaming session windows. Oracle reproduces "
        "the gap semantics with gaps-and-islands (lag + cumulative break "
        "count). Session identity depends only on ts values, so tie order "
        "is irrelevant."
    ),
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(fixed_point("value", 1_000_000)) / 1_000_000).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT_SPARK).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "dedup_keep_first",
    oracle=f"""
SELECT user_id, event_type, event_id,
       strftime(ts, '{TS_FMT_DUCK}') AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
""",
    tags=("events", "dedup"),
    doc=(
        "Keep-first dedup by (user, event_type): the batch form of streaming "
        "dropDuplicates state, deterministic via (ts, event_id) ordering. "
        "Shuffle story: one window exchange on the dedup key; at 100 TB "
        "this is the exact-dedup shuffle — keys, never payloads, dominate."
    ),
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_type",
            "event_id",
            "ts",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", TS_FMT_SPARK).alias("first_ts"),
        )
    )


@register(
    "hypertable_rollup",
    oracle=f"""
WITH e AS (
  SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS bucket_hour,
         strftime(time_bucket(INTERVAL 1 DAY, ts), '{TS_FMT_DUCK}') AS bucket_day,
         event_type, value
  FROM events
)
SELECT bucket_day, bucket_hour, event_type,
       GROUPING(bucket_day, bucket_hour, event_type) AS grp_id,
       count(*) AS cnt,
       (sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) / 1000000) AS sum_value
FROM e
GROUP BY GROUPING SETS ((bucket_day, bucket_hour, event_type),
                        (bucket_day, event_type),
                        (bucket_day))
""",
    tags=("events", "time-window", "rollup", "llm-pipeline"),
    doc=(
        "Hypertable-style continuous-aggregate rollup: hour- and "
        "day-resolution aggregates computed in ONE pass via grouping sets "
        "over time buckets (hour within day within total), instead of one "
        "scan per resolution. The pattern behind TimescaleDB-like rollup "
        "tables, expressed as a single Catalyst Expand + aggregate."
    ),
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), TS_FMT_SPARK).alias("bucket_hour"),
        F.date_format(F.date_trunc("day", "ts"), TS_FMT_SPARK).alias("bucket_day"),
        "event_type",
        "value",
    )
    e.createOrReplaceTempView("hypertable_events")
    return spark.sql(
        """
        SELECT bucket_day, bucket_hour, event_type,
               grouping_id(bucket_day, bucket_hour, event_type) AS grp_id,
               count(*) AS cnt,
               sum(floor(value * 1000000 + 0.5)) / 1000000 AS sum_value
        FROM hypertable_events
        GROUP BY GROUPING SETS ((bucket_day, bucket_hour, event_type),
                                (bucket_day, event_type),
                                (bucket_day))
        """
    )


FUNNEL_WINDOW_MIN = 60  # click -> purchase attribution window


# Click-conversion identification, shared with stream_funnel (which
# SELECTs the same per-user totals minus conversion_rate).
FUNNEL_CTES = f"""seq AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_ts
  FROM events
),
clicks AS (
  SELECT user_id,
         CASE WHEN next_purchase_ts IS NOT NULL
                   AND next_purchase_ts <= ts + INTERVAL {FUNNEL_WINDOW_MIN} MINUTE
              THEN 1 ELSE 0 END AS converted
  FROM seq WHERE event_type = 'click'
)"""


@register(
    "event_funnel",
    oracle=f"""
WITH {FUNNEL_CTES}
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(sum(converted) / CAST(count(*) AS DOUBLE), 6) AS conversion_rate
FROM clicks
GROUP BY user_id
""",
    tags=("events", "funnel", "window"),
    doc=(
        "Click→purchase funnel per user: a click converts if the same "
        "user purchases within the next hour. Sequence analysis as a "
        "forward-looking window minimum (next purchase at-or-after each "
        "event) — no self-join, no per-user collect. Shuffle story: ONE "
        "window exchange on user_id, then a per-user agg that REUSES that "
        "partitioning (no second exchange). At 100 TB this is the "
        "standard sessionized-funnel shape: state per user bounded by "
        "the attribution window."
    ),
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    clicks = (
        e.withColumn("next_purchase_ts", next_purchase)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            (
                F.col("next_purchase_ts").isNotNull()
                & (
                    F.col("next_purchase_ts")
                    <= F.col("ts") + F.expr(f"INTERVAL {FUNNEL_WINDOW_MIN} MINUTES")
                )
            ).cast("int").alias("converted"),
        )
    )
    return clicks.groupBy("user_id").agg(
        F.count("*").alias("n_clicks"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(F.sum("converted") / F.count("*").cast("double"), 6).alias("conversion_rate"),
    )


@register(
    "variant_extract",
    oracle="""
SELECT event_type,
       count(*) AS n,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
""",
    tags=("events", "variant", "semi-structured"),
    doc=(
        "Spark 4 VariantType path for semi-structured payloads: "
        "parse_json() once into a binary variant, then typed "
        "variant_get() extractions — the encoded form is traversed "
        "without re-parsing per field, the scale answer to repeated "
        "get_json_object string parsing (one parse amortizes across all "
        "extractions; with many fields this is the difference between "
        "O(fields) JSON scans and one). Shuffle story: parse+extract are "
        "narrow; ONE agg exchange on the 5-value event_type with "
        "map-side partials. Oracle: DuckDB JSON extraction of the same "
        "paths — variant is an encoding, not a semantics change."
    ),
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


@register(
    "quarantine_malformed",
    # Corruption is injected as TRUNCATION (drop the closing brace on
    # event_id % 7 = 0) — the classic ingest failure — because both
    # engines' STRICT parsers (Spark's variant try_parse_json, DuckDB's
    # json_valid) reject it identically; trailing-garbage corruption
    # would NOT be cross-engine stable (Jackson accepts '{"k":5}x',
    # DuckDB does not), so don't "generalize" the injection.
    oracle="""
WITH aug AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 1, length(props) - 1)
              ELSE props END AS p
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(CASE WHEN NOT json_valid(p) THEN 1 END) AS BIGINT) AS n_quarantined,
       CAST(sum(CASE WHEN json_valid(p) THEN CAST(p ->> '$.k' AS BIGINT) END) AS BIGINT)
         AS sum_valid_k
FROM aug
GROUP BY event_type
""",
    tags=("events", "json", "quarantine", "llm-pipeline"),
    doc=(
        "Malformed-record quarantine: strict-parse every props payload "
        "(1/7 deterministically truncated to simulate ingest corruption), "
        "count quarantined rows per event type, and aggregate the valid "
        "payloads only — the route-bad-records-aside pattern every 100 TB "
        "ingest needs so one truncated record can't poison a batch. "
        "Strictness matters and is pinned cross-engine: Spark "
        "try_parse_json (variant, RFC-strict) agrees with DuckDB "
        "json_valid on truncation. Shuffle story: narrow parse riding "
        "the scan + one partial-aggregated exchange on the 5-value "
        "event_type key."
    ),
)
def quarantine_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    aug = e.select(
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        )
        .otherwise(F.col("props"))
        .alias("p"),
    )
    parsed = aug.select(
        "event_type",
        F.expr("try_parse_json(p) IS NULL").alias("malformed"),
        F.expr("try_variant_get(try_parse_json(p), '$.k', 'bigint')").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(F.when(F.col("malformed"), F.lit(1))).alias("n_quarantined"),
        F.sum("k").alias("sum_valid_k"),
    )


# ---------------------------------------------------------------------------
# time-series linear interpolation (gap fill with values, not zeros)
# ---------------------------------------------------------------------------

@register(
    "interpolate_linear",
    oracle="""
WITH per AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_c
  FROM events GROUP BY 1, 2
), b AS (
  SELECT event_type, min(h) AS mn, max(h) AS mx FROM per GROUP BY 1
), spine AS (
  SELECT b.event_type, t.h
  FROM b, LATERAL (SELECT unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS h) t
), j AS (
  SELECT s.event_type, s.h, p.v_c FROM spine s LEFT JOIN per p USING (event_type, h)
), f AS (
  SELECT event_type, h, v_c,
    last_value(v_c IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
    last_value(CASE WHEN v_c IS NOT NULL THEN h END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY h
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
    first_value(v_c IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
    first_value(CASE WHEN v_c IS NOT NULL THEN h END IGNORE NULLS)
      OVER (PARTITION BY event_type ORDER BY h
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM j
)
SELECT event_type,
       strftime(h, '%Y-%m-%d %H:00') AS hour,
       (CASE WHEN v_c IS NOT NULL THEN v_c
             ELSE prev_c + CAST(floor(((next_c - prev_c)
                    * date_diff('hour', prev_h, h))
                    / date_diff('hour', prev_h, next_h) + 0.5) AS BIGINT)
        END) / 100 AS value,
       CASE WHEN v_c IS NOT NULL THEN 1 ELSE 0 END AS is_observed
FROM f
""",
    tags=("events", "timeseries", "interpolation"),
    doc=(
        "Hourly per-type value series with LINEAR interpolation across "
        "missing hours (contrast calendar_fill's zero-fill): the spine is "
        "generated inline per type from observed min/max, previous/next "
        "observed points come from two ignore-nulls window passes, and "
        "the interpolated value is computed in fixed-point cents with "
        "half-up rounding — bit-identical across engines (no float "
        "accumulation drift). Shuffle story: ONE wide exchange (the "
        "hourly partial agg); bounds/spine are per-type aggregates on "
        "the already-reduced frame, and both windows reuse the same "
        "(event_type, h) sort — at 100 TB the raw events reduce to "
        "|types|x|hours| rows before anything wide happens."
    ),
)
def interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(fixed_point("value")).cast("long").alias("v_c"))
    bounds = per.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("h"),
    )
    j = spine.join(per, ["event_type", "h"], "left")
    back = W.partitionBy("event_type").orderBy("h").rowsBetween(
        W.unboundedPreceding, 0
    )
    fwd = W.partitionBy("event_type").orderBy("h").rowsBetween(
        0, W.unboundedFollowing
    )
    observed_h = F.when(F.col("v_c").isNotNull(), F.col("h"))
    f = (
        j.withColumn("prev_c", F.last("v_c", ignorenulls=True).over(back))
        .withColumn("prev_h", F.last(observed_h, ignorenulls=True).over(back))
        .withColumn("next_c", F.first("v_c", ignorenulls=True).over(fwd))
        .withColumn("next_h", F.first(observed_h, ignorenulls=True).over(fwd))
    )
    hours = lambda a, b: (  # noqa: E731 — whole hours, exact integer
        (F.col(b).cast("long") - F.col(a).cast("long")) / 3600
    ).cast("long")
    interp = F.col("prev_c") + F.floor(
        ((F.col("next_c") - F.col("prev_c")) * hours("prev_h", "h"))
        / hours("prev_h", "next_h")
        + F.lit(0.5)
    ).cast("long")
    return f.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        (
            F.when(F.col("v_c").isNotNull(), F.col("v_c")).otherwise(interp) / 100
        ).alias("value"),
        F.when(F.col("v_c").isNotNull(), 1).otherwise(0).alias("is_observed"),
    )


# ---------------------------------------------------------------------------
# robust anomaly detection (median / MAD)
# ---------------------------------------------------------------------------

MAD_K = 2.5  # flag days whose |value - median| exceeds K * MAD


@register(
    "anomaly_mad",
    oracle=f"""
WITH per AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_c
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, median(v_c) AS med FROM per GROUP BY 1
), dev AS (
  SELECT per.event_type, per.d, per.v_c, m.med, abs(per.v_c - m.med) AS dv
  FROM per JOIN m USING (event_type)
), md AS (
  SELECT event_type, median(dv) AS mad FROM dev GROUP BY 1
)
SELECT dev.event_type,
       strftime(dev.d, '%Y-%m-%d') AS day,
       dev.v_c / 100 AS value,
       dev.med / 100 AS med_value,
       md.mad / 100 AS mad_value
FROM dev JOIN md USING (event_type)
WHERE dev.dv > {MAD_K} * md.mad
""",
    tags=("events", "anomaly", "robust-stats"),
    doc=(
        "Robust per-type daily anomaly detection: flag days whose daily "
        f"total deviates from the type's MEDIAN by more than {MAD_K}x the "
        "median absolute deviation — the estimator a mean/stddev z-score "
        "cannot be at 100 TB, where the anomalies themselves corrupt the "
        "mean. Exactness: daily totals are fixed-point cents; both "
        "engines compute the identical interpolated median ((a+b)/2 on "
        "integers — exactly representable halves), so med/MAD/threshold "
        "agree bit-for-bit. Shuffle story: ONE wide partial-aggregated "
        "exchange (events -> (type, day) totals); the two median passes "
        "run per type on the already-reduced day frame and join back "
        "broadcast (|types| rows) — raw events never feed a sort."
    ),
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum(fixed_point("value")).cast("long").alias("v_c"))
    m = per.groupBy("event_type").agg(
        F.expr("percentile(v_c, 0.5)").alias("med")
    )
    dev = per.join(F.broadcast(m), "event_type").withColumn(
        "dv", F.abs(F.col("v_c") - F.col("med"))
    )
    md = dev.groupBy("event_type").agg(
        F.expr("percentile(dv, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(md), "event_type")
        .filter(F.col("dv") > MAD_K * F.col("mad"))
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            (F.col("v_c") / 100).alias("value"),
            (F.col("med") / 100).alias("med_value"),
            (F.col("mad") / 100).alias("mad_value"),
        )
    )


# ---------------------------------------------------------------------------
# product analytics: cohort retention + event transitions
# ---------------------------------------------------------------------------

@register(
    "retention_cohorts",
    oracle="""
WITH f AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), j AS (
  SELECT e.user_id, f.cohort_week,
         date_diff('day', f.cohort_week, date_trunc('week', e.ts)) // 7 AS week_offset
  FROM events e JOIN f USING (user_id)
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
       CAST(week_offset AS BIGINT) AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM j GROUP BY cohort_week, week_offset
""",
    tags=("events", "analytics", "cohort"),
    doc=(
        "Classic cohort retention matrix: users grouped by first-seen "
        "ISO week, activity counted by whole-week offset — the "
        "product-analytics staple. Both engines truncate weeks to the "
        "same ISO Monday and the offset is pure integer day arithmetic, "
        "so the matrix is exact. Shuffle story: one partial-aggregated "
        "exchange builds per-user first-seen; the join back broadcasts "
        "that reduced side while it fits (AQE picks broadcast at the "
        "test SFs) and falls back to one keyed SMJ exchange pair on "
        "user_id at scale; the count-distinct then exchanges deduped "
        "(cohort, offset, user) triples. At 100 TB nothing wider than "
        "(user, week) pairs ever moves."
    ),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    )
    f = e.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    j = e.join(f, "user_id").select(
        "user_id",
        "cohort_week",
        (
            (F.col("w").cast("long") - F.col("cohort_week").cast("long"))
            / (7 * 86400)
        )
        .cast("long")
        .alias("week_offset"),
    )
    return j.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort"), "week_offset"
    ).agg(F.countDistinct("user_id").cast("long").alias("n_users"))


@register(
    "event_transitions",
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       count(*) AS n_transitions
FROM s WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
    tags=("events", "analytics", "markov"),
    doc=(
        "First-order event-transition counts (the empirical Markov "
        "matrix over per-user event streams): lag over (user_id, ts) "
        "with the unique event_id as the total-order tiebreak — the "
        "ranking convention the repo pins for cross-engine determinism "
        "— then a count per (prev, next) pair. Shuffle story: ONE "
        "window exchange on user_id (per-user streams sort locally "
        "within their partition), then a tiny 25-cell partial-aggregated "
        "count. At 100 TB the window state is one row per event scan-"
        "local to its user partition; no joins anywhere."
    ),
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_transitions")
    )


# ---------------------------------------------------------------------------
# gaps-and-islands: consecutive-day activity streaks
# ---------------------------------------------------------------------------

@register(
    "gaps_islands",
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), i AS (
  SELECT user_id, day,
         date_diff('day', DATE '2024-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
  FROM d
), runs AS (
  SELECT user_id, isl, count(*) AS len FROM i GROUP BY user_id, isl
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS max_streak
FROM runs GROUP BY user_id
""",
    tags=("events", "analytics", "gaps-islands"),
    doc=(
        "Gaps-and-islands: per-user consecutive-day activity streaks "
        "(active days, streak count, longest streak) via the islands "
        "trick — day ordinal minus row_number is constant exactly on a "
        "run of consecutive days; pure integer arithmetic, exact in "
        "both engines. Shuffle story: TWO exchanges — the (user, day) "
        "distinct (map-side partial dedup collapses same-day events "
        "before the wire), then one user_id exchange shared by the "
        "window and both aggregations. At 100 TB the wide steps move "
        "one row per user-day, never per event."
    ),
)
def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = e.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    i = d.select(
        "user_id",
        (
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("isl"),
    )
    runs = i.groupBy("user_id", "isl").agg(F.count("*").alias("len"))
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.count("*").cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("max_streak"),
    )


# ---------------------------------------------------------------------------
# time-weighted average (irregular series)
# ---------------------------------------------------------------------------

@register(
    "time_weighted_avg",
    oracle="""
WITH s AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_c,
         epoch(date_trunc('second', ts)) AS sec,
         lead(epoch(date_trunc('second', ts)))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_sec
  FROM events
), h AS (
  SELECT event_type, v_c, next_sec - sec AS dt
  FROM s WHERE next_sec IS NOT NULL
)
SELECT event_type,
       CAST(sum(v_c * dt) AS BIGINT) / CAST(sum(dt) AS BIGINT) / 100 AS twa_value,
       CAST(sum(dt) AS BIGINT) AS span_sec
FROM h GROUP BY event_type
""",
    tags=("events", "timeseries", "twa"),
    doc=(
        "Time-weighted average over the irregular per-type event series "
        "— each observation holds until the next one, so its weight is "
        "the gap to its successor (the financial/sensor-data estimator "
        "a plain AVG gets wrong when sampling is uneven). All-integer "
        "core: fixed-point cents x whole-second gaps summed as BIGINT "
        "(order-independent), one double division at the end — exact in "
        "both engines; the unique event_id breaks same-timestamp order. "
        "Shuffle story: ONE window exchange on event_type (the lead() "
        "pass), then the weighted sums partial-aggregate on the same "
        "partitioning — no join, nothing wider than (type, value, gap)."
    ),
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    s = e.select(
        "event_type",
        fixed_point("value").cast("long").alias("v_c"),
        sec.alias("sec"),
        F.lead(sec).over(w).alias("next_sec"),
    ).filter(F.col("next_sec").isNotNull())
    h = s.withColumn("dt", F.col("next_sec") - F.col("sec"))
    return h.groupBy("event_type").agg(
        (
            F.sum(F.col("v_c") * F.col("dt")).cast("long")
            / F.sum("dt").cast("long")
            / 100
        ).alias("twa_value"),
        F.sum("dt").cast("long").alias("span_sec"),
    )


# ---------------------------------------------------------------------------
# interval-overlap join (bin-bucketed)
# ---------------------------------------------------------------------------

N_CAMPAIGNS = 10  # 36h windows every 3 days from 2024-01-01


@register(
    "join_interval_bins",
    oracle=f"""
WITH {SESSION_ISLANDS_CTES},
sessions AS (
  SELECT user_id, sid, min(ts) AS s_start, max(ts) AS s_end
  FROM numbered GROUP BY user_id, sid
), camps AS (
  SELECT i AS campaign_id,
         TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 3 DAY AS c_start,
         TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 3 DAY
           + INTERVAL 36 HOUR AS c_end
  FROM (SELECT unnest(generate_series(0, {N_CAMPAIGNS - 1})) AS i)
)
SELECT s.user_id,
       strftime(s.s_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       c.campaign_id,
       epoch_us(least(s.s_end, c.c_end))
         - epoch_us(greatest(s.s_start, c.c_start)) AS overlap_us
FROM sessions s JOIN camps c
  ON s.s_start <= c.c_end AND c.c_start <= s.s_end
""",
    tags=("events", "join", "interval", "range"),
    doc=(
        "Interval-overlap join: user sessions (15-min-gap islands) "
        "matched to every 36-hour campaign window they overlap, with the "
        "exact overlap in integer microseconds. The oracle states the "
        "quadratic overlap-predicate join; the Spark plan is the "
        "BIN-BUCKETED rewrite — both interval sets explode into the DAY "
        "bins they span (sessions span 1-2 bins, campaigns 2-3), the "
        "join is a pure equi-join on the bin, pairs sharing several bins "
        "dedupe in a keyed agg, and the true overlap predicate filters "
        "bin-coincidences. Shuffle story: the session build is one "
        "window + one agg exchange on user_id; campaigns are 10 "
        "generated rows, BROADCAST after their bin explode — so the "
        "interval join adds ZERO wide exchanges, and per-bin fanout is "
        "|sessions that day| x |campaigns that day|, never |S| x |C|. "
        "At 100 TB this is the standard scalable interval join: bin "
        "granularity trades fanout against bin-pair duplicates."
    ),
)
def join_interval_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = W.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    brk = F.when(gap_us < 15 * 60 * 1_000_000, 0).otherwise(1)
    numbered = e.withColumn("brk", brk).withColumn(
        "sid",
        F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    camps = spark.range(N_CAMPAIGNS).select(
        F.col("id").alias("campaign_id"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0, CAST(id*3 AS INT), 0,0,0)"
        ).alias("c_start"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0, CAST(id*3 AS INT), 36,0,0)"
        ).alias("c_end"),
    )
    sbins = sessions.withColumn(
        "bin", F.explode(F.sequence(F.to_date("s_start"), F.to_date("s_end")))
    )
    cbins = camps.withColumn(
        "bin", F.explode(F.sequence(F.to_date("c_start"), F.to_date("c_end")))
    )
    j = sbins.join(F.broadcast(cbins), "bin").filter(
        (F.col("s_start") <= F.col("c_end")) & (F.col("c_start") <= F.col("s_end"))
    )
    pairs = j.groupBy("user_id", "sid", "campaign_id").agg(
        F.max("s_start").alias("s_start"),
        F.max("s_end").alias("s_end"),
        F.max("c_start").alias("c_start"),
        F.max("c_end").alias("c_end"),
    )
    return pairs.select(
        "user_id",
        F.date_format("s_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        "campaign_id",
        (
            F.unix_micros(F.least("s_end", "c_end"))
            - F.unix_micros(F.greatest("s_start", "c_start"))
        ).alias("overlap_us"),
    )
