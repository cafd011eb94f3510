"""Event-stream semantics over the ``events`` fixture (SURVEY.md §2.3).

These are the batch (re-runnable, oracle-checkable) forms of the reference's
stateful dataflow operators:

- T1 per-key debounce ("collapse an event storm to the last event per key
  per quiescence window") → sessionization via gaps-and-islands + keep-last.
  The true processing-time streaming form lives in the file_events source
  (``log_agent_spark/sources/file_events_stream.py``); this module proves
  the semantics against a SQL oracle.
- T3 intra-batch keep-latest dedup → row_number() over desc order.
- Tumbling-window aggregation / watermark-style bucketing (SURVEY §2.7).
- M10 date/epoch projections (kafka.go:329-343).

All timestamps are compared as epoch millis so Spark (UTC session TZ) and
DuckDB hash identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from log_agent_spark.sources.tables import load_table

# Debounce gap for the batch sessionize demo. The reference default is 3 s
# (plugins/plugin.go:122); the fixture's event cadence is minutes, so the
# demo gap is 30 min — the operator is gap-parametric either way.
SESSION_GAP_MS = 30 * 60 * 1000


# ---------------------------------------------------------------------------
# Tumbling window aggregation: per (hour, event_type) counts and sums.
# Scale: single shuffle on (hour, type); map-side partial aggs shrink it.
# ---------------------------------------------------------------------------
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            # decimal(18,4) before the SUM (the sliding-window recipe):
            # a raw double SUM accumulates in partition-merge order vs
            # the oracle's scan order, and per-group drift can cross the
            # round(2) boundary (round-6 review) — the 2dp-quantized
            # values are exact in decimal on both engines
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding window aggregation (the batch form of a streaming F.window
# count): 2-hour windows every hour — each event lands in two.
# Scale: F.window's slide expansion is a map-side generator (duration/slide
# rows per input row) feeding the same single partial-agg shuffle as the
# tumbling case; no self-join against a window-spine table.
# ---------------------------------------------------------------------------
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("w_start_ms"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_SLIDING_WINDOW = """
WITH expanded AS (
  SELECT event_type, value,
         unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                 date_trunc('hour', ts)]) AS w_start
  FROM events
)
SELECT CAST(epoch_ms(w_start) AS BIGINT) AS w_start_ms, event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_value
FROM expanded GROUP BY 1, 2
"""


ORACLE_TUMBLING_WINDOW = """
SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
       event_type,
       COUNT(*)                 AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_value,
       COUNT(DISTINCT user_id)  AS n_users
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Semi-structured access: JSON property extraction (props is a JSON string).
# Scale: get_json_object is JVM-side; no Python in the path.
# ---------------------------------------------------------------------------
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
        )
    )


ORACLE_JSON_EXTRACT = """
SELECT event_type,
       ROUND(AVG(k), 4) AS avg_k,
       MAX(k)           AS max_k,
       COUNT(*)         AS n
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Semi-structured access, VARIANT form (Spark 4 VariantType): parse the JSON
# once into the binary variant encoding, then typed path extraction. At
# scale this is the column to STORE (parquet variant shredding makes the
# paths column-prunable); get_json_object re-parses the string per access.
# The oracle sees the identical values through DuckDB's JSON path functions.
# ---------------------------------------------------------------------------
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0)).alias("n_even_k"),
            F.min("k").alias("min_k"),
            F.round(F.stddev_samp("k"), 4).alias("sd_k"),
        )
    )


ORACLE_VARIANT_EXTRACT = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k,
       MIN(k) AS min_k,
       ROUND(STDDEV_SAMP(k), 4) AS sd_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands): the batch form of per-key debounce T1.
# A new session starts when the gap to the previous event of the same key
# exceeds the quiescence window. Scale: one shuffle on user_id; the running
# flag-sum is a window over the already-partitioned data.
# ---------------------------------------------------------------------------
def _sessionized(
    spark: SparkSession, sf_dir: str, *extra_cols: str
) -> DataFrame:
    """THE gap-based session assignment (30-min quiescence, lag/sum
    gaps-and-islands, `> gap` convention) — single-sourced so every
    consumer (sessionize, debounce twin, session paths) sessionizes
    identically; `extra_cols` are carried through for downstream
    projections."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        *extra_cols,
        F.unix_millis(F.col("ts")).alias("ts_ms"),
    )
    w = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_MS), 1).otherwise(0)
    return e.withColumn(
        "session_seq",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min quiescence): session bounds + event counts per user."""
    s = _sessionized(spark, sf_dir)
    per_session = s.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_ms") - F.min("ts_ms")).alias("duration_ms"),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("duration_ms").alias("max_session_ms"),
    )


ORACLE_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w IS NULL
               OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), sess AS (
  SELECT user_id, event_id, ts_ms,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS session_seq
  FROM flagged
), per_session AS (
  SELECT user_id, session_seq, COUNT(*) AS n_events,
         MAX(ts_ms) - MIN(ts_ms) AS duration_ms
  FROM sess GROUP BY user_id, session_seq
)
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(duration_ms) AS max_session_ms
FROM per_session GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Debounce keep-last (T1 exact shape, batch form): within each session
# (quiescence window), emit ONLY the last event — watchdog.go:193-251
# semantics ("timer resets per event; on fire, forward the final event").
# ---------------------------------------------------------------------------
def q_debounce_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _sessionized(spark, sf_dir)
    w = W.partitionBy("user_id", "session_seq").orderBy(
        F.desc("ts_ms"), F.desc("event_id")
    )
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "session_seq", "event_id", "ts_ms")
    )


ORACLE_DEBOUNCE_KEEP_LAST = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w IS NULL
               OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), sess AS (
  SELECT user_id, event_id, ts_ms,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, event_id, ts_ms
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
                               ORDER BY ts_ms DESC, event_id DESC) AS rn
  FROM sess
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Intra-batch keep-latest dedup (T3, watchdog.go:314-326): newest event per
# key wins. Key here = (user_id, event_type); "newest" = max ts, tie-broken
# by event_id (the reference iterates in reverse arrival order).
# ---------------------------------------------------------------------------
def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc(F.unix_millis(F.col("ts"))), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.round(F.col("value"), 2).alias("value"),
        )
    )


ORACLE_DEDUP_KEEP_LATEST = """
SELECT user_id, event_type, event_id, ROUND(value, 2) AS value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# M10 date/epoch projections (kafka.go:329-343): business-date string and
# epoch-millis timestamps — the Kafka wire projections.
# ---------------------------------------------------------------------------
def q_epoch_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return e.select(
        "event_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("file_date"),
        F.unix_millis(F.col("ts")).alias("file_time_ms"),
        F.hour(F.col("ts")).alias("hour_of_day"),
        F.dayofweek(F.col("ts")).alias("dow"),
    )


# DuckDB dayofweek: Sunday=0; Spark dayofweek: Sunday=1 → +1 aligns them.
ORACLE_EPOCH_PROJECTIONS = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d')    AS file_date,
       epoch_ms(ts)                AS file_time_ms,
       CAST(hour(ts) AS INT)       AS hour_of_day,
       CAST(dayofweek(ts) + 1 AS INT) AS dow
FROM events
WHERE event_id < 1000
"""


# ---------------------------------------------------------------------------
# Hypertable-style multi-resolution rollup (continuous-aggregate pattern):
# the hour level is computed FROM the minute level, not from raw events —
# at 100 TB this is the difference between re-scanning the fact table per
# resolution and an incremental cascade where each coarser level reads the
# (orders-of-magnitude smaller) finer aggregate. Rounding happens per
# output level only; the cascade runs on unrounded partials.
# ---------------------------------------------------------------------------
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # decimal sums: the cascade re-aggregates minute partials into hours,
    # so a raw double SUM would pay TWO rounds of order-sensitive
    # accumulation before the round(2) (round-6 review; sliding-window
    # decimal recipe)
    minute = e.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value_raw"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", F.col("bucket")).alias("bucket")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value_raw").alias("sum_value_raw"),
    )
    out_cols = [
        F.unix_millis("bucket").alias("bucket_ms"),
        "n_events",
        F.round(F.col("sum_value_raw"), 2).cast("double").alias("sum_value"),
    ]
    return minute.select(F.lit("minute").alias("resolution"), *out_cols).unionByName(
        hour.select(F.lit("hour").alias("resolution"), *out_cols)
    )


ORACLE_HYPERTABLE_ROLLUP = """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS bucket,
         COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,4))) AS sum_value_raw
  FROM events GROUP BY 1
), hour AS (
  SELECT date_trunc('hour', bucket) AS bucket,
         CAST(SUM(n_events) AS BIGINT) AS n_events, SUM(sum_value_raw) AS sum_value_raw
  FROM minute GROUP BY 1
)
SELECT 'minute' AS resolution, epoch_ms(bucket) AS bucket_ms,
       n_events, CAST(ROUND(sum_value_raw, 2) AS DOUBLE) AS sum_value FROM minute
UNION ALL
SELECT 'hour' AS resolution, epoch_ms(bucket) AS bucket_ms,
       n_events, CAST(ROUND(sum_value_raw, 2) AS DOUBLE) AS sum_value FROM hour
"""


# ---------------------------------------------------------------------------
# RANGE-framed window: per event, total value over the trailing 5 minutes
# for the same user — a value-range frame (rangeBetween), not a row count.
# One shuffle on user_id; the frame scan is a sliding aggregate per
# partition.
# ---------------------------------------------------------------------------
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-300 * 1_000_000, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("trailing_5m_value"),
        F.count("*").over(w).alias("trailing_5m_events"),
    )


ORACLE_WINDOW_RANGE_FRAME = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER w, 2) AS trailing_5m_value,
       COUNT(*) OVER w AS trailing_5m_events
FROM (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Sketch aggregates: HLL distinct + approximate quantiles. At 100 TB these
# replace exact distinct/percentile when the answer needs one pass and
# bounded memory (mergeable partial sketches → tiny shuffle). Engine
# sketches differ, so there is no value-level oracle — the driver records
# rows-only and tests/test_sketches.py bounds the error against exact.
# ---------------------------------------------------------------------------
_SKETCH_QS = (0.5, 0.95, 0.99)


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx(
            "value", list(_SKETCH_QS), 10_000
        ).alias("value_pcts"),
        F.count("*").alias("n_rows"),
    )
    # Flattened to one row per percentile: the driver's canonicalizer cannot
    # hash array cells (pandas sort_values, CORRECTNESS_r02). pos → q via a
    # literal lookup so the quantile label travels with each value.
    qarr = F.array(*[F.lit(q) for q in _SKETCH_QS])
    return agg.select(
        "event_type",
        "approx_users",
        "n_rows",
        F.posexplode("value_pcts").alias("pos", "value_pct"),
    ).select(
        "event_type",
        "approx_users",
        "n_rows",
        F.element_at(qarr, F.col("pos") + 1).alias("q"),
        "value_pct",
    )


# ---------------------------------------------------------------------------
# Pivot: one row per user, one column per event type. Explicit value list →
# single-pass plan (no extra distinct-values job); unknown types would need
# the two-pass form. Oracle uses the equivalent conditional aggregation.
# ---------------------------------------------------------------------------
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


ORACLE_EVENTS_PIVOT = """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# NATIVE session_window (the batch form of a streaming session_window
# collapse), cross-checked against DuckDB's gaps-and-islands SQL —
# an oracle for a built-in operator DuckDB doesn't have. Boundary
# convention: Spark's session is [start, last_ts + gap), so an event at
# exactly last_ts + gap opens a NEW session — the islands oracle must use
# `>= gap`, not `> gap` (the lag/sum demo above uses the other convention
# on both sides, equally consistently).
# Scale: one shuffle on user_id; Spark merges overlapping sessions inside
# the aggregation — no window-function sort pass over the whole table.
# ---------------------------------------------------------------------------
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # ms-truncate BEFORE sessionizing: the oracle's gaps-and-islands gap
    # test runs on epoch_ms, while session_window on the raw column would
    # compare MICROSECOND gaps — a gap within 1 ms of the threshold then
    # splits on one engine only (round-6 review; the fixture carries
    # sub-ms precision on nearly every row)
    ts_ms = F.timestamp_millis(F.unix_millis(F.col("ts")))
    return (
        e.groupBy(
            F.session_window(ts_ms, f"{SESSION_GAP_MS // 1000} seconds").alias("s"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("s.start")).alias("session_start_ms"),
            F.unix_millis(F.col("s.end")).alias("session_end_ms"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_SESSION_WINDOW_NATIVE = f"""
WITH flagged AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
         CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w IS NULL
               OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w >= {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
), sess AS (
  SELECT user_id, ts_ms, value,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id,
       MIN(ts_ms)                        AS session_start_ms,
       MAX(ts_ms) + {SESSION_GAP_MS}     AS session_end_ms,
       COUNT(*)                          AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# SCD Type 2 (slowly-changing-dimension versioning) from a change log: per
# user, keep only events whose event_type DIFFERS from the previous one
# (collapse repeats), then close each version with the next change's
# timestamp (lead). The standard warehouse pattern for turning an event/CDC
# stream into an effective-dated dimension, and the batch twin of the
# upsert sink's keyed-MERGE semantics (sinks/upsert.py). Scale: both
# windows partition on user_id — ONE shuffle, the sort is per-user;
# open-ended current rows get valid_to = NULL.
# ---------------------------------------------------------------------------
def q_scd2_user_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    # same spec as w — the lead/row_number pass just runs over the
    # filtered CHANGES frame rather than the raw events
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_millis("ts").alias("valid_from_ms"),
        F.unix_millis(F.lead("ts").over(w)).alias("valid_to_ms"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


ORACLE_SCD2_USER_DIMENSION = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type AS state,
       CAST(epoch_ms(ts) AS BIGINT) AS valid_from_ms,
       CAST(epoch_ms(LEAD(ts) OVER w) AS BIGINT) AS valid_to_ms,
       ROW_NUMBER() OVER w AS version,
       LEAD(ts) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users — the classic "sliding count-distinct",
# which no per-row window frame can compute (distinct doesn't decompose).
# Shape: collapse to one row per (day, user) first (the big shuffle, on
# high-cardinality keys), then expand each observation to the ≤7 rolling
# days it contributes to and count distinct per day. At 100 TB the first
# distinct does all the heavy lifting; the expansion is bounded by 7× the
# (day, user) table, and the final distinct is per-day. The day grid never
# touches the driver.
# ---------------------------------------------------------------------------
def q_rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct()
    expanded = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("window_day"),
        "user_id",
        "day",
    )
    # only report days that actually exist in the data (right edge of the
    # grid would otherwise report partial future windows)
    days = daily.select("day").distinct().withColumnRenamed("day", "window_day")
    return (
        expanded.join(F.broadcast(days), "window_day")
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
        .select(
            F.unix_millis(F.col("window_day").cast("timestamp")).alias(
                "window_day_ms"
            ),
            "active_users_7d",
        )
    )


ORACLE_ROLLING_7D_DISTINCT_USERS = """
WITH daily AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events
), expanded AS (
  SELECT day + CAST(x.i AS INT) AS window_day, user_id
  FROM daily CROSS JOIN (SELECT unnest(range(0, 7)) AS i) x
), days AS (SELECT DISTINCT day AS window_day FROM daily)
SELECT CAST(epoch_ms(CAST(window_day AS TIMESTAMP)) AS BIGINT) AS window_day_ms,
       COUNT(DISTINCT user_id) AS active_users_7d
FROM expanded JOIN days USING (window_day)
GROUP BY window_day
"""


# ---------------------------------------------------------------------------
# Event-transition (Markov) matrix: per-user ordered event pairs →
# global (from_state, to_state) frequencies with row-normalized
# probabilities — the sequence-mining summary behind funnel design and
# anomalous-flow detection. One shuffle on user_id for the lag window,
# then a tiny agg on the state pair; the probability normalization is a
# window over the from_state marginal (no second scan). Probabilities are
# exact-integer ratios rounded to 4dp, so the doubles hash identically.
# ---------------------------------------------------------------------------
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("prev_type").alias("from_state"),
        F.col("event_type").alias("to_state"),
    ).agg(F.count("*").alias("n"))
    wrow = W.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / F.sum("n").over(wrow), 4).alias("p"),
    )


ORACLE_EVENT_TRANSITION_MATRIX = """
WITH pairs AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_state,
         event_type AS to_state
  FROM events
), counts AS (
  SELECT from_state, to_state, COUNT(*) AS n
  FROM pairs WHERE from_state IS NOT NULL
  GROUP BY from_state, to_state
)
SELECT from_state, to_state, n,
       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_state), 4) AS p
FROM counts
"""


# ---------------------------------------------------------------------------
# Point-in-time (PIT) join against the SCD2 versioned dimension — the
# leak-free feature-store join: every event is matched to the dimension
# version VALID AT ITS OWN TIMESTAMP (ts ∈ [valid_from, valid_to)), never
# to later knowledge. Using the same change log for both sides makes the
# result self-checking: every event must land in exactly one version, so
# row count is preserved (asserted by the digest columns). Shape: the
# version build is one user_id shuffle (windows), and the PIT join is a
# keyed equi-join on user_id with the interval as a residual filter —
# hash or sort-merge on the key, NO nested-loop range join.
# ---------------------------------------------------------------------------
def q_pit_versioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    dim = q_scd2_user_dimension(spark, sf_dir).select(
        F.col("user_id").alias("d_user"), "state", "valid_from_ms",
        "valid_to_ms", "version",
    )
    facts = e.select("user_id", F.unix_millis("ts").alias("ts_ms"))
    joined = facts.join(
        dim,
        (facts.user_id == dim.d_user)
        & (facts.ts_ms >= dim.valid_from_ms)
        & (dim.valid_to_ms.isNull() | (facts.ts_ms < dim.valid_to_ms)),
    )
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("version").cast("long").alias("n_versions"),
        F.sum("version").alias("version_digest"),
        F.countDistinct("state").alias("n_states_seen"),
    )


ORACLE_PIT_VERSIONED_JOIN = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), changes AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE prev_type IS NULL OR event_type <> prev_type
), dim AS (
  SELECT user_id AS d_user, event_type AS state,
         CAST(epoch_ms(ts) AS BIGINT) AS valid_from_ms,
         CAST(epoch_ms(LEAD(ts) OVER w) AS BIGINT) AS valid_to_ms,
         ROW_NUMBER() OVER w AS version
  FROM changes
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), facts AS (
  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events
)
SELECT user_id, COUNT(*) AS n_events, CAST(MAX(version) AS BIGINT) AS n_versions,
       CAST(SUM(version) AS BIGINT) AS version_digest,
       COUNT(DISTINCT state) AS n_states_seen
FROM facts JOIN dim
  ON user_id = d_user AND ts_ms >= valid_from_ms
 AND (valid_to_ms IS NULL OR ts_ms < valid_to_ms)
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Inter-event dwell time: per event type, exact percentiles of the gap to
# the user's previous event — the latency-distribution profile behind
# debounce-window tuning (is 3000 ms the right quiescence gap? look at
# the gap distribution, plugins/plugin.go:122). One user_id shuffle for
# the lag, one event_type shuffle for the percentile aggregate.
# ---------------------------------------------------------------------------
def q_dwell_time_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn(
            "gap_ms",
            F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)),
        )
        .filter(F.col("gap_ms").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.expr("percentile(gap_ms, 0.5)"), 1).alias("p50_ms"),
        F.round(F.expr("percentile(gap_ms, 0.9)"), 1).alias("p90_ms"),
        F.round(F.expr("percentile(gap_ms, 0.99)"), 1).alias("p99_ms"),
        F.max("gap_ms").alias("max_ms"),
    )


ORACLE_DWELL_TIME_PERCENTILES = """
WITH gaps AS (
  SELECT event_type,
         CAST(epoch_ms(ts) AS BIGINT)
           - CAST(epoch_ms(LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)) AS BIGINT)
           AS gap_ms
  FROM events
)
SELECT event_type, COUNT(*) AS n_gaps,
       ROUND(quantile_cont(gap_ms, 0.5), 1) AS p50_ms,
       ROUND(quantile_cont(gap_ms, 0.9), 1) AS p90_ms,
       ROUND(quantile_cont(gap_ms, 0.99), 1) AS p99_ms,
       MAX(gap_ms) AS max_ms
FROM gaps WHERE gap_ms IS NOT NULL
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Error-burst detection: 15-minute tumbling error counts, flagged where a
# window exceeds 3× the mean window count — the alerting query a log
# warehouse runs on the ingested stream. The threshold is derived from
# the SAME aggregate (one-row broadcast back), so the whole detector is
# two shuffles: (window) agg, then a scalar join + filter. Integer counts
# compared against an exact-ratio threshold — no float ambiguity.
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# Multi-window burn-rate alert (Google SRE workbook ch.5 shape): the
# two-window hysteresis upgrade of the single-window burst detector
# below. Per hour, the error share over the hour itself AND over the
# trailing 6 hours, compared against the corpus-wide baseline share:
#   page   — BOTH windows burn > 1.25x baseline (fast + sustained: the
#            short window gives speed, the long one suppresses blips)
#   ticket — the 6h window alone burns > 1.10x baseline (slow leak)
# Cross-engine float discipline: all gates are integer
# cross-multiplications of exact counts (e_1h·T·100 > t_1h·E·125 — cast
# to DECIMAL(38,0)/HUGEINT before the 4-factor product, which overflows
# BIGINT at ~1e5 errors/hour against a 1e14-event corpus); the published
# burn ratios are single divisions of those exact products, ROUND(4).
# Scale shape: one map-side-combinable hourly rollup (calendar-bounded
# output), a RANGE(-5h,0) window over the hourly series — O(hours) rows
# regardless of event volume — and one broadcast 1-row baseline.
# ---------------------------------------------------------------------------
def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 1000000 div 3600").alias("hour_idx"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    hourly = e.groupBy("hour_idx").agg(
        F.sum(F.when(F.col("is_err"), 1).otherwise(0)).cast("bigint").alias(
            "errors_1h"
        ),
        F.count("*").cast("bigint").alias("total_1h"),
    )
    w6 = W.orderBy("hour_idx").rangeBetween(-5, 0)
    rolled = hourly.select(
        "hour_idx",
        "errors_1h",
        "total_1h",
        F.sum("errors_1h").over(w6).cast("bigint").alias("errors_6h"),
        F.sum("total_1h").over(w6).cast("bigint").alias("total_6h"),
    )
    base = hourly.agg(
        F.sum("errors_1h").cast("bigint").alias("err_all"),
        F.sum("total_1h").cast("bigint").alias("tot_all"),
    )

    def d(c: str):
        return F.col(c).cast("decimal(38,0)")

    burn_1h_num = d("errors_1h") * d("tot_all")
    burn_1h_den = d("total_1h") * d("err_all")
    burn_6h_num = d("errors_6h") * d("tot_all")
    burn_6h_den = d("total_6h") * d("err_all")
    fast_1h = burn_1h_num * 100 > burn_1h_den * 125
    fast_6h = burn_6h_num * 100 > burn_6h_den * 125
    slow_6h = burn_6h_num * 100 > burn_6h_den * 110
    return rolled.crossJoin(F.broadcast(base)).select(
        "hour_idx",
        "errors_1h",
        "total_1h",
        "errors_6h",
        "total_6h",
        F.round(
            F.try_divide(burn_1h_num.cast("double"), burn_1h_den.cast("double")),
            4,
        ).alias("burn_1h"),
        F.round(
            F.try_divide(burn_6h_num.cast("double"), burn_6h_den.cast("double")),
            4,
        ).alias("burn_6h"),
        (fast_1h & fast_6h).alias("page"),
        slow_6h.alias("ticket"),
    )


ORACLE_SLO_BURN_RATE = """
WITH hourly AS (
  SELECT (epoch_us(ts) // 1000000) // 3600 AS hour_idx,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errors_1h,
         CAST(COUNT(*) AS BIGINT) AS total_1h
  FROM events GROUP BY 1
), rolled AS (
  SELECT hour_idx, errors_1h, total_1h,
         CAST(SUM(errors_1h) OVER w6 AS BIGINT) AS errors_6h,
         CAST(SUM(total_1h) OVER w6 AS BIGINT) AS total_6h
  FROM hourly
  WINDOW w6 AS (ORDER BY hour_idx
                RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
), base AS (
  SELECT CAST(SUM(errors_1h) AS BIGINT) AS err_all,
         CAST(SUM(total_1h) AS BIGINT) AS tot_all
  FROM hourly
)
SELECT hour_idx, errors_1h, total_1h, errors_6h, total_6h,
       ROUND(CAST(CAST(errors_1h AS HUGEINT) * tot_all AS DOUBLE)
             / CAST(CAST(total_1h AS HUGEINT) * err_all AS DOUBLE), 4)
         AS burn_1h,
       ROUND(CAST(CAST(errors_6h AS HUGEINT) * tot_all AS DOUBLE)
             / CAST(CAST(total_6h AS HUGEINT) * err_all AS DOUBLE), 4)
         AS burn_6h,
       (CAST(errors_1h AS HUGEINT) * tot_all * 100
          > CAST(total_1h AS HUGEINT) * err_all * 125
        AND CAST(errors_6h AS HUGEINT) * tot_all * 100
          > CAST(total_6h AS HUGEINT) * err_all * 125) AS page,
       (CAST(errors_6h AS HUGEINT) * tot_all * 100
          > CAST(total_6h AS HUGEINT) * err_all * 110) AS ticket
FROM rolled CROSS JOIN base
"""


def q_error_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    windows = (
        e.filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_errors"))
        .select(
            F.unix_millis(F.col("w.start")).alias("w_start_ms"), "n_errors"
        )
    )
    stats = windows.agg(F.sum("n_errors").alias("total"), F.count("*").alias("n_w"))
    return (
        windows.crossJoin(F.broadcast(stats))
        # integer cross-multiplication: n_errors > 3 * mean without division
        .filter(F.col("n_errors") * F.col("n_w") > 3 * F.col("total"))
        .select(
            "w_start_ms",
            "n_errors",
            F.round(F.col("total") / F.col("n_w"), 4).alias("mean_errors"),
        )
    )


ORACLE_ERROR_BURST_WINDOWS = """
WITH windows AS (
  SELECT CAST(epoch_ms(time_bucket(INTERVAL '15 minutes', ts)) AS BIGINT) AS w_start_ms,
         COUNT(*) AS n_errors
  FROM events WHERE event_type = 'error'
  GROUP BY 1
), stats AS (
  SELECT SUM(n_errors) AS total, COUNT(*) AS n_w FROM windows
)
SELECT w_start_ms, n_errors, ROUND(total * 1.0 / n_w, 4) AS mean_errors
FROM windows CROSS JOIN stats
WHERE n_errors * n_w > 3 * total
"""


# ---------------------------------------------------------------------------
# Weekly load profile: event volume by (day-of-week, hour-of-day) with the
# deviation from a uniform spread — the capacity-planning heatmap behind
# "when do the test machines actually emit logs?". One aggregate on a
# 168-cell key; the load factor is an exact-integer ratio (n·cells/total)
# rounded 4dp.
# ---------------------------------------------------------------------------
def q_weekly_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count("*").alias("n"))
    # r10 (guide §1.2): total/n_cells via unpartitioned window sums over
    # the BOUNDED 168-cell histogram instead of a second aggregate of
    # `cells` cross-joined back, which re-derived the whole events scan +
    # groupBy. Exact integer sums: order-independent, value-identical.
    tw = W.partitionBy()
    return cells.withColumn("total", F.sum("n").over(tw)).withColumn(
        "n_cells", F.count(F.lit(1)).over(tw)
    ).select(
        "dow",
        "hour",
        "n",
        F.round(F.col("n") * F.col("n_cells") / F.col("total"), 4).alias(
            "load_factor"
        ),
    )


ORACLE_WEEKLY_LOAD_PROFILE = """
WITH cells AS (
  SELECT dayofweek(ts) + 1 AS dow, EXTRACT(hour FROM ts) AS hour,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), totals AS (
  SELECT SUM(n) AS total, COUNT(*) AS n_cells FROM cells
)
SELECT dow, hour, n,
       ROUND(n * 1.0 * n_cells / total, 4) AS load_factor
FROM cells CROSS JOIN totals
"""


# ---------------------------------------------------------------------------
# User lifecycle stages (growth accounting): per day, classify every
# active user as new (first day seen), retained (also active the previous
# day), or resurrected (returning after a gap) — and count churned (active
# previous day, absent now) from the NEXT-day view of the same lag. One
# (user, day) distinct, one user-partitioned lag window, one per-day
# aggregate; all integers, no churn table materialized.
# ---------------------------------------------------------------------------
def q_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    staged = daily.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    stage = (
        F.when(F.col("prev_day").isNull(), "new")
        .when(F.datediff("day", "prev_day") == 1, "retained")
        .otherwise("resurrected")
    )
    counts = (
        staged.withColumn("stage_", stage)
        .groupBy(F.unix_millis(F.col("day").cast("timestamp")).alias("day_ms"))
        .agg(
            F.sum((F.col("stage_") == "new").cast("long")).alias("n_new"),
            F.sum((F.col("stage_") == "retained").cast("long")).alias("n_retained"),
            F.sum((F.col("stage_") == "resurrected").cast("long")).alias(
                "n_resurrected"
            ),
            # churned AFTER this day: active today, next activity not tomorrow
            F.sum(
                (
                    F.col("next_day").isNull()
                    | (F.datediff("next_day", "day") > 1)
                ).cast("long")
            ).alias("n_churning_after"),
        )
    )
    return counts


ORACLE_USER_LIFECYCLE = """
WITH daily AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
), staged AS (
  SELECT user_id, day,
         LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
         LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
  FROM daily
)
SELECT CAST(epoch_ms(CAST(day AS TIMESTAMP)) AS BIGINT) AS day_ms,
       CAST(SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN datediff('day', prev_day, day) = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_retained,
       CAST(SUM(CASE WHEN prev_day IS NOT NULL AND datediff('day', prev_day, day) > 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
       CAST(SUM(CASE WHEN next_day IS NULL OR datediff('day', day, next_day) > 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_churning_after
FROM staged GROUP BY day
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters, with an in-engine accuracy report.
# Unlike approx_count_distinct/percentile_approx above (engine-internal
# sketches, rows-only check), this sketch is built from first principles —
# d=4 affine hash rows × w=64 buckets as one explode + one hash aggregate —
# so it is fully deterministic and the DuckDB oracle replays it bit-for-bit.
#
# Scale shape: the sketch IS a groupBy((row, bucket)) count — map-side
# partial combine means each of the 1000 executors ships at most d·w=256
# partial cells regardless of input size; the merged sketch (256 rows) is a
# driver-side constant. Estimates are CM-standard min over rows; the output
# joins estimated vs exact counts for the top-20 keys so the overcount
# (collision error, ≥ 0 always) is visible and oracle-checked. This is the
# bounded-memory path for frequency stats when keys don't fit in memory —
# the exact groupBy here exists only to score the sketch.
# ---------------------------------------------------------------------------
_CM_P = 2_147_483_647
CM_D, CM_W, CM_TOPK = 4, 64, 20
_CM_A = [(i * 0x9E3779B1 + 0x85EBCA6B) % _CM_P or 1 for i in range(1, CM_D + 1)]
_CM_B = [(i * 0xC2B2AE35 + 0x27D4EB2F) % _CM_P for i in range(1, CM_D + 1)]


def _cm_rows() -> F.Column:
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                ((F.lit(a) * F.col("h") + F.lit(b)) % _CM_P % CM_W).alias("bucket"),
            )
            for i, (a, b) in enumerate(zip(_CM_A, _CM_B))
        ]
    )


def q_countmin_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch user frequencies; top-20 exact vs estimated report."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        "user_id",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        .alias("h"),
    )
    sketch = (
        keyed.select(F.explode(_cm_rows()).alias("rb"))
        .groupBy(F.col("rb.i").alias("i"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count("*").alias("cell_n"))
    )
    exact = keyed.groupBy("user_id", "h").agg(F.count("*").alias("exact_n"))
    topk = exact.orderBy(F.desc("exact_n"), F.asc("user_id")).limit(CM_TOPK)
    probes = topk.select("user_id", "exact_n", F.explode(_cm_rows()).alias("rb")).select(
        "user_id", "exact_n", F.col("rb.i").alias("i"), F.col("rb.bucket").alias("bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cell_n").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
    )


_CM_PARAMS_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(zip(_CM_A, _CM_B))
)

ORACLE_COUNTMIN_HEAVYHITTERS = f"""
WITH ev AS (
  SELECT user_id,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 7))::UBIGINT
              AS BIGINT) AS h
  FROM events
), params(i, a, b) AS (VALUES {_CM_PARAMS_SQL}),
sketch AS (
  SELECT i, ((a * h + b) % {_CM_P}) % {CM_W} AS bucket, COUNT(*) AS cell_n
  FROM ev CROSS JOIN params
  GROUP BY 1, 2
), exact AS (
  SELECT user_id, h, COUNT(*) AS exact_n FROM ev GROUP BY user_id, h
), topk AS (
  SELECT * FROM exact ORDER BY exact_n DESC, user_id ASC LIMIT {CM_TOPK}
), probes AS (
  SELECT user_id, exact_n, i,
         ((a * h + b) % {_CM_P}) % {CM_W} AS bucket
  FROM topk CROSS JOIN params
)
SELECT p.user_id, p.exact_n, MIN(s.cell_n) AS est_n,
       MIN(s.cell_n) - p.exact_n AS overcount
FROM probes p JOIN sketch s ON p.i = s.i AND p.bucket = s.bucket
GROUP BY p.user_id, p.exact_n
"""


# ---------------------------------------------------------------------------
# HyperLogLog from first principles, with an in-engine accuracy report.
# Like the count-min sketch above, this is the oracle-portable twin of an
# engine-internal sketch (approx_count_distinct IS HLL++, but its registers
# aren't replayable in DuckDB). m=64 registers; hash = the 28-bit md5
# prefix used engine-wide; bucket = low 6 bits, rank = leading-zero count
# of the remaining 22 bits + 1 computed via length(bin(w)) — a pure
# integer/string op, so no float log2 whose rounding could differ between
# engines. Register weights 2^-reg are dyadic rationals built as
# 1.0/(1<<reg): every partial sum is exactly representable in a double
# (≤64 terms, granularity 2^-23, needs 29 mantissa bits), so the harmonic
# denominator — and therefore the estimate — is bit-identical on Spark and
# DuckDB with no transcendental in the path (keys are chosen so the
# small-range ln() correction never triggers).
#
# Scale shape: the registers ARE a groupBy((group, bucket)) max() — the
# partial-combine shuffle carries ≤ 64 rows per group per executor, the
# classic mergeable-sketch property; the bucket spine (explode of a
# 64-literal sequence) restores empty registers as zeros without a join
# against the data.
# ---------------------------------------------------------------------------
_HLL_M = 64  # registers (2^6); alpha_64 = 0.709 (Flajolet et al. 2007)
_HLL_ALPHA = 0.709


def _hll_regs(e: DataFrame) -> DataFrame:
    """(event_type, bucket, reg) register table for one slice of events."""
    hashed = e.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        .alias("h"),
    )
    ranked = hashed.select(
        "event_type",
        (F.col("h") % _HLL_M).alias("bucket"),
        F.shiftright("h", 6).alias("w"),
    ).select(
        "event_type",
        "bucket",
        F.when(F.col("w") == 0, F.lit(23))
        .otherwise(23 - F.length(F.bin(F.col("w"))))
        .alias("rank"),
    )
    return ranked.groupBy("event_type", "bucket").agg(F.max("rank").alias("reg"))


def _hll_estimate(spine: DataFrame, regs: DataFrame, out: str) -> DataFrame:
    """Estimate per event_type from a register table (spine fills zeros)."""
    full = spine.join(regs, ["event_type", "bucket"], "left").select(
        "event_type", F.coalesce("reg", F.lit(0)).alias("reg")
    )
    est = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / F.sum(
        F.lit(1.0) / F.expr("shiftleft(1L, reg)")
    )
    return full.groupBy("event_type").agg(F.round(est, 4).alias(out))


def q_hll_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct event_ids per type, first-principles registers vs exact."""
    e = load_table(spark, sf_dir, "events")
    regs = _hll_regs(e)
    spine = (
        e.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("bucket"))
    )
    full = spine.join(regs, ["event_type", "bucket"], "left").select(
        "event_type", F.coalesce("reg", F.lit(0)).alias("reg")
    )
    est = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M) / F.sum(
        F.lit(1.0) / F.expr("shiftleft(1L, reg)")
    )
    sketch = full.groupBy("event_type").agg(
        F.round(est, 4).alias("hll_est"),
        F.count(F.when(F.col("reg") == 0, 1)).alias("v_zero"),
    )
    exact = e.groupBy("event_type").agg(F.countDistinct("event_id").alias("n_exact"))
    return exact.join(sketch, "event_type").select(
        "event_type",
        "n_exact",
        "hll_est",
        "v_zero",
        F.round((F.col("hll_est") - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err"
        ),
    )


ORACLE_HLL_REPORT = f"""
WITH hashed AS (
  SELECT event_type,
         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 7))::UBIGINT
              AS BIGINT) AS h
  FROM events
), ranked AS (
  SELECT event_type, h % {_HLL_M} AS bucket,
         CASE WHEN (h >> 6) = 0 THEN 23
              ELSE 23 - length(bin(h >> 6)) END AS rank
  FROM hashed
), regs AS (
  SELECT event_type, bucket, MAX(rank) AS reg
  FROM ranked GROUP BY event_type, bucket
), spine AS (
  SELECT event_type, unnest(generate_series(0, {_HLL_M - 1})) AS bucket
  FROM (SELECT DISTINCT event_type FROM events)
), filled AS (
  SELECT s.event_type, COALESCE(r.reg, 0) AS reg
  FROM spine s LEFT JOIN regs r
    ON s.event_type = r.event_type AND s.bucket = r.bucket
), sketch AS (
  SELECT event_type,
         ROUND({_HLL_ALPHA * _HLL_M * _HLL_M!r}::DOUBLE /
               SUM(1::DOUBLE / (1::BIGINT << reg)), 4) AS hll_est,
         COUNT(CASE WHEN reg = 0 THEN 1 END) AS v_zero
  FROM filled GROUP BY event_type
), exact AS (
  SELECT event_type, COUNT(DISTINCT event_id) AS n_exact FROM events
  GROUP BY event_type
)
SELECT event_type, n_exact, hll_est, v_zero,
       ROUND((hll_est - n_exact) / n_exact, 4) AS rel_err
FROM exact JOIN sketch USING (event_type)
"""


# ---------------------------------------------------------------------------
# Incremental HLL maintenance: the mergeability proof. A stored sketch
# (batch A registers) merged with a delta sketch (batch B registers) by
# per-bucket MAX must equal the one-shot sketch over A∪B — max is
# associative/commutative/idempotent, which is exactly why HLL registers
# can be maintained incrementally (per partition, per day, per source)
# and unioned at read time without ever rescanning history. The query
# materializes both paths and reports them side by side with an equality
# flag; the oracle replays the same algebra in SQL. At 100 TB the stored
# form is a (group, bucket, reg) table of a few KB per group — the delta
# batch is the only thing ever scanned.
# ---------------------------------------------------------------------------
def q_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    batch_a = e.filter(F.col("event_id") % 2 == 0)
    batch_b = e.filter(F.col("event_id") % 2 == 1)
    merged_regs = (
        _hll_regs(batch_a)
        .union(_hll_regs(batch_b))
        .groupBy("event_type", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    spine = (
        e.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("bucket"),
        )
    )
    merged = _hll_estimate(spine, merged_regs, "est_merged")
    oneshot = _hll_estimate(spine, _hll_regs(e), "est_oneshot")
    return (
        merged.join(oneshot, "event_type")
        .select(
            "event_type",
            "est_merged",
            "est_oneshot",
            (F.col("est_merged") == F.col("est_oneshot")).alias("merge_exact"),
        )
        .orderBy("event_type")
    )


_SQL_HLL_REGS = f"""
  SELECT event_type, h % {_HLL_M} AS bucket,
         MAX(CASE WHEN (h >> 6) = 0 THEN 23
                  ELSE 23 - length(bin(h >> 6)) END) AS reg
  FROM (
    SELECT event_type,
           CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 7))::UBIGINT
                AS BIGINT) AS h
    FROM events {{where}}
  ) GROUP BY 1, 2
"""

_SQL_HLL_EST = f"""
  SELECT s.event_type,
         ROUND({_HLL_ALPHA * _HLL_M * _HLL_M!r}::DOUBLE /
               SUM(1::DOUBLE / (1::BIGINT << COALESCE(r.reg, 0))), 4) AS {{out}}
  FROM spine s LEFT JOIN {{regs}} r
    ON s.event_type = r.event_type AND s.bucket = r.bucket
  GROUP BY s.event_type
"""

ORACLE_HLL_INCREMENTAL = f"""
WITH regs_a AS ({_SQL_HLL_REGS.format(where="WHERE event_id % 2 = 0")}),
regs_b AS ({_SQL_HLL_REGS.format(where="WHERE event_id % 2 = 1")}),
merged_regs AS (
  SELECT event_type, bucket, MAX(reg) AS reg
  FROM (SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b)
  GROUP BY event_type, bucket
),
oneshot_regs AS ({_SQL_HLL_REGS.format(where="")}),
spine AS (
  SELECT event_type, unnest(generate_series(0, {_HLL_M - 1})) AS bucket
  FROM (SELECT DISTINCT event_type FROM events)
),
m AS ({_SQL_HLL_EST.format(regs="merged_regs", out="est_merged")}),
o AS ({_SQL_HLL_EST.format(regs="oneshot_regs", out="est_oneshot")})
SELECT event_type, est_merged, est_oneshot,
       est_merged = est_oneshot AS merge_exact
FROM m JOIN o USING (event_type) ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Two-proportion z-test over deterministically hash-assigned arms — the
# experimentation-analytics primitive. Users are split 50/50 by the same
# md5 bucket used for train/val/test splits (reproducible across engines,
# reruns, and repartitions — never rand()); conversion = the user has at
# least one 'purchase' event with value > 150 (~45% base rate). The pooled z statistic uses only +,-,*,/
# and one IEEE-correctly-rounded sqrt, so the 4dp-rounded value is
# engine-identical. Scale: one shuffle on user_id (per-user conversion
# flag, partial-aggregated map-side), then a single global agg whose
# partials are four counters.
# ---------------------------------------------------------------------------
def q_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0)
        ).alias("conv")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    arm = F.when(bucket < 50, "A").otherwise("B")
    g = users.select(arm.alias("arm"), "conv")
    agg = g.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("conv")).otherwise(0)).alias("conv_b"),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    p_pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    # try_divide: a degenerate batch (pooled rate 0 or 1) yields NULL, not
    # an ANSI divide-by-zero — mirrored by NULLIF in the oracle.
    z = F.try_divide(
        p_a - p_b,
        F.sqrt(p_pool * (1 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a, 4).alias("rate_a"),
        F.round(p_b, 4).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
    )


ORACLE_AB_TEST = """
WITH users AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
armed AS (
  SELECT CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 50
              THEN 'A' ELSE 'B' END AS arm,
         conv
  FROM users
),
agg AS (
  SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM armed
)
SELECT n_a, conv_a, n_b, conv_b,
       ROUND(conv_a / CAST(n_a AS DOUBLE), 4) AS rate_a,
       ROUND(conv_b / CAST(n_b AS DOUBLE), 4) AS rate_b,
       ROUND((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
             / NULLIF(sqrt((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE)
                    * (1 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / n_a + 1.0 / n_b)), 0), 4) AS z_score
FROM agg
"""


# ---------------------------------------------------------------------------
# Session path mining: the top-k event-type sequences users walk inside
# one session (the "navigation paths" report downstream of sessionize).
# Builds on the same gaps-and-islands sessionization as q_sessionize,
# then reduces each session to its ordered type string. Determinism: the
# per-session sequence is an array_sort over (ts, event_id, type) structs
# — collect_list's arrival order never matters — and the top-k tie-breaks
# on the path string.
#
# Scale shape: one shuffle on user_id (sessionize window), one on the
# session key partials, then a count-shuffle on the path string; sessions
# are bounded (gap-capped) so no collect_list can exceed a session's
# length — the classic guard that makes array aggregation safe at 100 TB.
# ---------------------------------------------------------------------------
_PATH_TOP_K = 20


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 within-session event-type paths with session counts."""
    # reuse the canonical session assignment (round-6 review: this query
    # previously restated the lag/sum islands logic verbatim and could
    # silently drift from the sessionize/debounce convention)
    sess = _sessionized(spark, sf_dir, "event_type")
    paths = sess.groupBy("user_id", "session_seq").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts_ms", "event_id", "event_type"))
                ),
                lambda x: x.event_type,
            ),
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    # path vocabulary grows with the corpus: global top-k via
    # orderBy().limit() (TakeOrderedAndProject — per-partition heaps,
    # k-row shuffle), then rank over the k already-selected rows.
    topk = counts.orderBy(F.desc("n_sessions"), F.asc("path")).limit(
        _PATH_TOP_K
    )
    wr = W.orderBy(F.desc("n_sessions"), F.asc("path"))
    return topk.withColumn("rank", F.row_number().over(wr)).select(
        "path", "n_sessions", F.col("rank").cast("long").alias("rank")
    )


ORACLE_SESSION_PATHS = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events
), flg AS (
  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                   OR ts_ms - lag(ts_ms) OVER w > {SESSION_GAP_MS}
                 THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flg
), paths AS (
  SELECT user_id, session_seq,
         string_agg(event_type, '>' ORDER BY ts_ms, event_id) AS path
  FROM sess GROUP BY user_id, session_seq
), counts AS (
  SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
)
SELECT path, n_sessions, rank FROM (
  SELECT path, n_sessions,
         ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path ASC) AS rank
  FROM counts
) WHERE rank <= {_PATH_TOP_K}
"""


# ---------------------------------------------------------------------------
# CDC changelog apply — the batch form of the reference's "INSERT is an
# upsert on primary-key collision" sink contract (cassandra.go:212),
# extended with deletes: given a snapshot and a changelog of
# INSERT/UPDATE/DELETE rows, produce the next snapshot. The apply is one
# keyed outer merge: snapshot rows anti-joined against touched keys, plus
# the changelog's upserts — the MERGE INTO shape (sinks/upsert.py runs the
# same semantics as a parquet writer; this is the oracle-checkable query
# form). The changelog here is derived deterministically from the fixture
# (updates double the value of keys <100, deletes remove keys in
# [100,200), inserts append key+10M copies) so both engines replay it.
#
# Scale shape: one shuffle of the changelog (tiny) broadcast-anti-joined
# into the snapshot scan plus the union — the snapshot is read once and
# never shuffled; at 100 TB with a partitioned snapshot only partitions
# holding touched keys rewrite (the rollup module's dynamic-overwrite
# pattern).
# ---------------------------------------------------------------------------
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an I/U/D changelog to the events snapshot via keyed merge."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    updates = e.filter(F.col("event_id") < 100).select(
        "event_id", "user_id", (F.col("value") * 2).alias("value")
    )
    deletes = e.filter(
        (F.col("event_id") >= 100) & (F.col("event_id") < 200)
    ).select("event_id")
    inserts = e.filter(F.col("event_id") < 50).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "user_id", "value"
    )
    touched = updates.select("event_id").unionByName(deletes).distinct()
    survivors = e.join(F.broadcast(touched), "event_id", "left_anti")
    return survivors.unionByName(updates).unionByName(inserts)


ORACLE_CDC_APPLY = """
WITH base AS (
  SELECT event_id, user_id, value FROM events
), updates AS (
  SELECT event_id, user_id, value * 2 AS value FROM base WHERE event_id < 100
), deletes AS (
  SELECT event_id FROM base WHERE event_id >= 100 AND event_id < 200
), inserts AS (
  SELECT event_id + 10000000 AS event_id, user_id, value
  FROM base WHERE event_id < 50
), touched AS (
  SELECT event_id FROM updates UNION SELECT event_id FROM deletes
)
SELECT * FROM base WHERE event_id NOT IN (SELECT event_id FROM touched)
UNION ALL SELECT * FROM updates
UNION ALL SELECT * FROM inserts
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) theta sketch with SET OPERATIONS — the capability
# HLL above lacks: distinct-count sketches you can union AND intersect.
# The sketch of a key set is its k smallest distinct 28-bit hashes; the
# estimator is (k-1) / θ where θ = h_k / 2^28 (Bar-Yossef et al. 2002;
# Beyer et al. SIGMOD'07 unbiased form). Union of sketches = k smallest of
# the merged hash sets (computed here from the raw sets — identical by
# construction); intersection via inclusion-exclusion on the three
# estimates. Everything is integer ops + ONE double division per set, so
# Spark and DuckDB agree bit-for-bit (same discipline as the count-min /
# HLL reports: sketches built from first principles so the oracle can
# replay them; each estimate sits next to its exact count and error).
#
# Scale shape: per-set k-smallest is a partial top-k — every partition
# keeps its local k minima (window over ≤ k·P rows after the map-side
# distinct), so the shuffle carries k rows per partition, never the key
# set; sketches for 10^4 segments merge the same way (mergeability is the
# whole point of KMV in a 1000-executor rollup).
# ---------------------------------------------------------------------------
_KMV_K = 32
_KMV_SPACE = 1 << 28  # hashes are 28-bit md5 prefixes


def _kmv_est(h_k: F.Column) -> F.Column:
    return F.lit(float((_KMV_K - 1) * _KMV_SPACE)) / h_k


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV theta sketches of click/view user sets: union + intersect estimates."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    hashed = e.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    sets = hashed.unionByName(
        hashed.select(F.lit("union").alias("event_type"), "h").distinct()
    )
    wk = W.partitionBy("event_type").orderBy("h")
    kept = (
        sets.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy(F.col("event_type").alias("set_name"))
        .agg(
            F.max("rn").alias("n_kept"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("h_k"),
        )
    )
    # standard KMV degenerate case: a set smaller than k IS its own sketch —
    # the estimate is exact (θ = 1). Keeps the operator correct at any scale.
    est = kept.select(
        "set_name",
        F.round(
            F.when(
                F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")
            ).otherwise(_kmv_est(F.col("h_k"))),
            4,
        ).alias("kmv_est"),
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    views = e.filter(F.col("event_type") == "view").select("user_id").distinct()
    exact = (
        clicks.select(F.lit("click").alias("set_name"), "user_id")
        .unionByName(views.select(F.lit("view").alias("set_name"), "user_id"))
        .unionByName(
            clicks.unionByName(views)
            .distinct()
            .select(F.lit("union").alias("set_name"), "user_id")
        )
        .unionByName(
            clicks.join(views, "user_id").select(
                F.lit("intersect").alias("set_name"), "user_id"
            )
        )
        .groupBy("set_name")
        .agg(F.count("*").alias("n_exact"))
    )
    # intersection estimate by inclusion-exclusion over the three sketches
    wide = est.groupBy().pivot("set_name", ["click", "view", "union"]).agg(
        F.first("kmv_est")
    )
    inter = wide.select(
        F.lit("intersect").alias("set_name"),
        F.round(F.col("click") + F.col("view") - F.col("union"), 4).alias("kmv_est"),
    )
    all_est = est.unionByName(inter)
    # always emit all four set rows: on a slice with no clicks (or no
    # views) Spark's groupBy-built exact frame simply has no row for the
    # empty set while the oracle's scalar COUNT(*) subqueries always
    # count 0 (parity sweep, round 6) — seed the names, left-join the
    # counts/estimates, and try_divide the n_exact = 0 case to NULL.
    # seed from range(1), NOT events.limit(1): on a fully empty events table
    # the latter yields 0 seed rows while the oracle's scalar-subquery CTE
    # still emits 4 zero-count rows (ADVICE r6 — the same empty-slice
    # divergence class the seed was added to fix, one level deeper)
    seed = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(s) for s in ("click", "view", "union", "intersect")])
        ).alias("set_name")
    )
    full = (
        seed.join(exact, "set_name", "left")
        .select("set_name", F.coalesce("n_exact", F.lit(0)).alias("n_exact"))
        .join(all_est, "set_name", "left")
    )
    return full.select(
        "set_name",
        "n_exact",
        "kmv_est",
        F.round(
            F.try_divide(F.col("kmv_est") - F.col("n_exact"), F.col("n_exact")),
            4,
        ).alias("rel_err"),
    )


ORACLE_KMV_SET_OPS = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 7))::UBIGINT
              AS BIGINT) AS h
  FROM events WHERE event_type IN ('click', 'view')
), sets AS (
  SELECT event_type, h FROM hashed
  UNION ALL
  SELECT 'union' AS event_type, h FROM (SELECT DISTINCT h FROM hashed)
), kept AS (
  SELECT event_type AS set_name, MAX(rn) AS n_kept,
         MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS h_k
  FROM (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM sets
  ) WHERE rn <= {_KMV_K}
  GROUP BY event_type
), est AS (
  SELECT set_name,
         ROUND(CASE WHEN n_kept < {_KMV_K} THEN n_kept::DOUBLE
               ELSE {float((_KMV_K - 1) * _KMV_SPACE)!r}::DOUBLE / h_k END,
               4) AS kmv_est
  FROM kept
), inter_est AS (
  SELECT 'intersect' AS set_name,
         ROUND((SELECT kmv_est FROM est WHERE set_name = 'click')
             + (SELECT kmv_est FROM est WHERE set_name = 'view')
             - (SELECT kmv_est FROM est WHERE set_name = 'union'), 4) AS kmv_est
), all_est AS (
  SELECT * FROM est UNION ALL SELECT * FROM inter_est
), clicks AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
), views AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
), exact AS (
  SELECT 'click' AS set_name, COUNT(*) AS n_exact FROM clicks
  UNION ALL SELECT 'view', COUNT(*) FROM views
  UNION ALL SELECT 'union', COUNT(*) FROM (
    SELECT user_id FROM clicks UNION SELECT user_id FROM views)
  UNION ALL SELECT 'intersect', COUNT(*) FROM (
    SELECT user_id FROM clicks INTERSECT SELECT user_id FROM views)
)
SELECT set_name, n_exact, kmv_est,
       ROUND((kmv_est - n_exact) / NULLIF(n_exact, 0), 4) AS rel_err
FROM exact LEFT JOIN all_est USING (set_name)
"""


# ---------------------------------------------------------------------------
# Multi-touch attribution with time-decay weighting: every purchase splits
# credit across the user's clicks in the prior 7 days; a click's weight is
# the rational decay 1/(1 + age_days) (pure arithmetic — identical IEEE
# ops on both engines, no libm exp() whose last ULP could differ between
# JVM and DuckDB), then quantized to an exact 1e9-scaled integer so the
# per-purchase SUM is accumulation-order-free (a raw double SUM adds in
# engine-specific order). Output per purchase: touch count, first/last click
# (position attribution), and the decayed share of the last touch.
#
# Scale shape: a banded range join — equi-key on user_id plus a bounded
# time interval, so each purchase only meets the clicks inside its window
# (same family as events_range_join / the as-of funnel). The per-purchase
# aggregation is one hash agg keyed by the purchase event; no window over
# the full event stream, no driver loop.
#
# Hot-user valve (round 8, VERDICT r7 item 4 — previously the one skew
# residual whose mitigation was advisory): a bot user holding p purchases
# and c clicks emits p×c banded-join rows from ONE user_id key — AQE can
# split the join, but the output itself is the quadratic. Executable cut,
# mirrored verbatim in the oracle: attribution considers at most the
# _ATTR_DAY_CLICK_CAP most RECENT clicks per (user, calendar day) — the
# "cap per-user history upstream" semantics real pipelines apply, made
# in-engine. Each purchase then meets ≤ (window+1)·cap touches. 32 is >5×
# the honest fixture maximum (6 clicks/user/day at sf0.1, measured), so
# every driver-checked SF passes untruncated; the planted bot (~147
# clicks/day, tools/make_skew.py) is clamped. The row_number window
# partitions per (user, day) — thousands of groups even for the bot, so
# the valve itself cannot become a straggler window.
# ---------------------------------------------------------------------------
_ATTR_WINDOW_DAYS = 7
_ATTR_DAY_CLICK_CAP = 32


def q_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution of purchases to prior-7d clicks."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    # keep only the _ATTR_DAY_CLICK_CAP most recent clicks per (user, day)
    # BEFORE the banded join — bounds the per-purchase touch set and the
    # hot-user join output (see the valve note above; click_id breaks ts
    # ties, so both engines keep the identical sublist)
    wday = W.partitionBy("user_id", F.to_date("c_ts")).orderBy(
        F.desc("c_ts"), F.desc("click_id")
    )
    clicks = (
        clicks.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= _ATTR_DAY_CLICK_CAP)
        .drop("rn")
    )
    age_days = (F.unix_micros("p_ts") - F.unix_micros("c_ts")) / F.lit(86400.0 * 1e6)
    touched = (
        purchases.join(clicks, "user_id")
        .filter(
            (F.col("c_ts") <= F.col("p_ts"))
            & (
                F.unix_micros("p_ts") - F.unix_micros("c_ts")
                <= _ATTR_WINDOW_DAYS * 86400 * 1_000_000
            )
        )
        .select(
            "purchase_id",
            "click_id",
            "c_ts",
            # 1e9-quantized integer weight: each w is computed by
            # identical IEEE ops on both engines, but SUM(w) over 3+
            # touches accumulates in engine-specific order (round-6
            # review) — floor(w·1e9 + 0.5) makes the sum exact and the
            # share ONE integer-over-integer division
            F.floor(
                F.lit(1e9) / (F.lit(1.0) + age_days) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("wq"),
        )
    )
    return touched.groupBy("purchase_id").agg(
        F.count("*").alias("n_touches"),
        F.min_by("click_id", F.struct("c_ts", "click_id")).alias("first_click"),
        F.max_by("click_id", F.struct("c_ts", "click_id")).alias("last_click"),
        F.round(
            F.max_by(F.col("wq"), F.struct("c_ts", "click_id"))
            / F.sum("wq"),
            4,
        ).alias("last_touch_share"),
    )


ORACLE_ATTRIBUTION_MULTITOUCH = f"""
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  -- mirror of the per-(user, day) recency cap: see _ATTR_DAY_CLICK_CAP
  SELECT click_id, user_id, c_ts FROM (
    SELECT event_id AS click_id, user_id, ts AS c_ts,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn <= {_ATTR_DAY_CLICK_CAP}
), touched AS (
  -- identical op sequence to the Spark side: 1e9/x then floor(+0.5) —
  -- NOT (1/x)*1e9, whose extra rounding could differ in the last ulp
  SELECT purchase_id, click_id, c_ts,
         CAST(FLOOR(1e9 / (1.0 + date_diff('microsecond', c_ts, p_ts)
                                 / (86400.0 * 1e6)) + 0.5) AS BIGINT) AS wq
  FROM purchases JOIN clicks USING (user_id)
  WHERE c_ts <= p_ts
    AND date_diff('microsecond', c_ts, p_ts) <= {_ATTR_WINDOW_DAYS}::BIGINT * 86400 * 1000000
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY c_ts ASC, click_id ASC) AS rn_asc,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY c_ts DESC, click_id DESC) AS rn_desc
  FROM touched
)
SELECT purchase_id,
       COUNT(*) AS n_touches,
       MIN(CASE WHEN rn_asc = 1 THEN click_id END) AS first_click,
       MIN(CASE WHEN rn_desc = 1 THEN click_id END) AS last_click,
       ROUND(MIN(CASE WHEN rn_desc = 1 THEN wq END) / (SUM(wq) * 1.0), 4)
         AS last_touch_share
FROM ranked
GROUP BY purchase_id
"""


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch with in-engine accuracy report —
# completes the sketch family (HLL cardinality, count-min frequency, KMV
# set ops) with the quantile dimension. A fixed-range equi-width histogram
# is the simplest mergeable quantile sketch: per-partition bucket counts
# combine map-side (one 128-long vector per partition flows to the
# reduce), and quantiles interpolate linearly inside the hit bucket —
# the classic NumericHistogram/streaming-histogram estimate. The report
# joins the estimate against the EXACT interpolated percentile computed
# in-engine, so the output carries its own error audit (same pattern as
# events_hll_report).
#
# Scale (100 TB intent): pass 1 (min/max/count) and pass 2 (bucket
# counts) are both all-JVM partial aggregates — total shuffle traffic is
# two ~128-row vectors regardless of input size; everything downstream of
# the histogram runs on <=128-row broadcast tables. The exact percentile
# is the expensive full-sort path and exists here only to SCORE the
# sketch; production keeps the sketch and drops the audit. Every
# arithmetic step (bucket index, cumulative rank, interpolation) is
# written identically in Spark and DuckDB so the 4dp-rounded doubles hash
# identically — no transcendentals anywhere.
# ---------------------------------------------------------------------------
_QSK_B = 128
_QSK_QS = [0.25, 0.5, 0.9, 0.99]


def q_quantile_sketch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    stats = li.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("*").alias("n")
    )
    width = (F.col("hi") - F.col("lo")) / _QSK_B
    hist = (
        li.crossJoin(F.broadcast(stats))
        .select(
            F.least(
                F.floor((F.col("v") - F.col("lo")) / width), F.lit(_QSK_B - 1)
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count("*").alias("c"))
    )
    cum = hist.select(
        "b",
        "c",
        F.sum("c")
        .over(W.orderBy("b").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
    )
    qs = spark.createDataFrame([(q,) for q in _QSK_QS], "q double")
    hit = (
        qs.crossJoin(F.broadcast(stats))
        .join(F.broadcast(cum), F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q", "lo", "hi", "n")
        .agg(F.min("b").alias("b"))
    )
    est = hit.join(F.broadcast(cum), "b").select(
        "q",
        (
            F.col("lo")
            + (F.col("hi") - F.col("lo"))
            / _QSK_B
            * (
                F.col("b")
                + (F.col("q") * F.col("n") - (F.col("cum") - F.col("c")))
                / F.col("c")
            )
        ).alias("est"),
    )
    # r10: the exact audit used the built-in `percentile` aggregate, whose
    # final merge buffers EVERY value in one task (measured 3.2 s alone at
    # sf0.1 — the whole query's cost — and an executor OOM at 100 TB).
    # exact_percentiles computes the identical doubles via the
    # range-partitioned distributed sort (operators/ranking.py), so the
    # audit now scales like the sketch it scores.
    from log_agent_spark.operators.ranking import exact_percentiles

    exact = exact_percentiles(
        li, F.col("v"), _QSK_QS, out_value="exact_value"
    )
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.round("est", 4).alias("est_value"),
            F.round("exact_value", 4).alias("exact_value"),
            F.round(F.abs(F.col("est") - F.col("exact_value")), 4).alias("abs_err"),
        )
        .orderBy("q")
    )


ORACLE_QUANTILE_SKETCH = f"""
WITH src AS (SELECT l_extendedprice AS v FROM lineitem),
stats AS (SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM src),
hist AS (
  SELECT least(CAST(floor((v - lo) / ((hi - lo) / {_QSK_B})) AS BIGINT), {_QSK_B - 1}) AS b,
         COUNT(*) AS c
  FROM src, stats GROUP BY 1
),
cum AS (SELECT b, c, SUM(c) OVER (ORDER BY b) AS cum FROM hist),
qs AS (SELECT unnest([{", ".join(str(q) for q in _QSK_QS)}]) AS q),
hit AS (
  SELECT q, lo, hi, n, MIN(b) AS b
  FROM qs, stats, cum WHERE cum >= q * n GROUP BY q, lo, hi, n
),
est AS (
  SELECT q,
         lo + (hi - lo) / {_QSK_B} * (hit.b + (q * n - (cum - c)) / c) AS est
  FROM hit JOIN cum USING (b)
),
exact AS (
  SELECT unnest([{", ".join(str(q) for q in _QSK_QS)}]) AS q,
         unnest(quantile_cont(v, [{", ".join(str(q) for q in _QSK_QS)}])) AS exact_value
  FROM src
)
SELECT est.q, ROUND(est, 4) AS est_value, ROUND(exact_value, 4) AS exact_value,
       ROUND(ABS(est - exact_value), 4) AS abs_err
FROM est JOIN exact ON est.q = exact.q
ORDER BY est.q
"""


# ---------------------------------------------------------------------------
# Out-of-order depth audit — the measurement that SIZES A WATERMARK.
# Structured Streaming's withWatermark(delay) silently drops events later
# than the delay; picking it blind either drops data (too tight) or
# bloats state (too loose). This audit replays the batch feed in arrival
# order (event_id — the fixture's ingestion sequence; a real feed would
# use the Kafka offset, exactly the reference's arrival proxy) and, per
# event_type, measures how far behind the per-user running max event-time
# each arrival is: lateness = max(ts over earlier arrivals of that user)
# − ts. The report (late share, max and mean depth) is the empirical
# bound withWatermark needs — a streaming window or dedup consumes such delays.
#
# Scale shape: ONE window over (user_id) partitions ordered by arrival —
# per-user streams are the natural unit (watermarks act per key) and
# user_id is high-cardinality, so no partition is data-scaled; then one
# bounded groupBy(event_type). Integer ms everywhere; the two divisions
# (pct, mean) are single try_divides of exact BIGINTs, round 4.
# ---------------------------------------------------------------------------
# Planted inversions: the fixture feed is FULLY ordered (event_id order ==
# ts order per user), so the raw audit reports n_late = 0 everywhere and
# its lateness arithmetic would go hash-verified only on zeros. Like the
# funnel's planted dups, shift a deterministic arithmetic subset of
# arrivals (event_id % 97 == 0) one day EARLIER in event time inside the
# query's own view on both engines: any such event that is not its user's
# first arrival lands behind the running max and scores late — non-zero
# n_late/max/mean columns get real hash coverage at every SF.
# 24 h, not 1 h: a plant only scores late if the user's PREVIOUS arrival
# is within the shift of the plant's original event time, and per-user
# gaps in the fixture are often hours — the day-scale shift makes most of
# the ~1%-of-events plants actually land late in every event_type
_OOO_PLANT_MOD = 97
_OOO_PLANT_MS = 86_400_000


def ooo_planted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ooo-depth input view (user_id, event_id, event_type, ts_ms)
    with the deterministic planted inversions — shared by the batch audit
    and the streaming-parity test so both replay identical rows."""
    shift = F.when(
        F.col("event_id") % _OOO_PLANT_MOD == 0, F.lit(_OOO_PLANT_MS)
    ).otherwise(F.lit(0))
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        (F.unix_millis(F.col("ts")) - shift).alias("ts_ms"),
    )


def q_ooo_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order depth per event_type: arrival-order replay measures
    how far behind each user's running max event-time arrivals land —
    the empirical lateness bound that sizes withWatermark()."""
    e = ooo_planted_events(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    late = (F.max("ts_ms").over(w) - F.col("ts_ms")).alias("late_ms")
    d = e.select("event_type", late)
    n_late = F.sum(F.when(F.col("late_ms") > 0, 1).otherwise(0))
    return (
        d.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            n_late.alias("n_late"),
            F.round(n_late * 100.0 / F.count("*"), 4).alias("pct_late"),
            F.max("late_ms").alias("max_late_ms"),
            F.sum("late_ms").alias("late_mass_ms"),
            # mean depth among late arrivals; a fully-ordered type has
            # n_late = 0 → NULL (DuckDB-identical via try_divide)
            F.round(
                F.try_divide(F.sum("late_ms") * 1.0, n_late), 4
            ).alias("mean_late_ms"),
        )
        .orderBy("event_type")
    )


ORACLE_OOO_DEPTH = f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_ms(ts) - CASE WHEN event_id % {_OOO_PLANT_MOD} = 0
                             THEN {_OOO_PLANT_MS} ELSE 0 END AS ts_ms
  FROM events
), lat AS (
  SELECT event_type,
         MAX(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - ts_ms AS late_ms
  FROM e
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 4)
         AS pct_late,
       CAST(MAX(late_ms) AS BIGINT) AS max_late_ms,
       CAST(SUM(late_ms) AS BIGINT) AS late_mass_ms,
       ROUND(SUM(late_ms) * 1.0
             / NULLIF(SUM(CASE WHEN late_ms > 0 THEN 1 ELSE 0 END), 0), 4)
         AS mean_late_ms
FROM lat
GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "events_quantile_sketch_report": q_quantile_sketch_report,
    "events_hll_incremental": q_hll_incremental,
    "events_ab_test_ztest": q_ab_test_ztest,
    "events_user_lifecycle": q_user_lifecycle,
    "events_weekly_load_profile": q_weekly_load_profile,
    "events_dwell_percentiles": q_dwell_time_percentiles,
    "events_slo_burn_rate": q_slo_burn_rate,
    "events_ooo_depth": q_ooo_depth,
    "events_error_bursts": q_error_burst_windows,
    "events_pit_versioned_join": q_pit_versioned_join,
    "events_transition_matrix": q_event_transition_matrix,
    "events_scd2_dimension": q_scd2_user_dimension,
    "events_rolling_7d_users": q_rolling_7d_distinct_users,
    "events_hypertable_rollup": q_hypertable_rollup,
    "events_session_window_native": q_session_window_native,
    "window_range_frame": q_window_range_frame,
    "events_approx_sketches": q_approx_sketches,
    "events_countmin_heavyhitters": q_countmin_heavyhitters,
    "events_attribution_multitouch": q_attribution_multitouch,
    "events_hll_report": q_hll_report,
    "events_kmv_set_ops": q_kmv_set_ops,
    "events_cdc_apply": q_cdc_apply,
    "events_session_paths": q_session_paths,
    "events_pivot": q_events_pivot,
    "events_tumbling_window": q_tumbling_window,
    "events_sliding_window": q_sliding_window,
    "events_json_extract": q_json_extract,
    "events_variant_extract": q_variant_extract,
    "events_sessionize": q_sessionize,
    "debounce_keep_last": q_debounce_keep_last,
    "dedup_keep_latest": q_dedup_keep_latest,
    "epoch_projections": q_epoch_projections,
}

# events_approx_sketches: Spark's HLL++/KLL internals have no DuckDB
# equivalent, so its oracle reads the frozen golden parquet
# (tools/make_goldens.py) — a full value regression gate on the engine's
# own deterministic sketch output.
_GOLDEN_SKETCHES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "goldens", "events_approx_sketches.parquet",
)

ORACLES = {
    "events_approx_sketches": f"SELECT * FROM read_parquet('{_GOLDEN_SKETCHES}')",
    "events_quantile_sketch_report": ORACLE_QUANTILE_SKETCH,
    "events_hll_incremental": ORACLE_HLL_INCREMENTAL,
    "events_ab_test_ztest": ORACLE_AB_TEST,
    "events_countmin_heavyhitters": ORACLE_COUNTMIN_HEAVYHITTERS,
    "events_attribution_multitouch": ORACLE_ATTRIBUTION_MULTITOUCH,
    "events_hll_report": ORACLE_HLL_REPORT,
    "events_kmv_set_ops": ORACLE_KMV_SET_OPS,
    "events_cdc_apply": ORACLE_CDC_APPLY,
    "events_session_paths": ORACLE_SESSION_PATHS,
    "events_user_lifecycle": ORACLE_USER_LIFECYCLE,
    "events_weekly_load_profile": ORACLE_WEEKLY_LOAD_PROFILE,
    "events_dwell_percentiles": ORACLE_DWELL_TIME_PERCENTILES,
    "events_slo_burn_rate": ORACLE_SLO_BURN_RATE,
    "events_ooo_depth": ORACLE_OOO_DEPTH,
    "events_error_bursts": ORACLE_ERROR_BURST_WINDOWS,
    "events_pit_versioned_join": ORACLE_PIT_VERSIONED_JOIN,
    "events_transition_matrix": ORACLE_EVENT_TRANSITION_MATRIX,
    "events_scd2_dimension": ORACLE_SCD2_USER_DIMENSION,
    "events_rolling_7d_users": ORACLE_ROLLING_7D_DISTINCT_USERS,
    "events_hypertable_rollup": ORACLE_HYPERTABLE_ROLLUP,
    "events_session_window_native": ORACLE_SESSION_WINDOW_NATIVE,
    "window_range_frame": ORACLE_WINDOW_RANGE_FRAME,
    "events_pivot": ORACLE_EVENTS_PIVOT,
    "events_tumbling_window": ORACLE_TUMBLING_WINDOW,
    "events_sliding_window": ORACLE_SLIDING_WINDOW,
    "events_json_extract": ORACLE_JSON_EXTRACT,
    "events_variant_extract": ORACLE_VARIANT_EXTRACT,
    "events_sessionize": ORACLE_SESSIONIZE,
    "debounce_keep_last": ORACLE_DEBOUNCE_KEEP_LAST,
    "dedup_keep_latest": ORACLE_DEDUP_KEEP_LATEST,
    "epoch_projections": ORACLE_EPOCH_PROJECTIONS,
}
