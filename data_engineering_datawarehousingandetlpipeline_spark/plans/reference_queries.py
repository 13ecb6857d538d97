"""Reference-parity queries, expressed over the driver's ``events`` table.

Every operator family the reference implements (SURVEY.md §2) surfaces here
as a named query with a DuckDB oracle twin. ``events(user_id, ts, ...)``
plays the role of the observation stream — keys ``(user_id, ts)`` map to the
reference's ``(station_id, timestamp)`` identity (FIXTURES.md §3):

==================  =====================================================
query               reference operator(s)
==================  =====================================================
day_window          S8 warehouse scan + P5 range predicate + P8 UTC+2 day
                    bounds + O3 sort (visualization/app.py:32-66)
dup_audit           D4/A5 duplicate audit (README.md:162-169)
dup_audit_hourly    D4 over the hour-floored key (non-empty variant)
dedup_keep_first    D1 keep-first dedup (transformations.py:76-84)
dedup_hourly_last   D2 keep-LAST + F7 hour floor — the intended
                    prepare_hourly_for_bigquery semantics
                    (transformations.py:217-245; README.md:72-75)
missingness         A1 per-column missing-value profile
                    (transformations.py:87-93)
outliers            A2 z-score outliers, population stddev
                    (transformations.py:96-104)
filtered_count      A6 windowed count (README.md:171-176)
distinct_counts     A7 distinct counts (visualization/app.py:86)
max_ts_per_user     A4 watermark state = max ts per key
                    (kafka_stream.py:275-284)
watermark_filter    P6/D3 drop rows not newer than per-key state
                    (kafka_stream.py:269-273, :314-318)
schema_projection   P1/P2 lenient schema application
                    (transformations.py:118-141)
validate_counts     P7/A8 valid/invalid split + row metrics
                    (transformations.py:144-178)
hourly_rollup       T5 tumbling-hour aggregation (dags/fmi_weather_dag.py:17)
sessionization      extension: gap-based sessions (SURVEY.md §2.11)
json_props          extension: JSON prop extraction (events.props)
composite_sort      O1 composite sort (fmi_client.py:170)
==================  =====================================================
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
    dsum,
    sql_dsum,
)
from data_engineering_datawarehousingandetlpipeline_spark.plans.registry import QuerySpec
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    load_table,
)

#: The dashboard's local timezone: UTC+2 (visualization/app.py:18).
DASHBOARD_UTC_OFFSET_HOURS = 2
#: Fixed "selected day" for the deterministic dashboard query.
DASHBOARD_DAY = dt.date(2024, 1, 15)
#: Watermark cutoff splitting events into "already ingested" vs "incoming".
WATERMARK_CUTOFF = "2024-01-20 00:00:00"
#: Session gap threshold (microseconds) for sessionization.
SESSION_GAP_US = 30 * 60 * 1_000_000


def day_bounds_utc(
    day: dt.date, utc_offset_hours: int = DASHBOARD_UTC_OFFSET_HOURS
) -> tuple[dt.datetime, dt.datetime]:
    """P8: bounds of a local calendar day as UTC instants (app.py:32-36)."""
    tz = dt.timezone(dt.timedelta(hours=utc_offset_hours))
    start_local = dt.datetime.combine(day, dt.time.min, tzinfo=tz)
    end_local = dt.datetime.combine(day, dt.time.max, tzinfo=tz)
    return (
        start_local.astimezone(dt.timezone.utc).replace(tzinfo=None),
        end_local.astimezone(dt.timezone.utc).replace(tzinfo=None),
    )


_DAY_START, _DAY_END = day_bounds_utc(DASHBOARD_DAY)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def q_day_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard day query: 5-column projection + ts range + ORDER BY ts.

    The range predicate is applied in raw-nanos space (load_events_range)
    so it pushes down to the parquet scan's row-group statistics; at 100 TB
    with a date-partitioned warehouse this prunes to one day's partitions
    instead of scanning the column and filtering after conversion.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_events_range,
    )

    return (
        load_events_range(spark, sf_dir, _DAY_START, _DAY_END)
        .select("event_id", "user_id", "event_type", "value", "ts")
        .orderBy("ts", "event_id")
    )


SQL_DAY_WINDOW = f"""
SELECT event_id, user_id, event_type, value, ts
FROM events
WHERE ts BETWEEN TIMESTAMP '{_DAY_START}' AND TIMESTAMP '{_DAY_END}'
ORDER BY ts, event_id
"""


def q_dashboard_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 + the dashboard serving surface (visualization/app.py:84-120).

    The chart rows with their display formatting — ``HH:mm`` axis labels
    (app.py:93), ``yyyy-MM-dd HH:mm`` tooltips (app.py:102,111), the
    ``.1f`` value tooltip — plus the caption aggregates (row count and
    series cardinality, app.py:85-87) carried on every row via a
    broadcast of the 1-row aggregate. One day-window scan feeds both.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_events_range,
    )

    day = load_events_range(spark, sf_dir, _DAY_START, _DAY_END)
    caption = day.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_series"),
    )
    return (
        day.crossJoin(F.broadcast(caption))
        .select(
            "event_id",
            F.date_format("ts", "HH:mm").alias("axis_time"),
            F.date_format("ts", "yyyy-MM-dd HH:mm").alias("tooltip_time"),
            "user_id",
            F.round("value", 1).alias("value_1dp"),
            "n_rows",
            "n_series",
        )
        .orderBy("tooltip_time", "event_id")
    )


SQL_DASHBOARD_SUMMARY = f"""
WITH day AS (
  SELECT * FROM events
  WHERE ts BETWEEN TIMESTAMP '{_DAY_START}' AND TIMESTAMP '{_DAY_END}'
), caption AS (
  SELECT COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_series FROM day
)
SELECT event_id,
       strftime(ts, '%H:%M') AS axis_time,
       strftime(ts, '%Y-%m-%d %H:%M') AS tooltip_time,
       user_id,
       round(value, 1) AS value_1dp,
       n_rows, n_series
FROM day CROSS JOIN caption
ORDER BY tooltip_time, event_id
"""


def q_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: keys occurring more than once (exact duplicate audit)."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id", "ts")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .orderBy(F.col("n").desc(), "user_id", "ts")
    )


SQL_DUP_AUDIT = """
SELECT user_id, ts, COUNT(*) AS n
FROM events
GROUP BY user_id, ts
HAVING COUNT(*) > 1
ORDER BY n DESC, user_id, ts
"""


def q_dup_audit_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 over the hour-floored key — non-empty on the corpus."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .orderBy(F.col("n").desc(), "user_id", "hour_ts")
    )


SQL_DUP_AUDIT_HOURLY = """
SELECT user_id, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n
FROM events
GROUP BY user_id, date_trunc('hour', ts)
HAVING COUNT(*) > 1
ORDER BY n DESC, user_id, hour_ts
"""


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: keep-first dedup on (user_id, hour); arrival order = (ts, event_id).

    The reference's pandas ``drop_duplicates`` keeps the first *input* row;
    distributed Spark makes the ordering explicit via a window row_number.
    One shuffle on the dedup key; sorting happens within key groups only.
    """
    events = _events(spark, sf_dir).withColumn(
        "hour_ts", F.date_trunc("hour", F.col("ts"))
    )
    w = Window.partitionBy("user_id", "hour_ts").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour_ts", "event_id", "event_type", "value")
        .orderBy("user_id", "hour_ts")
    )


SQL_DEDUP_KEEP_FIRST = """
SELECT user_id, hour_ts, event_id, event_type, value
FROM (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) t
WHERE rn = 1
ORDER BY user_id, hour_ts
"""


def q_dedup_hourly_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2+F7: floor to hour, LATEST row within each (user, hour) wins.

    This is ``prepare_hourly_for_bigquery`` with the documented-but-missing
    hour floor fixed (SURVEY.md §2.10.1): "latest record per (station, hour)
    wins" (reference README.md:75), tie-broken by event_id desc.
    """
    events = _events(spark, sf_dir).withColumn(
        "hour_ts", F.date_trunc("hour", F.col("ts"))
    )
    w = Window.partitionBy("user_id", "hour_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("hour_ts").alias("timestamp"),
            "event_id",
            "event_type",
            "value",
        )
        .orderBy("user_id", "timestamp")
    )


SQL_DEDUP_HOURLY_LAST = """
SELECT user_id, hour_ts AS "timestamp", event_id, event_type, value
FROM (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t
WHERE rn = 1
ORDER BY user_id, "timestamp"
"""


_EVENT_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def q_missingness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-column NULL counts, unpivoted to (column_name, missing_count).

    One scan, one row of partial aggregates, then a driver-trivial unpivot —
    the reference's ``isna().sum()`` (transformations.py:87-93) without
    materializing anything.
    """
    events = _events(spark, sf_dir)
    counts = events.agg(
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(c)
            for c in _EVENT_COLUMNS
        ]
    )
    stack_expr = ", ".join(f"'{c}', {c}" for c in _EVENT_COLUMNS)
    return counts.selectExpr(
        f"stack({len(_EVENT_COLUMNS)}, {stack_expr}) AS (column_name, missing_count)"
    ).orderBy("column_name")


SQL_MISSINGNESS = (
    "WITH s AS (SELECT "
    + ", ".join(
        f'CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "{c}"'
        for c in _EVENT_COLUMNS
    )
    + " FROM events) "
    + " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, \"{c}\" AS missing_count FROM s"
        for c in _EVENT_COLUMNS
    )
    + " ORDER BY column_name"
)


def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: z-score outliers on ``value`` with POPULATION stddev, |z| > 3.

    Stats come from decimal-anchored sums (sum, sum of squares), so mean and
    variance are bit-identical across engines and partitionings; the 1-row
    stats side is a broadcast cross join, not a shuffle of the fact table.
    Mirrors ``detect_outliers`` (transformations.py:96-104) including
    ``ddof=0`` — Spark's default ``stddev`` is the *sample* one, which is
    why the variance is computed explicitly here.
    """
    events = _events(spark, sf_dir)
    stats = events.agg(
        dsum("value").alias("s1"),
        dsum(F.col("value") * F.col("value"), wide=True).alias("s2"),
        F.count("value").alias("n"),
    ).select(
        (F.col("s1") / F.col("n")).alias("mean_value"),
        F.sqrt(F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) ** 2).alias(
            "std_value"
        ),
    )
    return (
        events.crossJoin(F.broadcast(stats))
        .withColumn("z", (F.col("value") - F.col("mean_value")) / F.col("std_value"))
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "user_id", "value", "z")
        .orderBy("event_id")
    )


SQL_OUTLIERS = f"""
WITH stats AS (
  SELECT {sql_dsum('value')} / COUNT(value) AS mean_value,
         SQRT({sql_dsum('value * value', wide=True)} / COUNT(value)
              - POW({sql_dsum('value')} / COUNT(value), 2)) AS std_value
  FROM events
)
SELECT event_id, user_id, value, (value - mean_value) / std_value AS z
FROM events CROSS JOIN stats
WHERE ABS((value - mean_value) / std_value) > 3.0
ORDER BY event_id
"""


def q_filtered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: count of rows in a trailing window (fixed cutoff for determinism)."""
    return (
        _events(spark, sf_dir)
        .filter(F.col("ts") >= F.lit(WATERMARK_CUTOFF).cast("timestamp"))
        .agg(F.count("*").alias("n_recent"))
    )


SQL_FILTERED_COUNT = f"""
SELECT COUNT(*) AS n_recent
FROM events
WHERE ts >= TIMESTAMP '{WATERMARK_CUTOFF}'
"""


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: exact distinct counts (the dashboard caption's ``nunique``)."""
    return _events(spark, sf_dir).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


SQL_DISTINCT_COUNTS = """
SELECT COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT event_type) AS n_event_types
FROM events
"""


def q_max_ts_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: watermark state — max ingested ts per key (kafka_stream.py:275-284)."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.max("ts").alias("max_ts"))
        .orderBy("user_id")
    )


SQL_MAX_TS_PER_USER = """
SELECT user_id, MAX(ts) AS max_ts
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def q_watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/D3: drop incoming rows not strictly newer than per-key state.

    State = max(ts) per user over the "already ingested" half (ts < cutoff);
    incoming = ts >= cutoff. A row survives iff its key is unseen or its ts
    exceeds the stored max — exactly ``WatermarkStore.is_new``
    (kafka_stream.py:269-273). The state side is tiny (one row per key) so
    it broadcasts; the fact side never shuffles.
    """
    events = _events(spark, sf_dir)
    cutoff = F.lit(WATERMARK_CUTOFF).cast("timestamp")
    state = (
        events.filter(F.col("ts") < cutoff)
        .groupBy(F.col("user_id").alias("state_user_id"))
        .agg(F.max("ts").alias("state_max_ts"))
    )
    incoming = events.filter(F.col("ts") >= cutoff)
    return (
        incoming.join(
            F.broadcast(state),
            incoming.user_id == state.state_user_id,
            "left",
        )
        .filter(F.col("state_max_ts").isNull() | (F.col("ts") > F.col("state_max_ts")))
        .select("event_id", "user_id", "ts", "event_type", "value")
        .orderBy("event_id")
    )


SQL_WATERMARK_FILTER = f"""
WITH state AS (
  SELECT user_id AS state_user_id, MAX(ts) AS state_max_ts
  FROM events WHERE ts < TIMESTAMP '{WATERMARK_CUTOFF}'
  GROUP BY user_id
)
SELECT event_id, user_id, ts, event_type, value
FROM events LEFT JOIN state ON user_id = state_user_id
WHERE ts >= TIMESTAMP '{WATERMARK_CUTOFF}'
  AND (state_max_ts IS NULL OR ts > state_max_ts)
ORDER BY event_id
"""


def q_schema_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: lenient schema application mapped onto events.

    Projects events into an observation-shaped frame: key cast to string,
    measure ``try_cast`` to double, extra columns (props) dropped, absent
    optional column materialized as NULL — ``apply_bigquery_schema``
    semantics (transformations.py:118-141) under ANSI mode.
    """
    events = _events(spark, sf_dir)
    return events.select(
        F.col("user_id").try_cast("string").alias("station_id"),
        F.col("ts").alias("timestamp"),
        F.col("value").try_cast("double").alias("temperature"),
        F.lit(None).cast("double").alias("humidity"),
        F.col("event_type").alias("station_name"),
    ).orderBy("station_id", "timestamp")


SQL_SCHEMA_PROJECTION = """
SELECT TRY_CAST(user_id AS VARCHAR) AS station_id,
       ts AS "timestamp",
       TRY_CAST(value AS DOUBLE) AS temperature,
       CAST(NULL AS DOUBLE) AS humidity,
       event_type AS station_name
FROM events
ORDER BY station_id, "timestamp"
"""


def q_validate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/A8: valid/invalid split as one-pass observability counts.

    Validity = required keys present and the measure parses as a number
    (the reference's row-wise type check, transformations.py:144-178, as
    native predicates instead of a per-row UDF). A single aggregate yields
    both counts — the reference's paired ``len()`` calls in one action.
    """
    events = _events(spark, sf_dir)
    is_valid = (
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").try_cast("double").isNotNull()
    )
    return events.agg(
        F.sum(F.when(is_valid, 1).otherwise(0)).cast("bigint").alias("n_valid"),
        F.sum(F.when(is_valid, 0).otherwise(1)).cast("bigint").alias("n_invalid"),
        F.count("*").alias("n_total"),
    )


SQL_VALIDATE_COUNTS = """
SELECT CAST(SUM(CASE WHEN user_id IS NOT NULL AND ts IS NOT NULL
                      AND TRY_CAST(value AS DOUBLE) IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(SUM(CASE WHEN user_id IS NOT NULL AND ts IS NOT NULL
                      AND TRY_CAST(value AS DOUBLE) IS NOT NULL
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
       COUNT(*) AS n_total
FROM events
"""


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: tumbling-hour aggregate per event type (the warehouse's grain).

    ``date_trunc`` + groupBy is the batch twin of the streaming
    ``window(ts, "1 hour")`` aggregation in streaming/pipeline.py.
    """
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("hour_ts", "event_type")
    )


SQL_HOURLY_ROLLUP = f"""
SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY hour_ts, event_type
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30 min silence starts a new session.

    lag + running sum over (user_id | ts) windows — one shuffle on user_id,
    both window functions share the same sort. The strict-inequality gap
    test uses exact microsecond arithmetic so both engines agree.
    """
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = events.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > SESSION_GAP_US), 1).otherwise(0),
    )
    sessioned = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessioned.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


SQL_SESSIONIZATION = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessioned AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessioned
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's BUILT-IN ``session_window`` aggregate.

    The JVM-native alternative to both the two-window lag formulation
    (``sessionization``) and the stateful Python operator
    (``streaming_sessions``): ONE aggregation whose grouping key is the
    merging session itself — no lag pass, no running sum, no Python. The
    planner runs it as partial session-merge then a user-keyed exchange
    (states, not rows).

    Boundary semantics differ from the lag formulation BY DESIGN and the
    oracle states them exactly: ``session_window`` merges an event only
    while it lands strictly BEFORE the open window's end (last event +
    gap), so a gap of exactly 30 minutes STARTS a new session (the lag
    variant's strict ``>`` keeps it). The window end is padded:
    last event + gap.
    """
    events = _events(spark, sf_dir)
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end_padded"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


SQL_NATIVE_SESSION_WINDOW = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) >= {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessioned AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end_padded,
       COUNT(*) AS n_events
FROM sessioned
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction from the semi-structured ``props`` column.

    ``get_json_object`` stays JVM-side (no UDF); ``try_cast`` keeps ANSI
    semantics lenient, mirroring the engine's coercion contract.
    """
    events = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").try_cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


SQL_JSON_PROPS = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k, MAX(k) AS max_k
FROM (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events
) t
GROUP BY event_type
ORDER BY event_type
"""


def q_json_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same extraction through the VARIANT type (Spark 4): parse the
    semi-structured column ONCE into the binary variant encoding, then
    extract typed fields with ``try_variant_get``.

    Why this path matters at 100 TB: ``get_json_object`` re-parses the
    JSON text per extraction — k extractions cost k parses — while a
    variant parses once and serves every field from the binary form
    (and, on a lakehouse that stores VARIANT natively, shredded field
    access skips the parse entirely). ``try_parse_json`` / ``try_*``
    keep the lenient-coercion contract of the string path. The oracle is
    the SAME SQL as ``json_props`` — the variant path must be a pure
    representation change, never a semantics change.
    """
    events = _events(spark, sf_dir)
    k = F.try_variant_get(
        F.try_parse_json(F.col("props")), "$.k", "int"
    )
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_composite_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: composite sort after ingest (fmi_client.py:170)."""
    return (
        _events(spark, sf_dir)
        .select("user_id", "ts", "event_id", "event_type")
        .orderBy("user_id", "ts", "event_id")
    )


SQL_COMPOSITE_SORT = """
SELECT user_id, ts, event_id, event_type
FROM events
ORDER BY user_id, ts, event_id
"""


QUERIES = [
    QuerySpec("day_window", q_day_window, SQL_DAY_WINDOW,
              "dashboard day-window scan (S8/P5/P8/O3)", bench=True,
              tags=("scan", "filter", "sort")),
    QuerySpec("dashboard_summary", q_dashboard_summary, SQL_DASHBOARD_SUMMARY,
              "dashboard serving: F8 time formatting + caption aggregates",
              tags=("scan", "format")),
    QuerySpec("dup_audit", q_dup_audit, SQL_DUP_AUDIT,
              "duplicate audit on exact key (D4/A5)", tags=("agg",)),
    QuerySpec("dup_audit_hourly", q_dup_audit_hourly, SQL_DUP_AUDIT_HOURLY,
              "duplicate audit on hour-floored key", tags=("agg",)),
    QuerySpec("dedup_keep_first", q_dedup_keep_first, SQL_DEDUP_KEEP_FIRST,
              "keep-first dedup via window row_number (D1)", bench=True,
              tags=("dedup", "window")),
    QuerySpec("dedup_hourly_last", q_dedup_hourly_last, SQL_DEDUP_HOURLY_LAST,
              "hour floor + keep-last dedup (D2+F7)", bench=True,
              tags=("dedup", "window")),
    QuerySpec("missingness", q_missingness, SQL_MISSINGNESS,
              "per-column missing-value profile (A1)", tags=("quality",)),
    QuerySpec("outliers", q_outliers, SQL_OUTLIERS,
              "population-stddev z-score outliers (A2)", tags=("quality",)),
    QuerySpec("filtered_count", q_filtered_count, SQL_FILTERED_COUNT,
              "trailing-window count (A6)", tags=("agg",)),
    QuerySpec("distinct_counts", q_distinct_counts, SQL_DISTINCT_COUNTS,
              "distinct counts (A7)", tags=("agg",)),
    QuerySpec("max_ts_per_user", q_max_ts_per_user, SQL_MAX_TS_PER_USER,
              "watermark state: max ts per key (A4)", tags=("agg",)),
    QuerySpec("watermark_filter", q_watermark_filter, SQL_WATERMARK_FILTER,
              "state-based late/duplicate drop (P6/D3)", tags=("join", "state")),
    QuerySpec("schema_projection", q_schema_projection, SQL_SCHEMA_PROJECTION,
              "lenient schema application (P1/P2)", tags=("projection",)),
    QuerySpec("validate_counts", q_validate_counts, SQL_VALIDATE_COUNTS,
              "valid/invalid split counts (P7/A8)", tags=("quality",)),
    QuerySpec("hourly_rollup", q_hourly_rollup, SQL_HOURLY_ROLLUP,
              "tumbling-hour rollup (T5)", bench=True, tags=("agg", "time")),
    QuerySpec("sessionization", q_sessionization, SQL_SESSIONIZATION,
              "gap-based sessionization (§2.11)", bench=True, tags=("window", "time")),
    QuerySpec("native_session_window", q_native_session_window,
              SQL_NATIVE_SESSION_WINDOW,
              "built-in session_window aggregate (no lag pass, no Python); "
              "oracle states the >= boundary semantics",
              tags=("window", "time")),
    QuerySpec("json_props", q_json_props, SQL_JSON_PROPS,
              "JSON prop extraction + agg (§2.11)", tags=("json", "agg")),
    QuerySpec("json_props_variant", q_json_props_variant, SQL_JSON_PROPS,
              "the same extraction through Spark 4's VARIANT type "
              "(parse once, typed try_variant_get) — oracle identical "
              "to json_props by design", tags=("json", "agg")),
    QuerySpec("composite_sort", q_composite_sort, SQL_COMPOSITE_SORT,
              "composite sort (O1)", tags=("sort",)),
]
