"""Pipeline-shaped queries: pivot, whitelist scan, salted rollup, and the
streaming ingestion path verified against its SQL semantics.

``streaming_ingest`` is the notable one: it *runs the actual Structured
Streaming pipeline* (file source → foreachBatch clean+merge into a temp
warehouse, checkpointed) and returns the warehouse contents — while its
oracle states the equivalent batch semantics in SQL (hour floor + keep-last
per key). The driver's comparison therefore proves the streaming path
implements the declared batch semantics, not just that it runs.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
    dsum,
    sql_dsum,
)
from data_engineering_datawarehousingandetlpipeline_spark.operators import joins
from data_engineering_datawarehousingandetlpipeline_spark.operators.skew import (
    salted_agg,
)
from data_engineering_datawarehousingandetlpipeline_spark.plans.registry import QuerySpec
from data_engineering_datawarehousingandetlpipeline_spark.scratch import (
    materialized_result,
)
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    load_table,
)


def _drained_result(
    stream: DataFrame, prefix: str, mode: str, order: list[str], workdir: str
) -> DataFrame:
    """Drain ``stream`` with ``availableNow`` into a memory sink and return
    its rows ordered by ``order``, pinned off ``workdir``
    (:func:`materialized_result`).

    The sink's temporary view holds the drained rows for the life of the
    session, so it is dropped once the result is pinned: the caller's
    catalog is left as it was."""
    spark = stream.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex}"
    query = (
        stream.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination()
        return materialized_result(spark.table(name).orderBy(*order), workdir)
    finally:
        spark.catalog.dropTempView(name)


#: fixed pivot columns — the corpus's five event types (deterministic order).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
#: whitelist for the A3-style long-term scan.
USER_WHITELIST = (1, 2, 3, 7, 11)


def q_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily value totals, one column per event type.

    Explicit pivot values keep the plan single-pass (no distinct-values
    pre-query) and the output schema static — required at scale and for
    the oracle's CASE-based twin.
    """
    return _wide_daily(spark, sf_dir).orderBy("day_ts")


def _wide_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day × event-type value matrix (unordered) — ONE definition
    shared by the pivot query and its unpivot inverse, so the round-trip
    claim can never drift onto two different aggregations."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("day_ts"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(dsum("value"))
    )


SQL_PIVOT_DAILY = (
    # CAST: duckdb's date_trunc('day') yields DATE; Spark's yields TIMESTAMP
    "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts, "
    + ", ".join(
        "CAST(CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(18,4)) END) AS STRING) AS DOUBLE) AS \"{t}\"".format(t=t)
        for t in EVENT_TYPES
    )
    + " FROM events GROUP BY CAST(date_trunc('day', ts) AS TIMESTAMP) ORDER BY day_ts"
)


def q_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide daily matrix back to long form — and the
    round-trip proof that pivot/unpivot are exact inverses.

    Runs the SAME wide aggregation as ``pivot_daily`` (shared
    ``_wide_daily`` helper — one definition, not a copy) and melts it
    with ``DataFrame.unpivot`` (one Expand over the ~30-row wide table —
    no extra shuffle); the oracle computes the long form DIRECTLY from
    events, so the driver hash proves unpivot(pivot(x)) == x. Symmetry
    is mirrored on both sides: the oracle filters to the same
    EVENT_TYPES whitelist the pivot enumerates, and both sides drop
    NULL-sum cells — the pivot's padding for combinations with no (or
    all-NULL) values, which a direct aggregation either never had or
    reports as NULL.
    """
    wide = _wide_daily(spark, sf_dir)
    return (
        wide.unpivot(["day_ts"], list(EVENT_TYPES), "event_type", "sum_value")
        .filter(F.col("sum_value").isNotNull())
        .orderBy("day_ts", "event_type")
    )


SQL_EVENT_UNPIVOT = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts, event_type,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ({", ".join(f"'{t}'" for t in EVENT_TYPES)})
GROUP BY day_ts, event_type
HAVING SUM(CAST(value AS DECIMAL(18,4))) IS NOT NULL
ORDER BY day_ts, event_type
"""


def q_long_term_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/P4/O2: whitelist filter + per-key time ordering (one DataFrame).

    The IN-list pushes to the scan; ordering is the query's output
    contract (the reference materialized a dict of per-station frames —
    a pandas-ism replaced by one ordered frame).
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("user_id").isin(*USER_WHITELIST))
        .select("user_id", "ts", "event_id", "event_type", "value")
        .orderBy("user_id", "ts", "event_id")
    )


SQL_LONG_TERM_USERS = f"""
SELECT user_id, ts, event_id, event_type, value
FROM events
WHERE user_id IN ({', '.join(str(u) for u in USER_WHITELIST)})
ORDER BY user_id, ts, event_id
"""


def q_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-stage aggregate over the 5-value event_type key.

    Same result as a direct groupBy (the oracle) — the point is the plan:
    partials spread across 16 salt buckets before combining, so one hot
    key cannot pin a reducer at scale.
    """
    events = load_table(spark, sf_dir, "events")
    out = salted_agg(
        events,
        keys=["event_type"],
        aggs={
            "n_events": ("event_id", "count"),
            "sum_value": (F.col("value").cast("decimal(18,4)"), "sum"),
            "min_value": ("value", "min"),
            "max_value": ("value", "max"),
        },
        salt_col="event_id",
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    ).orderBy("event_type")


SQL_SALTED_ROLLUP = f"""
SELECT event_type,
       COUNT(event_id) AS n_events,
       {sql_dsum('value')} AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant dimension join via operators/skew.salted_join.

    Every event joins its type's global stats — a 5-value join key, the
    hot-key shape that pins reducers at scale. The salted join spreads
    each type over 16 buckets (big side salted on event_id, dimension
    replicated 16×); the oracle is the PLAIN join, so the hash proves
    salting is semantically invisible. Under this test corpus Catalyst
    broadcasts the tiny replicated side (also correct); the
    shuffle-spreading property itself is pinned with broadcast disabled
    in tests/test_skew.py.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.skew import (
        salted_join,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    type_stats = events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("type_total")
    )
    return (
        salted_join(events, type_stats, on=["event_type"], salt_col="event_id")
        .filter(F.col("event_id") % 97 == 0)
        .select("event_id", "event_type", "value", "type_total")
        .orderBy("event_id")
    )


SQL_SALTED_ENRICH = """
WITH ts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_total
  FROM events GROUP BY event_type
)
SELECT event_id, event_type, value, type_total
FROM events JOIN ts USING (event_type)
WHERE event_id % 97 = 0
ORDER BY event_id
"""


def q_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T5 end to end: run the real streaming pipeline, return the table.

    events (user_id < 5) are mapped to the observation shape, staged as a
    file-source stream, ingested through foreachBatch(clean → merge) with a
    checkpoint, and the resulting warehouse is returned. The oracle states
    the intended batch semantics — hour floor + keep-last per (key, hour) —
    so the comparison verifies the streaming path's *semantics*.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        read_json_file_stream,
        run_available,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        WarehouseTable,
    )

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    staged = events.select(
        F.col("user_id").cast("string").alias("station_id"),
        F.lit(None).cast("string").alias("station_name"),
        F.lit(None).cast("string").alias("latitude"),
        F.lit(None).cast("string").alias("longitude"),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("timestamp"),
        F.col("value").cast("string").alias("temperature"),
        F.lit(None).cast("string").alias("humidity"),
        F.lit(None).cast("string").alias("wind_speed"),
    )

    # Test-scale plumbing, not the production path: the e2e proof needs a
    # deterministic single-file staging drop for the file-source stream
    # (coalesce(1) + tempdir stand in for a Kafka topic). A deployment
    # points read_stream at Kafka and none of this block exists.
    workdir = tempfile.mkdtemp(prefix="streaming_ingest_q_")
    indir = os.path.join(workdir, "incoming")
    staged.coalesce(1).write.mode("overwrite").json(indir)
    warehouse = WarehouseTable(spark, os.path.join(workdir, "warehouse"))
    run_available(
        read_json_file_stream(spark, indir),
        warehouse,
        os.path.join(workdir, "ckpt"),
    )
    return materialized_result(
        warehouse.read()
        .select(
            "station_id",
            "timestamp",
            F.col("temperature").alias("value"),
        )
        .orderBy("station_id", "timestamp"),
        workdir,
    )


SQL_STREAMING_INGEST = """
SELECT CAST(user_id AS STRING) AS station_id,
       hour_ts AS "timestamp",
       value
FROM (
  SELECT user_id, date_trunc('hour', ts) AS hour_ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC) AS rn
  FROM events WHERE user_id < 5
) t
WHERE rn = 1
ORDER BY station_id, "timestamp"
"""


def q_event_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (§2.6): chosen aggregation levels only.

    (event_type), (day), and the grand total — unlike ROLLUP/CUBE this
    enumerates exactly the wanted levels, one pass, no cross-level
    explosion. ``F.grouping`` flags disambiguate genuine NULL keys from
    subtotal rows (grouping columns pre-projected — a computed alias
    inline in the grouping expression breaks ``F.grouping``).
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    return (
        events.groupingSets(
            [[F.col("event_type")], [F.col("day")], []],
            F.col("event_type"),
            F.col("day"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(dsum(F.col("value"), wide=True), 6).alias("sum_value"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
        )
        .orderBy("g_type", "g_day", "event_type", "day")
    )


SQL_EVENT_GROUPING_SETS = f"""
SELECT event_type, CAST(ts AS DATE) AS day,
       COUNT(*) AS n_events,
       round({sql_dsum('value', wide=True)}, 6) AS sum_value,
       CAST(GROUPING(event_type) AS INTEGER) AS g_type,
       CAST(GROUPING(CAST(ts AS DATE)) AS INTEGER) AS g_day
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
ORDER BY g_type, g_day, event_type, day
"""


def q_click_days_no_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (LEFT ANTI, §2.6): (user, day) cells with clicks but no
    purchase — the funnel-gap query.

    Executes as a hash anti-join on the composite (user_id, day) key —
    the NOT-EXISTS shape that at warehouse scale replaces a correlated
    subquery per row; both sides aggregate before joining so the join
    input is |user-days|, not |events|.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select("user_id", day)
        .distinct()
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", day
    )
    return clicks.join(purchases, ["user_id", "day"], "left_anti").orderBy(
        "user_id", "day"
    )


SQL_CLICK_DAYS_NO_PURCHASE = """
SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
FROM events
WHERE event_type = 'click'
  AND NOT EXISTS (
    SELECT 1 FROM events e2
    WHERE e2.user_id = events.user_id
      AND CAST(e2.ts AS DATE) = CAST(events.ts AS DATE)
      AND e2.event_type = 'purchase'
  )
ORDER BY user_id, day
"""


def q_user_day_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.6): INTERSECT / EXCEPT over two day cohorts.

    Users active on the dashboard day vs the following day: both days
    (INTERSECT), first-only and second-only (EXCEPT) — each a distinct
    set op that executes as an aggregate + join, counted into one row.
    """
    import datetime as dt

    from data_engineering_datawarehousingandetlpipeline_spark.plans.reference_queries import (
        DASHBOARD_DAY,
        day_bounds_utc,
    )

    events = load_table(spark, sf_dir, "events")
    s1, e1 = day_bounds_utc(DASHBOARD_DAY)
    s2, e2 = day_bounds_utc(DASHBOARD_DAY + dt.timedelta(days=1))
    d1 = events.filter(F.col("ts").between(s1, e1)).select("user_id").distinct()
    d2 = events.filter(F.col("ts").between(s2, e2)).select("user_id").distinct()
    nb = d1.intersect(d2).agg(F.count("*").alias("n_both"))
    nf = d1.exceptAll(d2).agg(F.count("*").alias("n_first_only"))
    ns = d2.exceptAll(d1).agg(F.count("*").alias("n_second_only"))
    return nb.crossJoin(nf).crossJoin(ns)


def _sql_overlap() -> str:
    import datetime as dt

    from data_engineering_datawarehousingandetlpipeline_spark.plans.reference_queries import (
        DASHBOARD_DAY,
        day_bounds_utc,
    )

    s1, e1 = day_bounds_utc(DASHBOARD_DAY)
    s2, e2 = day_bounds_utc(DASHBOARD_DAY + dt.timedelta(days=1))
    c1 = (f"SELECT DISTINCT user_id FROM events WHERE ts BETWEEN "
          f"TIMESTAMP '{s1}' AND TIMESTAMP '{e1}'")
    c2 = (f"SELECT DISTINCT user_id FROM events WHERE ts BETWEEN "
          f"TIMESTAMP '{s2}' AND TIMESTAMP '{e2}'")
    return f"""
SELECT
  (SELECT COUNT(*) FROM (({c1}) INTERSECT ({c2}))) AS n_both,
  (SELECT COUNT(*) FROM (({c1}) EXCEPT ({c2}))) AS n_first_only,
  (SELECT COUNT(*) FROM (({c2}) EXCEPT ({c1}))) AS n_second_only
"""


SQL_USER_DAY_OVERLAP = _sql_overlap()


def q_streaming_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2+T5 as a driver-verified query: the REAL streaming operator
    (withWatermark + tumbling window, streaming/stateful.py:windowed_stats)
    drained with ``availableNow`` into a memory sink.

    Complete output mode surfaces every window; with a single drain no
    row is late relative to the final watermark, so the oracle is the
    batch hour-window aggregate — the comparison proves the streaming
    aggregation's semantics equal the batch semantics (the decimal-
    anchored average makes the values micro-batch-split-independent).
    """
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.stateful import (
        windowed_stats,
    )

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    staged = events.select(
        "user_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts"),
        "value",
    )
    # test-scale plumbing (see q_streaming_ingest): a file drop stands in
    # for the Kafka topic so the identical streaming plan can run here.
    workdir = tempfile.mkdtemp(prefix="streaming_window_q_")
    indir = os.path.join(workdir, "incoming")
    staged.coalesce(1).write.mode("overwrite").json(indir)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).json(indir)
    return _drained_result(
        windowed_stats(stream, ts_col="ts", key_col="user_id", value_col="value"),
        "win_stats", "complete", ["window_start", "user_id"], workdir,
    )


SQL_STREAMING_WINDOW_STATS = f"""
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       user_id,
       COUNT(*) AS n_obs,
       round({sql_dsum('value', wide=True)} / COUNT(value), 6) AS avg_value,
       MAX(value) AS max_value
FROM events
WHERE user_id < 5
GROUP BY date_trunc('hour', ts), user_id
ORDER BY window_start, user_id
"""


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState gap sessions)
    as a driver-verified query.

    Events for user_id < 5 stream through
    streaming/stateful.py:stateful_sessions with an availableNow drain.
    Append mode emits only CLOSED sessions — the still-open last session
    per user lives in the state store — so the oracle is the batch
    lag/cumsum sessionization MINUS each user's final session. The
    comparison proves the cross-batch stateful operator computes the
    same sessions the batch window construction does.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.stateful import (
        stateful_sessions,
    )

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    staged = events.select(
        "user_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts"),
    )
    workdir = tempfile.mkdtemp(prefix="streaming_sessions_q_")
    indir = os.path.join(workdir, "incoming")
    staged.coalesce(1).write.mode("overwrite").json(indir)
    stream = spark.readStream.schema("user_id long, ts timestamp").json(indir)
    return _drained_result(
        stateful_sessions(stream, gap_seconds=SESSION_GAP_SECONDS),
        "sessions", "append", ["user_id", "session_start"], workdir,
    )


SESSION_GAP_SECONDS = 30 * 60

SQL_STREAMING_SESSIONS = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {SESSION_GAP_SECONDS} SECOND
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events WHERE user_id < 5
), numbered AS (
  SELECT user_id, ts,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
), sessions AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
         CAST(COUNT(*) AS INTEGER) AS n_events,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY MIN(ts) DESC) AS recency
  FROM numbered
  GROUP BY user_id, session_no
)
SELECT user_id, session_start, session_end, n_events
FROM sessions
WHERE recency > 1
ORDER BY user_id, session_start
"""


def q_asof_last_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click annotated with the user's latest prior error.

    The merge-scan as-of (operators/joins.py) — one shuffle on user_id, no
    inequality join — versus DuckDB's native ASOF LEFT JOIN as the oracle.
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = events.filter(F.col("event_type") == "error")
    return (
        joins.as_of_join(
            clicks,
            errors,
            on="user_id",
            ts_col="ts",
            right_value_cols={"ts": "last_error_ts", "value": "last_error_value"},
        )
        .select("event_id", "user_id", "ts", "last_error_ts", "last_error_value")
        .orderBy("event_id")
    )


SQL_ASOF_LAST_ERROR = """
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS last_error_ts, r.value AS last_error_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN
     (SELECT user_id, ts, value FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def q_nearby_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: clicks within ±5 min of each view, per user.

    The bucketed band join (operators/joins.py) turns the inequality join
    into an equi-join with ≤3× replication — the 100 TB-safe plan — while
    the oracle states it as a plain BETWEEN join.
    """
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click")
    paired = joins.band_join(
        views,
        clicks,
        on="user_id",
        ts_col="ts",
        band_seconds=300,
        other_cols={"event_id": "click_id"},
    )
    return (
        paired.groupBy("event_id")
        .agg(F.count("click_id").alias("n_nearby_clicks"))
        .orderBy("event_id")
    )


SQL_NEARBY_CLICKS = """
SELECT v.event_id, COUNT(c.event_id) AS n_nearby_clicks
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts BETWEEN v.ts - INTERVAL 5 MINUTE AND v.ts + INTERVAL 5 MINUTE
GROUP BY v.event_id
ORDER BY v.event_id
"""


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p50/p90/p99) over event values.

    ``percentile`` and DuckDB's ``quantile_cont`` share the same definition
    (linear interpolation at p·(n−1)); rounding to 6 dp guards the last
    interpolation bit. Exact quantiles sort each group — at warehouse scale
    the same query swaps in ``approx_percentile`` (t-digest sketch, one
    pass, mergeable) with an error budget instead of an oracle match.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


SQL_VALUE_QUANTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_user_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling frame aggregates (moving average + running count).

    The ROWS-frame window family (the surface's other window queries are
    row_number/lag shaped): a 3-row moving average and a cumulative event
    count per user, ordered by (ts, event_id) so frames are deterministic
    under ties. The moving sum is decimal-anchored inside the frame, so
    Spark and the oracle agree regardless of evaluation order. One shuffle
    on user_id; both windows share the same sort.
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w3 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.select(
            "user_id",
            "ts",
            "event_id",
            "value",
            F.round(
                F.sum(F.col("value").cast("decimal(27,8)")).over(w3).cast("double")
                / F.count("*").over(w3),
                6,
            ).alias("moving_avg3"),
            F.count("*").over(wc).alias("cum_events"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


SQL_USER_ROLLING_STATS = """
SELECT user_id, ts, event_id, value,
       round(CAST(CAST(SUM(CAST(value AS DECIMAL(27,8))) OVER w3 AS STRING) AS DOUBLE)
             / COUNT(*) OVER w3, 6) AS moving_avg3,
       COUNT(*) OVER wc AS cum_events
FROM events
WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       wc AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING)
ORDER BY user_id, ts, event_id
"""


SESSION_GAP = "30 minutes"


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates via the built-in ``session_window``.

    The batch use of Spark's native gap-session operator (the streaming
    twin is streaming/stateful.py:stateful_sessions). ``session_window``
    ends sessions at last-event + gap; the oracle restates the same
    semantics as a lag/cumsum window construction — the comparison proves
    the built-in matches the explicit SQL definition.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window(F.col("ts"), SESSION_GAP).alias("sw")
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


SQL_SESSION_STATS = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def q_value_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: per-type correlation of value vs hour-of-day.

    corr / covar_samp / stddev_samp share their textbook definitions with
    DuckDB; rounding to 6 dp absorbs accumulation-order float drift.
    """
    events = load_table(spark, sf_dir, "events")
    hour = F.hour(F.col("ts")).cast("double")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.corr(F.col("value"), hour), 6).alias("corr_value_hour"),
            F.round(F.covar_samp(F.col("value"), hour), 6).alias("covar_value_hour"),
            F.round(F.stddev_samp("value"), 6).alias("stddev_value"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


SQL_VALUE_CORRELATIONS = """
SELECT event_type,
       round(corr(value, CAST(hour(ts) AS DOUBLE)), 6) AS corr_value_hour,
       round(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 6) AS covar_value_hour,
       round(stddev_samp(value), 6) AS stddev_value,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


EDIT_DISTANCE_DOCS = 20


def q_doc_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Levenshtein distance over a bounded candidate set.

    Edit distance is O(len²) per pair — it is always the LAST dedup rung,
    run on a small candidate set that cheaper detectors (hashing, LSH)
    already shortlisted; the doc_id bound stands in for that shortlist.
    Integer output → exact cross-engine match.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < EDIT_DISTANCE_DOCS
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("text_a"), F.col("text_b")).alias("edit_distance"),
        )
        .orderBy("doc_a", "doc_b")
    )


SQL_DOC_EDIT_DISTANCE = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS edit_distance
FROM documents a
JOIN documents b ON a.doc_id < b.doc_id
WHERE a.doc_id < {EDIT_DISTANCE_DOCS} AND b.doc_id < {EDIT_DISTANCE_DOCS}
ORDER BY doc_a, doc_b
"""


#: HLL relative standard deviation (tighter than the 0.05 default so the
#: 5 % cardinality contract below is ~5σ wide) and the quantile-sketch
#: rank-error budget: approx_percentile guarantees rank error ≤
#: n/accuracy, so the verifiable contract is RANK-based (a value-space
#: tolerance is distribution-dependent — sparse tails break it).
SKETCH_HLL_RSD = 0.01
SKETCH_HLL_TOLERANCE = 0.05
SKETCH_PCT_ACCURACY = 10000
SKETCH_QUANTILES = (0.5, 0.9, 0.99)


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximations: the one-pass mergeable scale path.

    HyperLogLog distinct counts and quantile sketches replace their exact
    twins (`distinct_counts`, `value_quantiles`) when a full sort or exact
    distinct set no longer fits the shuffle budget — both sketches merge
    associatively across partitions, so cost is one scan regardless of
    cardinality.

    Sketch estimates are engine-specific, so raw estimates can never
    hash-match a DuckDB oracle. The driver-verifiable contract instead:
    emit the EXACT portable aggregates plus booleans asserting each sketch
    met its error bound — HLL within 5 % of the exact distinct count, and
    each approx quantile within its guaranteed RANK window (the fraction
    of values ≤/< the estimate brackets q ± (1/accuracy + 2/n)); the
    oracle emits the same exact values and TRUE literals. A hash match
    therefore proves the exact aggregates AND every sketch bound. Both
    sketches are deterministic functions of the data (no RNG), so the
    booleans are replay-stable. The rank check re-joins the estimates
    (5 broadcast rows) against the events scan — that second pass is the
    verification harness, not the production sketch path (which is the
    single groupBy scan).
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    qarr = ", ".join(str(q) for q in SKETCH_QUANTILES)
    # NOT pinned (r17 measured-and-rejected): the sketch aggregate feeds
    # both the rank-verification broadcast and the final output join, so
    # a localCheckpoint pin looks like the standard duplicate-subtree
    # fix — but the alternating A/B measured the PIN slower (3.1 → 4.1 s
    # at sf0.1): the duplicated subtree is an aggregate that collapses to
    # one row per event type inside the same job, and the checkpoint's
    # blocking materialization barrier costs more than the second
    # 5-row-output aggregation it saves.
    sketched = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.expr(f"approx_count_distinct(user_id, {SKETCH_HLL_RSD})").alias(
            "hll_users"
        ),
        F.expr(
            f"approx_percentile(value, array({qarr}), {SKETCH_PCT_ACCURACY})"
        ).alias("pap"),
        F.count("value").alias("n_vals"),
        F.count("*").alias("n_events"),
    )
    ranked = events.join(F.broadcast(sketched), "event_type").groupBy(
        "event_type"
    ).agg(
        *[
            agg
            for i in range(len(SKETCH_QUANTILES))
            for agg in (
                F.sum(
                    F.when(F.col("value") <= F.col("pap")[i], 1).otherwise(0)
                ).alias(f"le{i}"),
                F.sum(
                    F.when(F.col("value") < F.col("pap")[i], 1).otherwise(0)
                ).alias(f"lt{i}"),
            )
        ]
    )
    eps = F.lit(1.0 / SKETCH_PCT_ACCURACY) + F.lit(2.0) / F.col("n_vals")

    def rank_ok(i: int, q: float):
        # estimate's rank window must bracket q: enough values at or below
        # it, not too many strictly below it. NULL estimate (all-NULL
        # group) verifies vacuously.
        return F.coalesce(
            (F.col(f"le{i}") / F.col("n_vals") >= F.lit(q) - eps)
            & (F.col(f"lt{i}") / F.col("n_vals") <= F.lit(q) + eps),
            F.lit(True),
        )

    hll_ok = (
        F.abs(F.col("hll_users").cast("double") - F.col("exact_users"))
        <= F.greatest(F.col("exact_users"), F.lit(1)).cast("double")
        * SKETCH_HLL_TOLERANCE
    )
    return (
        sketched.join(ranked, "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_events",
            hll_ok.alias("hll_within_5pct"),
            rank_ok(0, 0.5).alias("p50_rank_ok"),
            rank_ok(1, 0.9).alias("p90_rank_ok"),
            rank_ok(2, 0.99).alias("p99_rank_ok"),
        )
        .orderBy("event_type")
    )


SQL_APPROX_SKETCHES = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events,
       TRUE AS hll_within_5pct,
       TRUE AS p50_rank_ok,
       TRUE AS p90_rank_ok,
       TRUE AS p99_rank_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


#: streaming contract runs the user_id < 8 slice sharded 3 ways on
#: event_id — small enough for a driver-verifiable e2e drain, large
#: enough that every batch counts real violations.
STREAM_CONTRACT_PRED = "user_id < 8"
STREAM_CONTRACT_SHARDS = 3


def q_streaming_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch data-contract reports from the streaming monitor.

    The events slice is staged as three ``event_id % 3`` shards with
    increasing mtimes (the Kafka stand-in), drained one file per
    micro-batch through ``streaming/pipeline.start_contract_monitor``
    with a contract the corpus genuinely violates — values capped at 100
    (real max ~490) and an event-type whitelist that excludes ``error``
    — plus two checks it satisfies (value NOT NULL, event_id unique per
    batch). The oracle recomputes every (batch, check) violation count
    from the batch grouping ``event_id % 3``, so the comparison proves
    the monitor's per-epoch reports equal the declared per-batch
    semantics — and the idempotent ``batch_id=<epoch>`` partition writes
    mean a checkpoint replay could not have double-counted.
    """
    import glob
    import shutil

    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        expectations as X,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_contract_monitor,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.expr(STREAM_CONTRACT_PRED)
    )
    staged = events.select("event_id", "user_id", "event_type", "value")
    # TEST-SCALE ONLY staging (the q_streaming_scd2 convention): modular
    # shards as single files with forced increasing mtimes so the file
    # source's (mtime, path) order maps epoch i to shard i.
    workdir = tempfile.mkdtemp(prefix="streaming_contract_q_")
    indir = os.path.join(workdir, "incoming")
    os.makedirs(indir)
    for i in range(STREAM_CONTRACT_SHARDS):
        shard_dir = os.path.join(workdir, f"shard{i}")
        staged.filter(
            F.col("event_id") % STREAM_CONTRACT_SHARDS == i
        ).coalesce(1).write.mode("overwrite").json(shard_dir)
        (part,) = glob.glob(os.path.join(shard_dir, "part-*.json"))
        dest = os.path.join(indir, f"shard{i}.json")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(indir)
    )
    out_dir = os.path.join(workdir, "contract_log")
    query = start_contract_monitor(
        stream,
        out_dir,
        os.path.join(workdir, "ckpt"),
        checks=[
            X.not_null("value"),
            X.accepted_range("value", 0.0, 100.0),
            X.accepted_values(
                "event_type", ["click", "purchase", "signup", "view"]
            ),
        ],
        unique_key=["event_id"],
        available_now=True,
    )
    query.awaitTermination()
    return materialized_result(
        spark.read.parquet(out_dir)
        .select(
            F.col("batch_id").cast("int").alias("batch_id"),
            "check",
            "n_violations",
            "passed",
        )
        .orderBy("batch_id", "check"),
        workdir,
    )


SQL_STREAMING_CONTRACT = f"""
WITH src AS (
  SELECT CAST(event_id % {STREAM_CONTRACT_SHARDS} AS INT) AS batch_id,
         event_id, event_type, value
  FROM events WHERE {STREAM_CONTRACT_PRED}
), agg AS (
  SELECT batch_id,
    SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS not_null_value,
    SUM(CASE WHEN value IS NOT NULL
              AND value NOT BETWEEN 0.0 AND 100.0 THEN 1 ELSE 0 END)
      AS range_value,
    SUM(CASE WHEN event_type IS NOT NULL
              AND event_type NOT IN ('click', 'purchase', 'signup', 'view')
             THEN 1 ELSE 0 END) AS values_event_type,
    COUNT(*) - COUNT(DISTINCT event_id) AS unique_event_id
  FROM src GROUP BY batch_id
), checks AS (
  SELECT batch_id, 'not_null_value' AS check, not_null_value AS n FROM agg
  UNION ALL SELECT batch_id, 'range_value', range_value FROM agg
  UNION ALL SELECT batch_id, 'values_event_type', values_event_type FROM agg
  UNION ALL SELECT batch_id, 'unique_event_id', unique_event_id FROM agg
)
SELECT batch_id, "check", CAST(n AS BIGINT) AS n_violations,
       n = 0 AS passed
FROM checks ORDER BY batch_id, "check"
"""


#: value-banded staging for the skipping query: each append carries one
#: band, so every data file's recorded [min, max] is one band wide and
#: the probe range prunes all but one file.
SKIP_BANDS = ((0.0, 100.0), (100.0, 200.0), (200.0, 500.0))
SKIP_PROBE = (120.0, 180.0)


def q_warehouse_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping, driver-verified end to end.

    The events slice (user_id < 5) lands in a temp warehouse as three
    value-banded appends (so each file spans one band — the layout
    Z-order compaction produces organically), ``analyze_file_stats``
    records the per-file manifest in ONE scan, and the probe range
    [120, 180] is answered through ``read_skipping`` — which the
    construction ASSERTS opened strictly fewer files than the table
    holds (the skipping must actually happen, not just not break). The
    oracle is the plain predicate over the source events: proof that
    manifest pruning removed IO, never rows.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse import (
        skipping as S,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        WarehouseTable,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < 5
    ).select("event_id", "user_id", "ts", "value")
    # TEST-SCALE ONLY staging (the q_streaming_ingest convention): a
    # tempdir warehouse stands in for the lakehouse table maintenance
    # already Z-ordered. A deployment calls analyze_file_stats /
    # read_skipping against its real table root.
    workdir = tempfile.mkdtemp(prefix="skipping_q_")
    wh = WarehouseTable(
        spark, os.path.join(workdir, "wh"), keys=["event_id"], ts_col="ts"
    )
    for lo, hi in SKIP_BANDS:
        band = events.filter(
            (F.col("value") >= lo) & (F.col("value") < hi)
        ).coalesce(1)
        wh.append(band, verify=False)
    S.analyze_file_stats(wh, ["value"])
    lo, hi = SKIP_PROBE
    read, skipped = S.select_files(wh, "value", lo, hi)
    if not skipped:
        raise AssertionError(
            f"manifest failed to prune: read={read} skipped={skipped}"
        )
    return materialized_result(
        S.read_skipping(wh, "value", lo, hi)
        .select("event_id", "user_id", "value")
        .orderBy("event_id"),
        workdir,
    )


SQL_WAREHOUSE_SKIPPING_SCAN = f"""
SELECT event_id, user_id, value
FROM events
WHERE user_id < 5 AND value BETWEEN {SKIP_PROBE[0]} AND {SKIP_PROBE[1]}
ORDER BY event_id
"""


def q_sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows: hourly purchase stats every 15 minutes.

    The overlapping-window surface (``F.window(ts, '1 hour', '15
    minutes')``): each event lands in exactly window/slide = 4 windows,
    which Spark executes as a 4-way Expand feeding ONE aggregate — never
    a self-join of four shifted tumbling rollups, and at 100 TB the
    fan-out factor is the fixed window/slide ratio, not data-dependent.
    The oracle states the same assignment arithmetically: the 4 grid
    starts covering each event via a constant-width CROSS JOIN on
    k ∈ 0..3 (both engines' buckets are epoch-aligned; the session zone
    is whole-hour offset so the 15-minute grids coincide).
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_purchases"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_purchases",
            "total_value",
        )
        .orderBy("window_start")
    )


SQL_SLIDING_WINDOW_STATS = f"""
SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
         AS window_start,
       time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
         + INTERVAL 1 HOUR AS window_end,
       COUNT(*) AS n_purchases,
       {sql_dsum('value')} AS total_value
FROM events
CROSS JOIN (VALUES (0), (1), (2), (3)) AS grid(k)
WHERE event_type = 'purchase'
GROUP BY 1, 2
ORDER BY window_start
"""


def q_warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel + row-level DELETE, driver-verified end to end.

    The events slice lands in a version-tracked temp warehouse (v1), a
    correction feed REPLACES user 1's values (v2, ``merge_replace``),
    and user 2 is erased (v3, ``delete_where`` — the GDPR shape). The
    query returns ``read_as_of(1)``: the pre-correction, pre-erasure
    table, read THROUGH the retained-hardlink mirror because both later
    operations rewrote the very files v1 references. The oracle is the
    plain source slice — proof that time travel reconstructs history
    exactly, not just that versions exist. The construction additionally
    asserts v2 applied the correction and v3 equals the current read
    (erasure complete).
    """
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        WarehouseTable,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < 5
    ).select("event_id", "user_id", "ts", "value")
    # TEST-SCALE ONLY staging (the q_streaming_ingest convention): a
    # tempdir warehouse stands in for the lakehouse table.
    workdir = tempfile.mkdtemp(prefix="time_travel_q_")
    wh = WarehouseTable(
        spark, os.path.join(workdir, "wh"), keys=["event_id"],
        ts_col="ts", track_versions=True,
    )
    wh.append(events, verify=False)                                   # v1
    corrections = events.filter(F.col("user_id") == 1).withColumn(
        "value", F.col("value") * 2
    )
    wh.merge_replace(corrections)                                     # v2
    wh.delete_where(F.col("user_id") == 2)                            # v3
    if wh.read().filter(F.col("user_id") == 2).count() != 0:
        raise AssertionError("erasure incomplete: user 2 rows remain")
    def _u1_sum(df: DataFrame) -> float:
        return (
            df.filter(F.col("user_id") == 1)
            .agg(F.sum("value").alias("s")).first()["s"]
        ) or 0.0

    v1_sum, v2_sum = _u1_sum(wh.read_as_of(1)), _u1_sum(wh.read_as_of(2))
    if abs(v2_sum - 2 * v1_sum) > 1e-6 * max(abs(v1_sum), 1.0):
        raise AssertionError(
            f"v2 correction not applied: {v2_sum} != 2 * {v1_sum}"
        )
    return materialized_result(
        wh.read_as_of(1)
        .select("event_id", "user_id", "ts", "value")
        .orderBy("event_id"),
        workdir,
    )


SQL_WAREHOUSE_TIME_TRAVEL = """
SELECT event_id, user_id, ts, value
FROM events
WHERE user_id < 5
ORDER BY event_id
"""


def q_warehouse_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version change data feed, driver-verified.

    Same staged lifecycle as ``warehouse_time_travel`` (append → correct
    → erase), but the returned surface is ``changes_between(1, 3)`` —
    the Delta ``table_changes()`` analogue: every user-1 row classifies
    as an UPDATE carrying old and new values, every user-2 row as a
    DELETE, everything untouched is absent. The oracle derives the same
    feed straight from the source slice, so the comparison proves the
    version diff reconstructs exactly the mutations that were applied —
    the audit surface a correction pipeline replays to downstreams.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        WarehouseTable,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < 5
    ).select("event_id", "user_id", "ts", "value")
    # TEST-SCALE ONLY staging (the q_streaming_ingest convention).
    workdir = tempfile.mkdtemp(prefix="change_feed_q_")
    wh = WarehouseTable(
        spark, os.path.join(workdir, "wh"), keys=["event_id"],
        ts_col="ts", track_versions=True,
    )
    wh.append(events, verify=False)                                   # v1
    wh.merge_replace(
        events.filter(F.col("user_id") == 1).withColumn(
            "value", F.col("value") * 2
        )
    )                                                                 # v2
    wh.delete_where(F.col("user_id") == 2)                            # v3
    return materialized_result(
        wh.changes_between(1, 3, compare_cols=["value"])
        .select(
            "event_id",
            "op",
            F.round("old_value", 6).alias("old_value"),
            F.round("new_value", 6).alias("new_value"),
        )
        .orderBy("event_id"),
        workdir,
    )


SQL_WAREHOUSE_CHANGE_FEED = """
SELECT event_id, 'update' AS op,
       round(value, 6) AS old_value,
       round(value * 2, 6) AS new_value
FROM events
WHERE user_id = 1 AND value <> 0
UNION ALL
SELECT event_id, 'delete' AS op,
       round(value, 6) AS old_value,
       CAST(NULL AS DOUBLE) AS new_value
FROM events
WHERE user_id = 2
ORDER BY event_id
"""


def q_warehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE rung, driver-verified (r15): fragment a table the way
    micro-batch ingestion does, bin-pack it with
    ``WarehouseTable.compact_partitions`` (Delta/Iceberg
    ``OPTIMIZE`` / ``rewriteDataFiles`` analogue, reference has no
    maintenance story — its BigQuery tables compact themselves), and
    prove the maintenance contract end to end:

    - physical assertions raised IN the query (the q_warehouse_time_travel
      convention): file count strictly drops, every rewritten partition
      lands exactly at its bin-packed goal and is audit-logged with its
      true before-count, untouched partitions were already at goal, and a
      RE-RUN is a no-op (idempotent maintenance — the property that lets
      a scheduler fire it blindly);
    - the cross-engine hash proves the rewrite is CONTENT-PRESERVING: the
      returned per-partition profile (rows / distinct keys / anchored
      value sum) is read from the table AFTER compaction, while the
      oracle recomputes it from the raw events the table was built from.

    At 100 TB the driver-side loop is over date partitions (bounded by
    retention), each rewrite is partition-local, and cost scales with the
    partitions ingestion actually fragmented — see compact_partitions'
    docstring; a transactional table format swaps in at the write, not
    the call site.
    """
    import math

    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        WarehouseTable,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < 5
    ).select("event_id", "user_id", "ts", "value")
    # TEST-SCALE ONLY staging (the q_streaming_ingest convention): four
    # interleaved appends fragment every dt partition into several small
    # files, exactly what per-trigger micro-batch sinks do to a table.
    workdir = tempfile.mkdtemp(prefix="compaction_q_")
    wh = WarehouseTable(
        spark, os.path.join(workdir, "wh"), keys=["event_id"], ts_col="ts"
    )
    for k in range(4):
        wh.append(
            events.filter(F.col("event_id") % 4 == k).repartition(2),
            verify=False,
        )

    target_file_rows = 1_000_000_000  # bin-packed goal: one file per day
    pre = wh.partition_file_counts()
    rewritten = wh.compact_partitions(target_file_rows)
    post = wh.partition_file_counts()

    # --- physical contract (loud, not returned) -------------------------
    if sum(post.values()) >= sum(pre.values()):
        raise AssertionError(
            f"compaction did not shrink the table: {pre} -> {post}"
        )
    log_rows = {
        r.partition: r
        for r in wh.maintenance_log()
        .filter(
            (F.col("op") == "compact_partitions")
            & F.col("partition").isNotNull()
            & (F.col("files_after") > 0)
        )
        .collect()
    }
    if set(log_rows) != {d for d in pre if pre[d] != post[d]}:
        raise AssertionError("audit log disagrees with rewritten partitions")
    for day, n_pre in pre.items():
        if day in log_rows:
            entry = log_rows[day]
            goal = max(1, math.ceil(entry.n_rows / target_file_rows))
            if not (
                entry.files_before == n_pre
                and post[day] == entry.files_after == goal < n_pre
            ):
                raise AssertionError(f"bad rewrite accounting for {day}")
        elif n_pre != post[day]:
            raise AssertionError(
                f"partition {day} changed file count ({n_pre} -> "
                f"{post[day]}) with no audit row"
            )
        elif n_pre > 1:
            raise AssertionError(
                f"partition {day} left fragmented ({n_pre} files) but "
                "was not rewritten or logged"
            )
    if rewritten == 0 or wh.compact_partitions(target_file_rows) != 0:
        raise AssertionError("compaction must rewrite once, then no-op")

    # --- content preservation (the cross-engine half) -------------------
    return materialized_result(
        wh.read()
        .groupBy("dt")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("event_id").alias("n_events"),
            F.round(dsum(F.col("value")), 6).alias("value_sum"),
        )
        .orderBy("dt"),
        workdir,
    )


SQL_WAREHOUSE_COMPACTION = f"""
SELECT CAST(ts AS DATE) AS dt,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_events,
       round({sql_dsum('value')}, 6) AS value_sum
FROM events
WHERE user_id < 5
GROUP BY 1
ORDER BY dt
"""


def q_warehouse_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout co-located join, driver-verified (r16 debut): the
    write-once-shuffle-never property of ``warehouse/bucketing.py``
    proven end to end on the warehouse's hottest join shape
    (orders ⋈ lineitem — the star-join pair that dominates the TPC-H
    tier, SURVEY §2.6; the reference delegates this layout decision to
    BigQuery clustering, here it is explicit and plan-gated).

    Both sides are STAGED as hash-bucketed, bucket-sorted external
    tables on the join key (``bucketBy``+``sortBy``, one file per
    bucket), then joined via ``co_located_join`` under a disabled
    broadcast threshold — the no-dim-fits-in-memory regime of a real
    100 TB warehouse. The physical contract is asserted loudly IN the
    query (the warehouse_compaction convention): the join plan must be
    a SortMergeJoin with NO Exchange on either side (co-location comes
    from the bucket layout, written once) and NO per-query Sort (the
    bucket files are pre-sorted runs). The driver's cross-engine hash
    then proves the bucketed layout is CONTENT-PRESERVING: the returned
    per-priority revenue profile is computed THROUGH the bucketed
    tables, while the oracle recomputes it from the raw parquet.

    At 100 TB: the bucketed write pays the orders/lineitem shuffle once
    at load time; every subsequent join or aggregation on the bucket
    key — the daily star-join workload — reads co-located buckets and
    shuffles only its (tiny) final aggregate. Bucket count scales with
    the cluster (buckets ≥ executor cores keeps all cores fed); the
    staging here is test-scale plumbing, a production warehouse writes
    the bucketed layout at ingestion.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.bucketing import (
        co_located_join,
        write_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    items = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    workdir = tempfile.mkdtemp(prefix="bucketed_join_q_")
    tag = uuid.uuid4().hex[:8]
    t_orders, t_items = f"bj_orders_{tag}", f"bj_items_{tag}"
    n_buckets = 8
    saved = {
        key: spark.conf.get(key, None)
        for key in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.legacy.bucketedTableScan.outputOrdering",
        )
    }
    try:
        write_bucketed(
            orders, t_orders, bucket_col="orderkey", n_buckets=n_buckets,
            sort_cols=("orderkey",), path=os.path.join(workdir, "orders"),
        )
        write_bucketed(
            items, t_items, bucket_col="orderkey", n_buckets=n_buckets,
            sort_cols=("orderkey",), path=os.path.join(workdir, "items"),
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # exploiting sortBy order at scan time is legacy-gated since
        # Spark 3.0 (valid only with one file per bucket — which
        # write_bucketed enforces)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        joined = co_located_join(spark, t_items, t_orders, on="orderkey")
        # --- physical contract (loud, not returned): gate the BUILDER
        # frame — the returned result is a pinned checkpoint scan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise AssertionError(
                f"bucketed join planned an Exchange:\n{plan}"
            )
        if "SortMergeJoin" not in plan:
            raise AssertionError(f"expected a SortMergeJoin:\n{plan}")
        if "Sort " in plan.replace("SortMergeJoin", ""):
            raise AssertionError(
                f"bucket-sorted layout still planned a Sort:\n{plan}"
            )
        return materialized_result(
            joined.groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.countDistinct("orderkey").alias("n_orders"),
                F.round(
                    dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    6,
                ).alias("revenue"),
            )
            .orderBy("o_orderpriority"),
            workdir,
        )
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
        for t in (t_orders, t_items):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


SQL_WAREHOUSE_BUCKETED_JOIN = f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       round({sql_dsum('l.l_extendedprice * (1 - l.l_discount)')}, 6)
         AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment, driver-verified: each event on
    the stream picks up its user's lifetime profile from a broadcast
    batch dimension.

    The everyday production streaming join (facts stream, dimensions
    don't): stateless, watermark-free, shuffle-free — the profile
    broadcasts into every micro-batch and rows leave the batch they
    arrived in. LEFT OUTER so a user absent from the dimension would
    survive with NULLs rather than silently dropping (pytest pins that
    contract; in this corpus every user has a profile, which is what
    lets the oracle state the plain batch join).
    """
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.joins import (
        enrich_stream,
    )

    events = load_table(spark, sf_dir, "events")
    profile = events.groupBy("user_id").agg(
        dsum("value").alias("lifetime_value"),
        F.count("*").alias("n_user_events"),
    )
    staged = events.filter(F.col("user_id") < 20).select(
        "event_id",
        "user_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts"),
        "value",
    )
    # TEST-SCALE ONLY staging (q_streaming_ingest convention).
    workdir = tempfile.mkdtemp(prefix="streaming_enrich_q_")
    indir = os.path.join(workdir, "incoming")
    staged.coalesce(1).write.mode("overwrite").json(indir)
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).json(indir)
    enriched = enrich_stream(stream, profile, ["user_id"]).select(
        "event_id", "user_id", "value", "lifetime_value", "n_user_events"
    )
    return _drained_result(enriched, "enrich", "append", ["event_id"], workdir)


SQL_STREAMING_ENRICH = f"""
SELECT e.event_id, e.user_id, e.value,
       p.lifetime_value, p.n_user_events
FROM events e
LEFT JOIN (
  SELECT user_id,
         {sql_dsum('value')} AS lifetime_value,
         COUNT(*) AS n_user_events
  FROM events GROUP BY user_id
) p USING (user_id)
WHERE e.user_id < 20
ORDER BY event_id
"""


#: attribution horizon for the stream-stream join query (1 hour).
ATTRIBUTION_HORIZON_S = 3600


def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, driver-verified: purchases attributed
    to same-user clicks within the preceding hour.

    Both sides are views of ONE staged event stream (clicks filter /
    purchases filter) flowing through
    ``streaming/joins.py:attribution_join`` — a watermarked event-time
    interval join whose state the engine bounds to the horizon. The drain
    is a single micro-batch, so no row is late relative to the watermark
    and the inner join finds every pair; the oracle states the identical
    batch self-join. The comparison proves the streaming join implements
    the declared interval semantics (the integral ``gap_us`` pins the
    time arithmetic cross-engine).
    """
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.joins import (
        attribution_join,
    )

    events = load_table(spark, sf_dir, "events")
    staged = events.select(
        "event_id",
        "user_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts"),
        "event_type",
    )
    # TEST-SCALE ONLY staging (q_streaming_ingest convention): a file drop
    # stands in for the two Kafka topics; production passes real streams.
    workdir = tempfile.mkdtemp(prefix="streaming_attr_q_")
    indir = os.path.join(workdir, "incoming")
    staged.coalesce(1).write.mode("overwrite").json(indir)
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    stream = spark.readStream.schema(schema).json(indir)
    pairs = attribution_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        horizon_seconds=ATTRIBUTION_HORIZON_S,
    )
    return _drained_result(
        pairs, "attr", "append", ["purchase_id", "click_id"], workdir
    )


SQL_STREAMING_ATTRIBUTION = f"""
SELECT p.event_id AS purchase_id,
       p.user_id,
       p.ts AS purchase_ts,
       c.event_id AS click_id,
       c.ts AS click_ts,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL {ATTRIBUTION_HORIZON_S} SECOND
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
ORDER BY purchase_id, click_id
"""


QUERIES = [
    QuerySpec("pivot_daily", q_pivot_daily, SQL_PIVOT_DAILY,
              "pivot: daily totals per event type", tags=("pivot", "agg")),
    QuerySpec("event_unpivot", q_event_unpivot, SQL_EVENT_UNPIVOT,
              "unpivot/melt: wide daily matrix back to long form, "
              "round-trip-proven against the direct aggregation",
              tags=("pivot", "agg")),
    QuerySpec("long_term_users", q_long_term_users, SQL_LONG_TERM_USERS,
              "whitelist + per-key time order (A3/P4/O2)", tags=("filter", "sort")),
    QuerySpec("salted_enrich", q_salted_enrich, SQL_SALTED_ENRICH,
              "skew-resistant dimension join (big side salted, small side "
              "replicated), oracle = the plain join"),
    QuerySpec("salted_rollup", q_salted_rollup, SQL_SALTED_ROLLUP,
              "skew-resistant two-stage salted aggregation", tags=("agg", "skew")),
    QuerySpec("streaming_ingest", q_streaming_ingest, SQL_STREAMING_INGEST,
              "Structured Streaming ingest verified against batch semantics",
              tags=("streaming", "warehouse")),
    QuerySpec("event_grouping_sets", q_event_grouping_sets,
              SQL_EVENT_GROUPING_SETS,
              "explicit GROUPING SETS levels with grouping flags (§2.6)",
              tags=("agg", "setop")),
    QuerySpec("click_days_no_purchase", q_click_days_no_purchase,
              SQL_CLICK_DAYS_NO_PURCHASE,
              "LEFT ANTI join: click-days with no purchase (§2.6)",
              tags=("join",)),
    QuerySpec("user_day_overlap", q_user_day_overlap, SQL_USER_DAY_OVERLAP,
              "INTERSECT/EXCEPT day-cohort overlap counts (§2.6)",
              tags=("setop",)),
    QuerySpec("streaming_window_stats", q_streaming_window_stats,
              SQL_STREAMING_WINDOW_STATS,
              "watermarked tumbling-window agg (T2/T5) drained availableNow",
              tags=("streaming", "window")),
    QuerySpec("streaming_sessions", q_streaming_sessions, SQL_STREAMING_SESSIONS,
              "applyInPandasWithState gap sessions vs batch-window oracle",
              tags=("streaming", "state")),
    QuerySpec("asof_last_error", q_asof_last_error, SQL_ASOF_LAST_ERROR,
              "merge-scan as-of join vs native ASOF JOIN oracle",
              bench=True, tags=("join", "timeseries")),
    QuerySpec("nearby_clicks", q_nearby_clicks, SQL_NEARBY_CLICKS,
              "bucketed banded range join (±5 min)", bench=True,
              tags=("join", "timeseries")),
    QuerySpec("user_rolling_stats", q_user_rolling_stats, SQL_USER_ROLLING_STATS,
              "ROWS-frame windows: 3-row moving average + running count",
              tags=("window",)),
    QuerySpec("value_quantiles", q_value_quantiles, SQL_VALUE_QUANTILES,
              "exact per-group quantiles (approx_percentile at scale)",
              bench=True, tags=("agg",)),
    QuerySpec("session_stats", q_session_stats, SQL_SESSION_STATS,
              "built-in session_window aggregates vs lag/cumsum oracle",
              bench=True, tags=("agg", "timeseries")),
    QuerySpec("value_correlations", q_value_correlations, SQL_VALUE_CORRELATIONS,
              "corr/covar/stddev statistical aggregates", tags=("agg",)),
    QuerySpec("doc_edit_distance", q_doc_edit_distance, SQL_DOC_EDIT_DISTANCE,
              "Levenshtein over a shortlisted candidate set", tags=("dedup", "text")),
    QuerySpec("approx_sketches", q_approx_sketches, SQL_APPROX_SKETCHES,
              "HLL distinct + t-digest percentiles: exact values + "
              "within-tolerance booleans (hash-verifiable sketch contract)",
              tags=("agg", "sketch")),
    QuerySpec("streaming_contract", q_streaming_contract,
              SQL_STREAMING_CONTRACT,
              "per-micro-batch data-contract reports (streaming "
              "expectations monitor), oracle = per-shard recomputation",
              tags=("streaming", "quality")),
    QuerySpec("warehouse_skipping_scan", q_warehouse_skipping_scan,
              SQL_WAREHOUSE_SKIPPING_SCAN,
              "file-level data skipping: manifest-pruned range read with "
              "an in-construction pruning assertion, oracle = plain "
              "predicate",
              tags=("warehouse", "scan")),
    QuerySpec("streaming_attribution", q_streaming_attribution,
              SQL_STREAMING_ATTRIBUTION,
              "watermarked stream-stream interval join (click→purchase "
              "attribution), oracle = the batch self-join",
              tags=("streaming", "join")),
    QuerySpec("warehouse_time_travel", q_warehouse_time_travel,
              SQL_WAREHOUSE_TIME_TRAVEL,
              "time travel through rewrites (merge_replace + delete_where "
              "erasure): read_as_of(1) via the retained-hardlink mirror, "
              "oracle = the plain source slice",
              tags=("warehouse", "dml")),
    QuerySpec("sliding_window_stats", q_sliding_window_stats,
              SQL_SLIDING_WINDOW_STATS,
              "sliding event-time windows (1 h every 15 min): 4-way "
              "Expand into one aggregate, oracle = constant grid join",
              tags=("window", "agg")),
    QuerySpec("streaming_enrich", q_streaming_enrich, SQL_STREAMING_ENRICH,
              "stream-static broadcast dimension enrichment (stateless, "
              "shuffle-free), oracle = the plain batch join",
              tags=("streaming", "join")),
    QuerySpec("warehouse_change_feed", q_warehouse_change_feed,
              SQL_WAREHOUSE_CHANGE_FEED,
              "version-to-version change data feed (table_changes "
              "analogue): update/delete classification with old/new "
              "values, oracle = the mutations derived from the source",
              tags=("warehouse", "dml", "cdc")),
    QuerySpec("warehouse_compaction", q_warehouse_compaction,
              SQL_WAREHOUSE_COMPACTION,
              "partition-granular OPTIMIZE: bin-pack fragmented "
              "partitions with audit log, idempotence and "
              "content-preservation proven (rewrite verified against the "
              "raw source cross-engine)",
              tags=("warehouse", "maintenance")),
    QuerySpec("warehouse_bucketed_join", q_warehouse_bucketed_join,
              SQL_WAREHOUSE_BUCKETED_JOIN,
              "bucketed-layout co-located star join (orders ⋈ lineitem): "
              "SortMergeJoin with no Exchange and no Sort, plan-gated "
              "in-query, content proven cross-engine",
              tags=("warehouse", "join", "layout")),
]
