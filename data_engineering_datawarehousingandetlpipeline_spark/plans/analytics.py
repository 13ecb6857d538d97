"""Warehouse analytics over the star schema (joins / aggs / sorts / windows).

The reference delegates all analytical SQL to BigQuery (SURVEY.md §3.3);
this module is the engine that replaces it. The queries exercise the
operator families the driver's TPC-H-ish corpus is built for — grouped
aggregation, multi-way joins with broadcast dimensions, top-k, semi-joins,
window functions, rollups — each expressed as a declarative DataFrame plan
so Catalyst applies pushdown/pruning/join-selection, with AQE handling
runtime skew at scale.

Scale design, per query, is noted inline: which side broadcasts, where the
one necessary shuffle lands, and why the plan survives a 1000-executor /
100 TB deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
    ANCHOR_TYPE,
    binary_round,
    davg,
    davg_over,
    dsum,
    dsum_over,
    sql_davg,
    sql_dsum,
)
from data_engineering_datawarehousingandetlpipeline_spark.plans.registry import QuerySpec
from data_engineering_datawarehousingandetlpipeline_spark.scratch import (
    materialized_result,
)
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    load_table,
)

def _revenue():
    # built lazily: Column construction needs an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


SQL_REVENUE = "l_extendedprice * (1 - l_discount)"


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship query.

    One scan of lineitem (only the 7 needed columns reach the parquet
    reader), map-side partial aggregation into 6 groups, one tiny shuffle.
    At 100 TB this is scan-bound and embarrassingly parallel: the shuffle
    carries 6 rows × partial states, not data.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(_revenue(), wide=True).alias("sum_disc_price"),
            dsum(_revenue() * (1 + F.col("l_tax")), wide=True).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum(SQL_REVENUE, wide=True)} AS sum_disc_price,
       {sql_dsum(f'({SQL_REVENUE}) * (1 + l_tax)', wide=True)} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shaped revenue by customer region/nation, one year window.

    Join strategy for scale: lineitem (facts, huge) shuffles once on
    l_orderkey against orders; customer/nation/region are dimensions —
    broadcast, so they add no shuffle. The groupBy reuses map-side partial
    aggregation into ~25 nation groups.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer scales with SF — no forced broadcast (the fixed-size
        # nation/region dims keep the hint): Spark's size statistics
        # broadcast it at test scale, and at warehouse scale AQE picks
        # the shuffle join a billion-row side requires.
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            dsum(_revenue(), wide=True).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "region_name", "nation_name")
    )


SQL_REGION_REVENUE = f"""
SELECT r_name AS region_name, n_name AS nation_name,
       {sql_dsum(SQL_REVENUE, wide=True)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY r_name, n_name
ORDER BY revenue DESC, region_name, nation_name
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-shaped: top 20 customers by revenue with nation context.

    Fact side aggregates *before* the final sort; the global top-k is a
    TakeOrdered (no full sort of the aggregate). Ties broken by c_custkey
    so the result set is deterministic for the oracle.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer scales with SF — statistics/AQE decide (see
        # q_region_revenue); only the fixed-size nation stays hinted
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_revenue(), wide=True).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_TOP_CUSTOMERS = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum(SQL_REVENUE, wide=True)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped: order counts per priority where a late lineitem EXISTS.

    The EXISTS is a left-semi join — Spark never materializes the join
    output, and at scale the semi join benefits from AQE converting to
    broadcast when the filtered orders side is small.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    late = lineitem.select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            late,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipped volume per supplier nation (lineitem ⋈ supplier ⋈ nation)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        # supplier scales with SF — statistics/AQE decide (see
        # q_region_revenue's customer note); nation is fixed-size
        lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("supp_nation"))
        .agg(
            dsum("l_quantity").alias("total_qty"),
            dsum(_revenue(), wide=True).alias("revenue"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
        .orderBy("supp_nation")
    )


SQL_SUPPLIER_VOLUME = f"""
SELECT n_name AS supp_nation,
       {sql_dsum('l_quantity')} AS total_qty,
       {sql_dsum(SQL_REVENUE, wide=True)} AS revenue,
       COUNT(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY supp_nation
"""


def q_part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the part dimension: price stats per brand/type."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand", "p_type")
        .agg(
            F.count("*").alias("n_parts"),
            davg("p_retailprice").alias("avg_price"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_brand", "p_type")
    )


SQL_PART_TYPE_STATS = f"""
SELECT p_brand, p_type, COUNT(*) AS n_parts,
       {sql_davg('p_retailprice')} AS avg_price,
       MIN(p_size) AS min_size, MAX(p_size) AS max_size
FROM part
GROUP BY p_brand, p_type
ORDER BY p_brand, p_type
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: each customer's 3 largest orders by total price.

    row_number partitions by o_custkey — the sort is within-key only, no
    global sort. At 100 TB the single shuffle on o_custkey is the cost; a
    warehouse bucketed by custkey would eliminate it.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank_in_customer", F.row_number().over(w))
        .filter(F.col("rank_in_customer") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_customer")
        .orderBy("o_custkey", "rank_in_customer")
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_customer
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey ASC)
              AS INT) AS rank_in_customer
  FROM orders
) ranked
WHERE rank_in_customer <= 3
ORDER BY o_custkey, rank_in_customer
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation): subtotals + grand total in one pass."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    enriched = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        enriched.rollup(
            F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name")
        )
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
        .orderBy(
            F.col("region_name").asc_nulls_first(), F.col("nation_name").asc_nulls_first()
        )
    )


SQL_REVENUE_ROLLUP = f"""
SELECT r_name AS region_name, n_name AS nation_name,
       COUNT(*) AS n_customers,
       {sql_dsum('c_acctbal')} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY region_name ASC NULLS FIRST, nation_name ASC NULLS FIRST
"""


def q_event_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day): all four grouping combinations in one
    pass, with GROUPING() markers disambiguating real NULLs from subtotal
    rows (the standard warehouse reporting shape alongside ROLLUP)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day_ts"), "value"
    )
    return (
        events.cube("event_type", "day_ts")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day_ts").cast("int").alias("g_day"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(), F.col("day_ts").asc_nulls_first()
        )
    )


SQL_EVENT_CUBE = f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value,
       CAST(GROUPING(event_type) AS INT) AS g_type,
       CAST(GROUPING(date_trunc('day', ts)) AS INT) AS g_day
FROM events
GROUP BY CUBE (event_type, date_trunc('day', ts))
ORDER BY event_type ASC NULLS FIRST, day_ts ASC NULLS FIRST
"""


# --------------------------------------------------- behavioral analytics

def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users active N days after first activity.

    The standard product-analytics retention report: cohort = a user's
    first active day, and for each (cohort_day, day_offset) the count of
    cohort members active that day plus the retention rate against the
    cohort's size. Two partial-agg shuffles on user_id (first-day, then
    distinct active days — both well-distributed keys), then a join of
    two tiny aggregates (days × offsets vs days); at warehouse scale both
    sides of that final join are dimension-sized, so it broadcasts under
    AQE. No windows, no collect.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    active = events.distinct()  # (user, day) activity matrix
    cohorts = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_users")
    )
    cells = (
        active.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )
    return (
        cells.join(sizes, "cohort_day")
        .select(
            "cohort_day",
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_active",
            "cohort_users",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_users"), 6
            ).alias("retention_rate"),
        )
        .orderBy("cohort_day", "day_offset")
    )


SQL_RETENTION_COHORTS = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), cohorts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id
), sizes AS (
  SELECT cohort_day, COUNT(*) AS cohort_users FROM cohorts GROUP BY cohort_day
), cells AS (
  SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
         COUNT(*) AS n_active
  FROM active a JOIN cohorts c USING (user_id)
  GROUP BY c.cohort_day, a.day - c.cohort_day
)
SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset, n_active,
       cohort_users,
       round(CAST(n_active AS DOUBLE) / cohort_users, 6) AS retention_rate
FROM cells JOIN sizes USING (cohort_day)
ORDER BY cohort_day, day_offset
"""


#: The strict event-order funnel stages, in order.
FUNNEL_STAGES: tuple[str, ...] = ("signup", "view", "click", "purchase")


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel signup → view → click → purchase.

    A user converts at stage k+1 only with an event of that type STRICTLY
    AFTER their stage-k conversion time (first-touch attribution). Each
    stage is one filtered partial-agg (min ts per user) joined to the
    previous stage's per-user frontier on user_id — co-partitioned
    shuffles on the same key, so at scale every stage after the first
    reuses the exchange. The alternative single-pass form (collect each
    user's full sorted event array, fold it) holds a whole user's history
    in one task — the staged joins instead keep state at one timestamp
    per user per stage, which survives power-law users. Output is one row
    per stage with absolute counts and the conversion rate from the
    previous stage.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )

    frontier = None  # per-user conversion time at the current stage
    stage_counts = []
    for idx, stage in enumerate(FUNNEL_STAGES):
        staged = events.filter(F.col("event_type") == stage)
        if frontier is None:
            frontier = staged.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            frontier = (
                staged.join(frontier, "user_id")
                .filter(F.col("ts") > F.col("t"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        stage_counts.append(
            frontier.agg(F.count("*").cast("bigint").alias("n_users")).select(
                F.lit(stage).alias("stage"),
                "n_users",
                F.lit(idx + 1).cast("int").alias("stage_idx"),
            )
        )
    out = stage_counts[0]
    for df in stage_counts[1:]:
        out = out.unionByName(df)
    # previous-stage count via a 4-row self-join on stage_idx − 1, NOT a
    # LAG window: an unpartitioned window would log the single-partition
    # WindowExec warning, which this repo reserves for genuine corpus-wide
    # windows (the warning stays a real scale signal).
    prev = out.select(
        (F.col("stage_idx") + 1).alias("stage_idx"),
        F.col("n_users").alias("__prev_users"),
    )
    return (
        out.join(prev, "stage_idx", "left")
        .select(
            "stage",
            "n_users",
            "stage_idx",
            # try_divide, not `/`: an empty funnel stage would otherwise
            # yield Infinity/NaN here while the oracle's division semantics
            # depend on its IEEE setting — NULL-on-zero is the repo-wide
            # division convention (cosine, davg, quality_score).
            F.round(
                F.try_divide(
                    F.col("n_users").cast("double"), F.col("__prev_users")
                ),
                6,
            ).alias("conversion_rate"),
        )
        .orderBy("stage_idx")
    )


SQL_EVENT_FUNNEL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY e.user_id
), s4 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY e.user_id
), counts AS (
  SELECT 'signup' AS stage, 1 AS stage_idx,
         CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
  UNION ALL SELECT 'view', 2, CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL SELECT 'click', 3, CAST(COUNT(*) AS BIGINT) FROM s3
  UNION ALL SELECT 'purchase', 4, CAST(COUNT(*) AS BIGINT) FROM s4
)
SELECT stage, n_users, CAST(stage_idx AS INTEGER) AS stage_idx,
       round(CAST(n_users AS DOUBLE)
             / NULLIF(LAG(n_users) OVER (ORDER BY stage_idx), 0), 6)
         AS conversion_rate
FROM counts
ORDER BY stage_idx
"""


# ------------------------------------------------- warehouse maintenance

def _scd2_history(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    """The versioned history table (unordered) — shared by the SCD2 build
    query, the point-in-time snapshot query, and the fact-enrichment
    query, so all read ONE definition of the dimension. ``pred``
    optionally filters the source events (e.g. dimension-bearing event
    types only)."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    if pred is not None:
        events = events.filter(pred)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    runs = events.withColumn(
        "__chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    ).withColumn("version", F.sum("__chg").over(w))
    versions = runs.groupBy("user_id", "version").agg(
        # event_type is constant within a run; MIN is its deterministic face
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    valid_to = F.lead("valid_from").over(w2)
    return versions.select(
        "user_id",
        F.col("version").cast("int").alias("version"),
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        "n_events",
        valid_to.isNull().alias("is_current"),
    )


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: versioned per-user state history.

    The slowly-changing-dimension workhorse (Kimball type 2): collapse
    each user's event stream into versioned state rows — one row per run
    of consecutive identical ``event_type`` observations, carrying
    ``valid_from`` / ``valid_to`` (half-open, NULL-open for the current
    version) and ``is_current``. This is the history table a warehouse
    keeps so facts can join the dimension AS OF their own timestamp
    (the reference's BigQuery layer has no versioning at all — every
    load overwrites; SURVEY.md §3.3).

    Shape: ONE hash exchange on user_id serves both window passes (the
    change-flag lag and the running-sum version share a single window
    spec, so Catalyst plans one Exchange + one Sort + one Window); the
    run aggregation shuffles one row per event with map-side combine,
    and the valid_to lead re-shuffles only run rows (≤ one per state
    change — dimension-sized). Per-user state is bounded by the user's
    run count; a power-law user concentrates one window partition, the
    same bounded-straggler compromise sessionization documents.
    """
    return _scd2_history(spark, sf_dir).orderBy("user_id", "version")


def sql_scd2_ctes(pred: str = "TRUE") -> str:
    """Shared CTE chain producing `history(user_id, version, state,
    valid_from, valid_to, n_events, is_current)` — the oracle twin of
    `_scd2_history`, reused by every query that reads the Type-2 dimension
    (the build query here; point-in-time snapshots and the streaming
    build's closed-version subset below), so every engine pair verifies
    against one definition. ``pred`` filters the source events."""
    return f"""WITH obs AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS NULL
                OR LAG(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WHERE {pred}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT user_id, ts, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
  FROM obs
), versions AS (
  SELECT user_id, version, MIN(event_type) AS state,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM runs GROUP BY user_id, version
), history AS (
  SELECT user_id, CAST(version AS INT) AS version, state, valid_from,
         LEAD(valid_from) OVER w2 AS valid_to, n_events,
         (LEAD(valid_from) OVER w2 IS NULL) AS is_current
  FROM versions
  WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
)"""


SQL_SCD2_CTES = sql_scd2_ctes()

SQL_SCD2_USER_STATE = f"""
{SQL_SCD2_CTES}
SELECT user_id, version, state, valid_from, valid_to, n_events, is_current
FROM history
ORDER BY user_id, version
"""


#: Snapshot grid: midnights T0 + d days, d = 1..SNAP_DAYS — spanning the
#: corpus's January window on every SF.
SNAP_T0 = "2024-01-01 00:00:00"
SNAP_DAYS = 30
_DAY_US = 86_400_000_000


def q_scd2_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension reconstruction: state census at each
    midnight.

    The read pattern a Type-2 dimension exists for — "what did the world
    look like AS OF T?" — executed for a whole grid of Ts at once: for
    every midnight in the corpus window, how many users were in each
    state. Rather than an inequality join (history × snapshots with
    ``valid_from <= T < valid_to`` — a nested loop that AQE can't
    skew-split), each history interval COMPUTES the contiguous range of
    snapshot indices it covers (integral ceil-div on epoch microseconds —
    never double division, which loses low bits past 2^53) and explodes
    exactly that range: an equi-shaped Generate bounded by the grid
    size, the same banding trick as ``nearby_clicks``. One count shuffle
    keyed on (snapshot, state) finishes it; at 100 TB the fan-out is
    ≤ SNAP_DAYS rows per state change, linear in the dimension.
    """
    hist = _scd2_history(spark, sf_dir)
    u0 = F.unix_micros(F.lit(SNAP_T0).cast("timestamp"))
    spans = (
        hist.select(
            "state",
            (F.unix_micros(F.col("valid_from")) - u0).alias("__from_us"),
            (F.unix_micros(F.col("valid_to")) - u0).alias("__to_us"),
        )
        .select(
            "state",
            # first midnight ≥ valid_from (intervals are half-open, so a
            # version starting exactly at midnight is visible there)
            F.greatest(
                F.expr(f"(__from_us + {_DAY_US - 1}) div {_DAY_US}"),
                F.lit(1).cast("bigint"),
            ).alias("__lo"),
            # last midnight < valid_to; an open interval covers the grid tail
            F.least(
                F.when(F.col("__to_us").isNull(), F.lit(SNAP_DAYS).cast("bigint"))
                .otherwise(
                    F.expr(f"(__to_us + {_DAY_US - 1}) div {_DAY_US}") - 1
                ),
                F.lit(SNAP_DAYS).cast("bigint"),
            ).alias("__hi"),
        )
        # Spark's sequence() flips to step -1 when lo > hi — filter the
        # empty intervals out instead of generating garbage
        .filter(F.col("__lo") <= F.col("__hi"))
    )
    return (
        spans.select(
            "state", F.explode(F.sequence("__lo", "__hi")).alias("__d")
        )
        .groupBy("__d", "state")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.timestamp_micros(u0 + F.col("__d") * F.lit(_DAY_US)).alias(
                "snapshot_ts"
            ),
            "state",
            "n_users",
        )
        .orderBy("snapshot_ts", "state")
    )


#: HLL relative-error bound for the incremental-distinct contract: the
#: default lgConfigK=12 Datasketches HLL carries ~1.6% standard error;
#: 5% is > 3σ, so the boolean is stable while still meaningful.
HLL_REL_TOLERANCE = 0.05


def q_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DISTINCT maintenance: per-day HLL sketch states merged
    across days — the sketch analogue of ``incremental_rollup``.

    COUNT(DISTINCT) is the aggregate that BREAKS naive incremental
    maintenance (distinct counts don't add), and mergeable sketches are
    the standard fix: closed day partitions keep an HLL sketch state per
    group, new days contribute their own, and the report unions states.
    The query executes that layout (per-(type, day) ``hll_sketch_agg`` →
    ``hll_union_agg``) and emits two cross-engine-verifiable booleans:
    ``merged_within_tolerance`` — the union-of-day-states estimate is
    within :data:`HLL_REL_TOLERANCE` of the exact distinct count — and
    ``direct_within_tolerance`` — ditto for a single-pass sketch over
    the raw stream. The oracle emits the exact counts + TRUE for both,
    so the driver hash proves both bounds (the ``approx_sketches``
    contract).

    The r9 sf0.1 sweep proved the earlier merged==direct equality claim
    FALSE in general: Datasketches HLL promotes sparse→dense at
    different points along the union route vs the direct-aggregation
    route, so the two estimates can differ by a few counts at higher
    cardinality even though both stay inside the error bound. The honest
    mergeability contract — what incremental maintenance actually
    guarantees — is that the merged estimate is as good as a rebuild,
    i.e. BOTH land within tolerance of exact, which is what this query
    now asserts (r9 verdict, marching order 1).

    Shape: one scan builds the day states (shuffle carries sketch bytes,
    ~1 KB per (type, day)), the union re-aggregates states; the
    verification branch (direct sketch + exact distinct, one more scan)
    exists to be the in-plan oracle — production maintains the state
    table and runs only the delta day + union.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("__day"), "user_id"
    )
    day_states = events.groupBy("event_type", "__day").agg(
        F.hll_sketch_agg("user_id").alias("__sk")
    )
    merged = day_states.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__merged_est")
    )
    direct = events.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("__direct_est"),
        F.countDistinct("user_id").alias("n_exact_users"),
    )
    def _within(est_col: str) -> F.Column:
        return (
            F.abs(
                F.col(est_col).cast("double")
                - F.col("n_exact_users").cast("double")
            )
            <= F.col("n_exact_users").cast("double") * HLL_REL_TOLERANCE
        )

    return (
        merged.join(F.broadcast(direct), "event_type")
        .select(
            "event_type",
            "n_exact_users",
            _within("__merged_est").alias("merged_within_tolerance"),
            _within("__direct_est").alias("direct_within_tolerance"),
        )
        .orderBy("event_type")
    )


SQL_INCREMENTAL_DISTINCT = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_exact_users,
       TRUE AS merged_within_tolerance,
       TRUE AS direct_within_tolerance
FROM events
GROUP BY event_type
ORDER BY event_type
"""


#: Streaming SCD2 runs the user_id < 5 subset (the sessions convention —
#: a driver-verifiable e2e drain, not a corpus-scale bench).
STREAM_SCD2_PRED = "user_id < 5"


def q_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD Type-2 build run INCREMENTALLY over the event stream.

    Events for ``user_id < 5`` are staged as three day-ranged shards (the
    Kafka stand-in) with strictly increasing file mtimes, streamed ONE
    FILE PER MICRO-BATCH through ``streaming/stateful.stateful_scd2`` —
    so versions open in one micro-batch and close in a later one — and
    written through the exactly-once parquet sink. Append mode emits only
    CLOSED versions (each user's open current version lives in the state
    store), so the oracle is the batch Type-2 history MINUS the current
    rows: the comparison proves the cross-batch operator emits exactly
    the closed history the batch ``lead()`` build produces. Restart
    recovery (state survives a stop/start mid-stream) is pytest-covered
    in tests/test_warehouse_streaming.py.
    """
    import glob
    import os
    import shutil
    import tempfile

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_scd2,
    )

    events = load_table(spark, sf_dir, "events").filter(F.expr(STREAM_SCD2_PRED))
    staged = events.select(
        "user_id",
        "event_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts"),
        "event_type",
    )
    # TEST-SCALE ONLY staging (the q_streaming_chunks convention): three
    # day-ranged shards written as separate single files with increasing
    # mtimes, so the file source's (mtime, path) ordering delivers them in
    # event-time order — standing in for a user-keyed Kafka topic, whose
    # per-key order guarantee the operator's contract documents.
    workdir = tempfile.mkdtemp(prefix="streaming_scd2_q_")
    indir = os.path.join(workdir, "incoming")
    os.makedirs(indir)
    bounds = [("2024-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"),
              ("2024-01-21", "2024-02-01")]
    for i, (lo, hi) in enumerate(bounds):
        shard_dir = os.path.join(workdir, f"shard{i}")
        staged.filter(
            (F.col("ts") >= lo) & (F.col("ts") < hi)
        ).coalesce(1).write.mode("overwrite").json(shard_dir)
        (part,) = glob.glob(os.path.join(shard_dir, "part-*.json"))
        dest = os.path.join(indir, f"shard{i}.json")
        shutil.move(part, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(indir)
    )
    out_dir = os.path.join(workdir, "history")
    query = start_scd2(
        stream, out_dir, os.path.join(workdir, "ckpt"), available_now=True
    )
    query.awaitTermination()
    return materialized_result(
        spark.read.parquet(out_dir).orderBy("user_id", "version"), workdir
    )


SQL_STREAMING_SCD2 = f"""
{sql_scd2_ctes(STREAM_SCD2_PRED)}
SELECT user_id, version, state, valid_from, valid_to,
       CAST(n_events AS INT) AS n_events
FROM history
WHERE NOT is_current
ORDER BY user_id, version
"""


SQL_SCD2_SNAPSHOTS = f"""
{SQL_SCD2_CTES},
spans AS (
  SELECT state,
         GREATEST((epoch_us(valid_from) - epoch_us(TIMESTAMP '{SNAP_T0}')
                   + {_DAY_US - 1}) // {_DAY_US}, 1) AS lo,
         LEAST(CASE WHEN valid_to IS NULL THEN {SNAP_DAYS}
                    ELSE (epoch_us(valid_to) - epoch_us(TIMESTAMP '{SNAP_T0}')
                          + {_DAY_US - 1}) // {_DAY_US} - 1 END,
               {SNAP_DAYS}) AS hi
  FROM history
), covered AS (
  SELECT state, unnest(generate_series(lo, hi)) AS d
  FROM spans WHERE lo <= hi
)
SELECT make_timestamp(epoch_us(TIMESTAMP '{SNAP_T0}') + d * {_DAY_US})
         AS snapshot_ts,
       state, COUNT(*) AS n_users
FROM covered
GROUP BY d, state
ORDER BY snapshot_ts, state
"""


#: Midnight boundary separating "closed" day partitions from the live
#: delta — aligned with the day grain so `day < cutoff ⟺ ts < cutoff`.
INCR_CUTOFF = "2024-01-25 00:00:00"


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: merged partial states == full
    recompute, proven in-plan.

    The pattern that makes daily rollups affordable at 100 TB: closed day
    partitions keep materialized per-(event_type, day) aggregate STATES
    (count / decimal sum / min / max — all mergeable), and each new day
    contributes only its delta; the report is a re-aggregation of states,
    never a rescan of history. The query executes exactly that merge —
    states split at ``INCR_CUTOFF`` into the "stored" and "delta"
    branches, re-aggregated to per-type totals — and joins a from-scratch
    recompute to emit ``merge_consistent``, the per-row proof that the
    merge algebra lost nothing (the oracle's twin computes TRUE the same
    way, so the driver hash verifies it cross-engine). Decimal anchors
    make the two-level sum exact in any merge order — the property that
    lets the state tree deepen (hour → day → month) without drift.

    Shape: the state table is pinned (one events scan builds it; the two
    branch filters read the checkpoint), its re-aggregation shuffles
    states not rows, and the verification join is two ~5-row aggregates
    (broadcast). Production runs only the delta branch + merge;
    the full-recompute branch exists to be the in-plan oracle.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    )
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")
    anchored = F.col("value").cast(ANCHOR_TYPE)
    states = (
        events.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day_ts")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(anchored).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .localCheckpoint(eager=False)
    )
    closed = states.filter(F.col("day_ts") < cutoff)
    delta = states.filter(F.col("day_ts") >= cutoff)
    merged = (
        closed.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").alias("__s"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )
    full = events.groupBy("event_type").agg(
        F.count("*").alias("__n_full"),
        F.sum(anchored).alias("__s_full"),
        F.min("value").alias("__mn_full"),
        F.max("value").alias("__mx_full"),
    )
    return (
        merged.join(F.broadcast(full), "event_type")
        .select(
            "event_type",
            "n_events",
            F.col("__s").cast("double").alias("total_value"),
            "min_value",
            "max_value",
            (
                (F.col("n_events") == F.col("__n_full"))
                & (F.col("__s") == F.col("__s_full"))
                & (F.col("min_value") == F.col("__mn_full"))
                & (F.col("max_value") == F.col("__mx_full"))
            ).alias("merge_consistent"),
        )
        .orderBy("event_type")
    )


SQL_INCREMENTAL_ROLLUP = f"""
WITH states AS (
  SELECT event_type, date_trunc('day', ts) AS day_ts, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,4))) AS s,
         MIN(value) AS mn, MAX(value) AS mx
  FROM events GROUP BY event_type, day_ts
), merged AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events, SUM(s) AS s2,
         MIN(mn) AS min_value, MAX(mx) AS max_value
  FROM (
    SELECT * FROM states WHERE day_ts < TIMESTAMP '{INCR_CUTOFF}'
    UNION ALL
    SELECT * FROM states WHERE day_ts >= TIMESTAMP '{INCR_CUTOFF}'
  )
  GROUP BY event_type
), full_agg AS (
  SELECT event_type, COUNT(*) AS n_full,
         SUM(CAST(value AS DECIMAL(18,4))) AS s_full,
         MIN(value) AS mn_full, MAX(value) AS mx_full
  FROM events GROUP BY event_type
)
SELECT m.event_type, m.n_events,
       -- VARCHAR-routed: DuckDB's direct decimal→double cast is not
       -- correctly rounded (see functions/numeric.sql_dsum)
       CAST(CAST(m.s2 AS STRING) AS DOUBLE) AS total_value,
       m.min_value, m.max_value,
       (m.n_events = f.n_full AND m.s2 = f.s_full
        AND m.min_value = f.mn_full AND m.max_value = f.mx_full)
         AS merge_consistent
FROM merged m JOIN full_agg f USING (event_type)
ORDER BY m.event_type
"""


#: Trailing frame length and flag threshold for rolling robust anomaly
#: detection (median/MAD — the Hampel filter's classic parameters).
ANOMALY_FRAME = 15
ANOMALY_K = 3


def _arr_median(arr):
    """Exact median of a sorted array column (interpolated for even n) —
    row-local JVM expression, identical arithmetic on the oracle side."""
    n = F.size(arr)
    return F.round(
        F.when(
            n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
        ).otherwise(
            (
                F.element_at(arr, (n / 2).cast("int"))
                + F.element_at(arr, (n / 2 + 1).cast("int"))
            )
            / 2
        ),
        6,
    )


def q_event_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel-filter anomaly detection: flag values far from the rolling
    ROBUST center of each user's recent history.

    The monitoring staple mean/stddev can't provide: a rolling MEAN is
    dragged by the very outliers it should flag, so the filter uses the
    trailing-15 median and the median absolute deviation (MAD) instead —
    ``|x − med| > 3·MAD`` flags a spike without the spike poisoning its
    own baseline. Emits only the flagged rows with their evidence
    (med, mad).

    Scale shape: one user-keyed window pass; each row's frame is a ≤15
    element array, so median/MAD are row-local ``array_sort`` /
    ``transform`` expressions — whole-stage-codegen JVM arithmetic, no
    UDF, state bounded by the frame length. Ties order by event_id so
    frames are identical on both engines; med/MAD round to 6 before the
    threshold compare. MAD = 0 (a constant frame) flags nothing — a
    level shift after dead-flat history needs its own detector, which is
    the documented Hampel trade.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ANOMALY_FRAME - 1), 0)
    )
    framed = events.withColumn(
        "__arr", F.array_sort(F.collect_list("value").over(w))
    )
    with_med = framed.withColumn("med", _arr_median(F.col("__arr")))
    with_mad = with_med.withColumn(
        "mad",
        _arr_median(
            F.array_sort(
                F.transform(
                    F.col("__arr"), lambda v: F.abs(v - F.col("med"))
                )
            )
        ),
    )
    return (
        with_mad.filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("value") - F.col("med")) > ANOMALY_K * F.col("mad"))
        )
        .select("user_id", "event_id", "ts", "value", "med", "mad")
        .orderBy("user_id", "ts", "event_id")
    )


SQL_EVENT_ROLLING_ANOMALY = f"""
WITH framed AS (
  SELECT user_id, event_id, ts, value,
         list_sort(list(value) OVER w) AS arr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ANOMALY_FRAME - 1} PRECEDING AND CURRENT ROW)
), med_t AS (
  SELECT *, round(CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr) + 1) // 2]
                       ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2
                  END, 6) AS med
  FROM framed
), mad_t AS (
  SELECT *, round(CASE WHEN len(darr) % 2 = 1 THEN darr[(len(darr) + 1) // 2]
                       ELSE (darr[len(darr) // 2] + darr[len(darr) // 2 + 1]) / 2
                  END, 6) AS mad
  FROM (SELECT *, list_sort(list_transform(arr, x -> abs(x - med))) AS darr
        FROM med_t)
)
SELECT user_id, event_id, ts, value, med, mad
FROM mad_t
WHERE mad > 0 AND abs(value - med) > {ANOMALY_K} * mad
ORDER BY user_id, ts, event_id
"""


#: Order-date cutoff splitting the star-join view into closed history
#: and the open delta (orders span 1992-1998; ~2 years ride the delta).
INCR_JOIN_CUTOFF = "1997-01-01 00:00:00"


def q_incremental_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: the star-join revenue rollup
    kept fresh from per-day states, merge == recompute proven in-plan.

    ``incremental_rollup`` maintains a single-table aggregate; real
    warehouse views join first — revenue per customer region is
    lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region, then aggregate. With
    insert-only facts and slowly-changing dimensions the classic IVM
    identity applies: Agg(V) = merge(states of closed days, states of
    ΔF ⋈ dims) — the join DISTRIBUTES over the fact delta, so a new day
    of orders joins only ITS rows against the dimensions and history is
    never re-joined or re-scanned. The query executes exactly that: the
    joined view's per-(region, order-day) states are pinned (ONE join
    builds them), split at ``INCR_JOIN_CUTOFF`` into stored/delta
    branches, merged per region — and verified per-row against a
    from-scratch recompute (``merge_consistent``, computed identically by
    the oracle so the driver hash checks it cross-engine). Decimal
    anchors make the two-level revenue sum exact in any merge order.

    Shape: one fact shuffle per join key (orders, customer); fixed-size
    nation/region broadcast; the state re-aggregation shuffles ~(regions
    × days) states, never rows; verification joins two 5-row aggregates.
    Production stores the closed states and runs only the delta branch.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    joined = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer scales with SF — statistics/AQE decide (see
        # q_region_revenue); only the fixed-size dims stay hinted
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region_name"),
            F.date_trunc("day", F.col("o_orderdate")).alias("day_ts"),
            _revenue().alias("rev"),
        )
        # Pinned (r17): the joined view feeds the per-day states AND the
        # from-scratch full aggregate — unpinned, the 5-way star join
        # executed twice (alternating A/B at sf0.1: 3.0-3.8 s → 2.4-2.9 s).
        # The merge-vs-recompute check still verifies the
        # aggregation-split identity over the same joined rows; pinning
        # removes join re-execution, not the recompute being checked.
        .localCheckpoint(eager=False)
    )
    from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
        ANCHOR_TYPE_WIDE,
    )

    anchored = F.col("rev").cast(ANCHOR_TYPE_WIDE)
    states = (
        joined.groupBy("region_name", "day_ts")
        .agg(F.count("*").alias("n"), F.sum(anchored).alias("s"))
        .localCheckpoint(eager=False)
    )
    cutoff = F.lit(INCR_JOIN_CUTOFF).cast("timestamp")
    merged = (
        states.filter(F.col("day_ts") < cutoff)
        .unionByName(states.filter(F.col("day_ts") >= cutoff))
        .groupBy("region_name")
        .agg(F.sum("n").alias("n_items"), F.sum("s").alias("__s"))
    )
    full = joined.groupBy("region_name").agg(
        F.count("*").alias("__n_full"), F.sum(anchored).alias("__s_full")
    )
    return (
        merged.join(F.broadcast(full), "region_name")
        .select(
            "region_name",
            "n_items",
            F.col("__s").cast("double").alias("revenue"),
            (
                (F.col("n_items") == F.col("__n_full"))
                & (F.col("__s") == F.col("__s_full"))
            ).alias("merge_consistent"),
        )
        .orderBy("region_name")
    )


SQL_INCREMENTAL_STAR_ROLLUP = f"""
WITH joined AS (
  SELECT r_name AS region_name, date_trunc('day', o_orderdate) AS day_ts,
         {SQL_REVENUE} AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
), states AS (
  SELECT region_name, day_ts, COUNT(*) AS n,
         SUM(CAST(rev AS DECIMAL(27,8))) AS s
  FROM joined GROUP BY region_name, day_ts
), merged AS (
  SELECT region_name, CAST(SUM(n) AS BIGINT) AS n_items, SUM(s) AS s2
  FROM (
    SELECT * FROM states WHERE day_ts < TIMESTAMP '{INCR_JOIN_CUTOFF}'
    UNION ALL
    SELECT * FROM states WHERE day_ts >= TIMESTAMP '{INCR_JOIN_CUTOFF}'
  )
  GROUP BY region_name
), full_agg AS (
  SELECT region_name, COUNT(*) AS n_full, SUM(CAST(rev AS DECIMAL(27,8))) AS s_full
  FROM joined GROUP BY region_name
)
SELECT m.region_name, m.n_items,
       CAST(CAST(m.s2 AS STRING) AS DOUBLE) AS revenue,
       (m.n_items = f.n_full AND m.s2 = f.s_full) AS merge_consistent
FROM merged m JOIN full_agg f USING (region_name)
ORDER BY m.region_name
"""


#: Columns profiled by lineitem_profile: every column gets null/distinct
#: counts; numeric columns also get min/max (cast to DOUBLE — exact for
#: these magnitudes and engine-identical, unlike string rendering of
#: timestamps/floats which differs across engines).
PROFILE_NUMERIC = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
)
PROFILE_OTHER = ("l_returnflag", "l_linestatus", "l_shipdate")


def q_lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of the fact table (ANALYZE-style).

    The Deequ/Great-Expectations-shaped audit every ingestion pipeline
    runs before publishing a table: per column, row count, NULL count,
    exact distinct count, and (numeric columns) min/max.

    Shape (r17): one SINGLE-distinct aggregate branch per column, unioned
    — each branch prunes its scan to ONE parquet column and plans as the
    Expand-free two-phase distinct (partial groupBy(col) map-side, then
    the global roll-up), so no |columns|-way row multiplication ever
    materializes. The previous one-scan multi-distinct aggregate paid
    Spark's standard Expand: |rows| × (|distinct cols| + 1) rows into the
    partial aggregation (measured 2.0× slower at sf0.1). Columnar reads
    make the N narrow scans byte-equivalent to the old single wide scan,
    and the branches schedule concurrently inside one job. The shared
    row count rides a broadcast cross-join (one row). At 100 TB the same
    plan holds; swap the exact distincts for ``approx_count_distinct``
    (the HLL path ``approx_sketches`` demonstrates) when ±2% suffices —
    the oracle needs exactness, a production profile usually doesn't.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.agg(F.count("*").alias("n_rows"))
    branches = []
    for c in PROFILE_NUMERIC:
        branches.append(
            li.select(c).agg(
                F.count(c).alias("n_nonnull"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("double").alias("min_value"),
                F.max(c).cast("double").alias("max_value"),
            ).select(F.lit(c).alias("column_name"), "*")
        )
    for c in PROFILE_OTHER:
        branches.append(
            li.select(c).agg(
                F.count(c).alias("n_nonnull"),
                F.countDistinct(c).alias("n_distinct"),
                F.lit(None).cast("double").alias("min_value"),
                F.lit(None).cast("double").alias("max_value"),
            ).select(F.lit(c).alias("column_name"), "*")
        )
    per_col = branches[0]
    for b in branches[1:]:
        per_col = per_col.union(b)
    return (
        per_col.crossJoin(F.broadcast(cnt))
        .select(
            "column_name",
            "n_rows",
            (F.col("n_rows") - F.col("n_nonnull")).alias("n_nulls"),
            "n_distinct",
            "min_value",
            "max_value",
        )
        .orderBy("column_name")
    )


def _sql_lineitem_profile() -> str:
    base_aggs = ["COUNT(*) AS n_rows"]
    for c in PROFILE_NUMERIC + PROFILE_OTHER:
        base_aggs.append(f"COUNT({c}) AS nn_{c}")
        base_aggs.append(f"COUNT(DISTINCT {c}) AS nd_{c}")
    for c in PROFILE_NUMERIC:
        base_aggs.append(f"CAST(MIN({c}) AS DOUBLE) AS mn_{c}")
        base_aggs.append(f"CAST(MAX({c}) AS DOUBLE) AS mx_{c}")
    rows = []
    for c in PROFILE_NUMERIC:
        rows.append(
            f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{c} AS n_nulls,"
            f" nd_{c} AS n_distinct, mn_{c} AS min_value, mx_{c} AS max_value"
            " FROM base"
        )
    for c in PROFILE_OTHER:
        rows.append(
            f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{c} AS n_nulls,"
            f" nd_{c} AS n_distinct, CAST(NULL AS DOUBLE) AS min_value,"
            " CAST(NULL AS DOUBLE) AS max_value FROM base"
        )
    union = "\nUNION ALL\n".join(rows)
    return (
        f"WITH base AS (\n  SELECT {', '.join(base_aggs)} FROM lineitem\n)\n"
        f"{union}\nORDER BY column_name"
    )


SQL_LINEITEM_PROFILE = _sql_lineitem_profile()


def q_daily_active_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-dashboard staple: DAU, new users, and cumulative uniques by day.

    The naive cumulative COUNT(DISTINCT) re-scans an ever-growing prefix
    per day (quadratic at warehouse scale); the scalable identity is that
    a user increments the cumulative count only on their FIRST day — so
    one user-keyed aggregate (min day per user) turns the running
    distinct into a running SUM of new-user counts. Shape: two
    aggregations over one events scan (pinned (user, day) activity pairs
    feed both), then a window cumsum over the tiny per-day table.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    pairs = events.distinct().localCheckpoint(eager=False)
    dau = pairs.groupBy("day").agg(F.count("*").alias("dau"))
    firsts = (
        pairs.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("new_users"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(firsts, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .withColumn("cum_users", F.sum("new_users").over(w))
        .orderBy("day")
    )


SQL_DAILY_ACTIVE_CUMULATIVE = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), dau AS (
  SELECT day, COUNT(*) AS dau FROM pairs GROUP BY day
), firsts AS (
  SELECT day, COUNT(*) AS new_users
  FROM (SELECT user_id, MIN(day) AS day FROM pairs GROUP BY user_id) f
  GROUP BY day
)
SELECT d.day, d.dau,
       COALESCE(f.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(f.new_users, 0))
              OVER (ORDER BY d.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM dau d LEFT JOIN firsts f USING (day)
ORDER BY d.day
"""


#: Fact event type for point-in-time enrichment; the dimension history is
#: built from every OTHER event type (the state-bearing observations).
SCD2_ENRICH_FACT = "purchase"


def q_scd2_event_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact enrichment: facts join the SCD2 dimension AS OF
    their own timestamp.

    The read pattern that makes a Type-2 dimension useful to the fact
    side of the warehouse: each purchase event is annotated with the
    state the user was in AT PURCHASE TIME — the version of the
    (non-purchase-event) dimension history whose ``[valid_from,
    valid_to)`` interval contains the fact's ``ts``. Purchases before a
    user's first dimension version keep NULLs (left-outer as-of).

    Executed with the merge-scan as-of (operators/joins.as_of_join —
    union + one user-keyed window pass, no inequality join, the same
    machinery as ``asof_last_error``), against DuckDB's native ``ASOF
    LEFT JOIN`` as the oracle. Contiguous SCD2 intervals make the as-of
    (latest ``valid_from <= ts``) exactly the interval-containment
    lookup, so no ``valid_to`` predicate is needed. One shuffle keyed on
    user_id; dimension rows per user are bounded by the user's version
    count — the plan a 100 TB fact table wants.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        joins,
    )

    events = load_table(spark, sf_dir, "events")
    facts = events.filter(F.col("event_type") == SCD2_ENRICH_FACT).select(
        "event_id", "user_id", "ts", "value"
    )
    dim = _scd2_history(
        spark, sf_dir, pred=F.col("event_type") != SCD2_ENRICH_FACT
    ).select("user_id", F.col("valid_from").alias("ts"), "state", "version")
    return (
        joins.as_of_join(
            facts,
            dim,
            on="user_id",
            ts_col="ts",
            right_value_cols={
                "state": "state_at",
                "version": "state_version",
                "ts": "state_since",
            },
            # same-instant version ties (two dimension versions sharing a
            # valid_from) resolve to the LATEST version, not the largest
            # state string — contiguous SCD2 history makes ties impossible
            # in practice, but the tiebreak keeps the pick principled.
            tiebreak_cols=("version",),
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            "state_at",
            F.col("state_version").cast("int").alias("state_version"),
            "state_since",
        )
        .orderBy("event_id")
    )


SQL_SCD2_EVENT_ENRICH = f"""
{sql_scd2_ctes(f"event_type <> '{SCD2_ENRICH_FACT}'")},
facts AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = '{SCD2_ENRICH_FACT}'
)
SELECT f.event_id, f.user_id, f.ts, f.value,
       h.state AS state_at, CAST(h.version AS INT) AS state_version,
       h.valid_from AS state_since
FROM facts f
ASOF LEFT JOIN (SELECT user_id, state, version, valid_from FROM history) h
  ON f.user_id = h.user_id AND f.ts >= h.valid_from
ORDER BY f.event_id
"""


def q_event_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: per-user daily resample with LOCF.

    The regularization step every downstream time-series consumer
    (forecasting features, day-over-day deltas, dashboard sparklines)
    needs: project each user's event stream onto the corpus's daily grid
    and carry the last observed ``value`` forward across silent days.
    Per (user, day) the observation is the LAST event of the day
    (ts desc, event_id desc — deterministic); days before a user's first
    observation stay NULL (nothing to carry), flagged by ``observed``.

    Scale shape: the per-day selection and the fill are both user-keyed
    window passes; the grid is users × explode(sequence(d0, d1)) with the
    1-row global bounds broadcast — fan-out bounded by the corpus's day
    span, which is the inherent output size of gap-fill (users × days).
    The daily table feeds three subtrees (bounds, the user list, the grid
    join) and is pinned so the events scan happens once. No value
    arithmetic — LOCF copies doubles verbatim, so no rounding is needed.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "ts", "event_id", "value"
    )
    w_last = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        events.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("obs_value"))
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = (
        daily.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.col("obs_value").isNotNull().alias("observed"),
            F.last("obs_value", ignorenulls=True)
            .over(w_fill)
            .alias("value_filled"),
        )
        .orderBy("user_id", "day")
    )


SQL_EVENT_GAPFILL = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value FROM events
), ranked AS (
  SELECT user_id, day, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, day
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev
), daily AS (
  SELECT user_id, day, value AS obs_value FROM ranked WHERE rn = 1
), bounds AS (
  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily
), grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                     CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN bounds
), joined AS (
  SELECT g.user_id, g.day, d.obs_value
  FROM grid g LEFT JOIN daily d USING (user_id, day)
)
SELECT user_id, day, obs_value IS NOT NULL AS observed,
       last_value(obs_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS value_filled
FROM joined
ORDER BY user_id, day
"""


def q_lineitem_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data contract for the fact table: declarative expectations, one scan.

    The dbt-test / Delta-constraint surface: the table's contract —
    NOT NULL columns, accepted ranges and value domains, key uniqueness,
    referential integrity to ``orders`` — evaluated as counted violations
    per named check (operators/expectations.py). Every row-level check
    folds into ONE conditional-aggregate scan with map-side partials
    (naive per-check ``COUNT(*) WHERE NOT ...`` loops scan once per
    check); uniqueness rides the same pass as COUNT(*) −
    COUNT(DISTINCT keys); only the referential check adds work — a
    left-anti join the parent side of which broadcasts/AQE-plans. Key
    columns are NOT NULL by their own checks, so the multi-column
    DISTINCT agrees across engines.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        expectations as X,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    row_checks = X.check_contract(
        lineitem,
        [
            X.not_null("l_orderkey"),
            X.not_null("l_quantity"),
            X.accepted_range("l_discount", 0.0, 1.0),
            X.accepted_range("l_quantity", 1.0, 50.0),
            X.accepted_values("l_returnflag", ["A", "N", "R"]),
            X.accepted_values("l_linestatus", ["O", "F"]),
        ],
        unique_key=["l_orderkey", "l_linenumber"],
    )
    ref = X.referential_check(lineitem, orders, "l_orderkey", "o_orderkey")
    return row_checks.unionByName(ref).orderBy("check")


SQL_LINEITEM_CONTRACT = """
WITH agg AS (
  SELECT
    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS not_null_l_orderkey,
    SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS not_null_l_quantity,
    SUM(CASE WHEN l_discount IS NOT NULL
              AND l_discount NOT BETWEEN 0.0 AND 1.0 THEN 1 ELSE 0 END)
      AS range_l_discount,
    SUM(CASE WHEN l_quantity IS NOT NULL
              AND l_quantity NOT BETWEEN 1.0 AND 50.0 THEN 1 ELSE 0 END)
      AS range_l_quantity,
    SUM(CASE WHEN l_returnflag IS NOT NULL
              AND l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END)
      AS values_l_returnflag,
    SUM(CASE WHEN l_linestatus IS NOT NULL
              AND l_linestatus NOT IN ('O', 'F') THEN 1 ELSE 0 END)
      AS values_l_linestatus,
    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
      AS unique_l_orderkey_l_linenumber
  FROM lineitem
), ref AS (
  SELECT COUNT(*) AS v FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
), checks AS (
  SELECT 'not_null_l_orderkey' AS check, not_null_l_orderkey AS n_violations FROM agg
  UNION ALL SELECT 'not_null_l_quantity', not_null_l_quantity FROM agg
  UNION ALL SELECT 'range_l_discount', range_l_discount FROM agg
  UNION ALL SELECT 'range_l_quantity', range_l_quantity FROM agg
  UNION ALL SELECT 'values_l_returnflag', values_l_returnflag FROM agg
  UNION ALL SELECT 'values_l_linestatus', values_l_linestatus FROM agg
  UNION ALL SELECT 'unique_l_orderkey_l_linenumber',
                   unique_l_orderkey_l_linenumber FROM agg
  UNION ALL SELECT 'ref_l_orderkey', v FROM ref
)
SELECT "check", CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM checks ORDER BY "check"
"""


#: "Late" for the waiting-suppliers query: shipped more than this many
#: days after the order date (the corpus carries no commit/receipt dates,
#: so lateness anchors to o_orderdate).
WAITING_LATE_DAYS = 90
WAITING_TOP_K = 20


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: suppliers solely to blame for late multi-supplier
    orders — correlated EXISTS / NOT EXISTS, decorrelated.

    The textbook Q21 states "another supplier exists on the order" and
    "no OTHER supplier was late" as two correlated subqueries; a naive
    translation runs a semi-join AND an anti-join against lineitem —
    three passes over the fact table. Decorrelated, one pass suffices:
    aggregate lineitem ⋈ orders to per-(order, supplier) lateness flags,
    then a per-order window derives both existential facts at once
    (n_suppliers ≥ 2 ⇔ the EXISTS; n_late_suppliers = 1 ∧ is_late ⇔ the
    NOT EXISTS), and the blamed rows aggregate per supplier. Per-order
    groups are bounded (lineitems per order), so the window is safe at
    any scale; the only fact shuffles are the orderkey join/agg. Top-k
    is a TakeOrdered, ties broken by s_name.

    r16 (guide §2.4): ONE orderkey exchange serves both the pair
    aggregate and the per-order window. Grouping by (orderkey, suppkey)
    directly would shuffle on the pair key and the window would then
    re-shuffle on orderkey alone — two full fact exchanges. An explicit
    ``repartition("l_orderkey")`` establishes the coarser partitioning
    first; hash(orderkey) co-locates every (orderkey, suppkey) group AND
    every window partition, so both run exchange-free on top of it.
    Map-side partial aggregation is no loss here: (orderkey, suppkey)
    pairs are ~distinct in lineitem (~1.03 rows per pair at any TPC-H
    scale), so the pre-aggregated shuffle carried the same row count —
    and the shuffled row narrows to (bigint, bigint, int) because the
    lateness flag is computed before the exchange instead of shipping
    two timestamps.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {WAITING_LATE_DAYS} DAY"
    )
    per_os = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # narrow the exchange: flag instead of two timestamps (§2.3)
        .select("l_orderkey", "l_suppkey", late.cast("int").alias("late_flag"))
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late_flag").alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    blamed = (
        per_os.withColumn("n_supp", F.count("*").over(w))
        .withColumn("n_late", F.sum("is_late").over(w))
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
    )
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count("*").cast("int").alias("numwait"))
        # supplier scales with SF — statistics/AQE decide (q_region_revenue)
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(WAITING_TOP_K)
    )


SQL_WAITING_SUPPLIERS = f"""
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL {WAITING_LATE_DAYS} DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
), annotated AS (
  SELECT *, COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM per_os
)
SELECT s_name, CAST(COUNT(*) AS INT) AS numwait
FROM annotated JOIN supplier ON l_suppkey = s_suppkey
WHERE is_late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT {WAITING_TOP_K}
"""


#: Deterministic derivation rules turning `customer` into a "corrected"
#: second snapshot — a delete stripe, an update stripe, an insert stripe
#: (shifted keys) — so the CDC query is replayable and oracle-checkable.
DIFF_DELETE_MOD = 97
DIFF_UPDATE_MOD = 13
DIFF_INSERT_MOD = 101
DIFF_INSERT_SHIFT = 10_000_000


def q_customer_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two snapshots of a keyed table.

    The CDC surface Delta serves from its log (`table_changes()`),
    computed relationally (operators/diff.table_diff): old = the customer
    table; new = the same table through a deterministic correction feed —
    one key stripe deleted, one stripe's ``c_acctbal`` revised, one
    stripe of fresh keys inserted. The diff classifies every key into
    insert / delete / update off ONE co-partitioned full-outer join
    (null-safe value compare), which is the entire fundamental cost of a
    keyed snapshot diff at any scale — and on bucketed tables even that
    shuffle vanishes. Downstream: audit a correction batch BEFORE
    ``merge_replace`` applies it; feed non-append incremental view
    maintenance.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.diff import (
        table_diff,
    )

    old = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    kept = old.filter(F.col("c_custkey") % DIFF_DELETE_MOD != 0)
    revised = kept.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % DIFF_UPDATE_MOD == 0,
            F.col("c_acctbal") + 100,
        ).otherwise(F.col("c_acctbal")),
    )
    inserts = old.filter(F.col("c_custkey") % DIFF_INSERT_MOD == 0).select(
        (F.col("c_custkey") + DIFF_INSERT_SHIFT).alias("c_custkey"),
        "c_acctbal",
    )
    new = revised.unionByName(inserts)
    return table_diff(
        old, new, keys=["c_custkey"], compare_cols=["c_acctbal"]
    ).orderBy("c_custkey")


SQL_CUSTOMER_SNAPSHOT_DIFF = f"""
WITH old_t AS (
  SELECT c_custkey, c_acctbal FROM customer
), new_t AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % {DIFF_UPDATE_MOD} = 0
              THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % {DIFF_DELETE_MOD} <> 0
  UNION ALL
  SELECT c_custkey + {DIFF_INSERT_SHIFT}, c_acctbal
  FROM customer WHERE c_custkey % {DIFF_INSERT_MOD} = 0
), j AS (
  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
         o.c_custkey IS NOT NULL AS in_old,
         n.c_custkey IS NOT NULL AS in_new,
         o.c_acctbal AS old_c_acctbal, n.c_acctbal AS new_c_acctbal
  FROM old_t o FULL JOIN new_t n ON o.c_custkey = n.c_custkey
)
SELECT c_custkey,
       CASE WHEN NOT in_old THEN 'insert'
            WHEN NOT in_new THEN 'delete'
            ELSE 'update' END AS op,
       old_c_acctbal, new_c_acctbal
FROM j
WHERE NOT in_old OR NOT in_new
   OR old_c_acctbal IS DISTINCT FROM new_c_acctbal
ORDER BY c_custkey
"""


#: Anchored watermark + silence threshold for the batch silence report —
#: fixed constants so the query is deterministic and the streaming
#: heartbeat can be replayed to the SAME watermark for the equivalence
#: pytest (tests/test_stateful_streaming.py).
SILENCE_WATERMARK = "2024-01-28 00:00:00"
SILENCE_SECONDS = 86400


def q_silence_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch silence report: users gone quiet, as of an anchored watermark.

    The oracle-checkable twin of the streaming heartbeat
    (streaming/stateful.py:stateful_heartbeat): with the event-time clock
    stopped at watermark W, report every user whose last event is at
    least SILENCE_SECONDS old — ``(user_id, last_seen, silent_at,
    n_events)``, exactly the streaming operator's alarm schema, where
    ``silent_at = last_seen + T`` is the instant the alarm armed. Events
    after W are invisible (the stream hasn't seen them at that
    watermark), which is what makes the two surfaces comparable: the
    heartbeat replayed over the same data with the watermark advanced to
    W fires precisely these rows (equivalence pytest).

    Scale shape: one scan with the ``ts <= W`` predicate pushed to the
    parquet reader, one user-keyed partial aggregate (max + count), a
    map-side threshold filter on the aggregate — the two-aggregate plan a
    100 TB events table wants; output is bounded by the silent-user
    count.
    """
    wm = F.lit(SILENCE_WATERMARK).cast("timestamp")
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") <= wm)
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_seen"),
            F.count("*").cast("int").alias("n_events"),
        )
        .withColumn(
            "silent_at",
            (F.col("last_seen") + F.expr(f"INTERVAL {SILENCE_SECONDS} SECOND")),
        )
        .filter(F.col("silent_at") <= wm)
        .select("user_id", "last_seen", "silent_at", "n_events")
        .orderBy("user_id")
    )


SQL_SILENCE_REPORT = f"""
SELECT user_id, MAX(ts) AS last_seen,
       MAX(ts) + INTERVAL {SILENCE_SECONDS} SECOND AS silent_at,
       CAST(COUNT(*) AS INT) AS n_events
FROM events
WHERE ts <= TIMESTAMP '{SILENCE_WATERMARK}'
GROUP BY user_id
HAVING MAX(ts) + INTERVAL {SILENCE_SECONDS} SECOND
         <= TIMESTAMP '{SILENCE_WATERMARK}'
ORDER BY user_id
"""


#: Exact percentiles reported per event type (rank = ceil(p·n/100),
#: computed in INTEGER arithmetic on both engines so a boundary rank can
#: never drift on binary-fraction rounding of p/100).
PERCENTILES = (25, 50, 75, 90)


def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p25/p50/p75/p90 of ``value`` per event
    type) — grouped order statistics WITHOUT one-task-per-group.

    The SLA/reporting staple. A plain ``ROW_NUMBER() OVER (PARTITION BY
    event_type ORDER BY value)`` puts each event type's entire history in
    ONE window task — with a handful of types over a 100 TB events table
    that is the grouped twin of the single-partition-NTILE trap. The plan
    rides :func:`~..operators.ranking.grouped_rank` instead: one range
    exchange over the 3-column projection spreads every type across all
    buckets in order, per-(bucket, type) counts (a config-sized table)
    broadcast back as offsets, rank and group size assigned map-side.
    Percentile selection is then a 5-group aggregate picking the
    rank == ceil(p·n/100) rows. Exact — the DuckDB oracle states the
    monolithic window form with the identical integer rank arithmetic.
    NULL values are excluded (percentiles describe observed values).
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.ranking import (
        grouped_rank,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", "event_id")
    )
    ranked = grouped_rank(
        ev, ["event_type"], ["value", "event_id"], rank_col="r", size_col="n"
    )
    aggs = [F.max("n").cast("bigint").alias("n_events")]
    for p in PERCENTILES:
        aggs.append(
            F.max(
                F.when(
                    F.col("r") == F.expr(f"(n * {p} + 99) div 100"),
                    F.col("value"),
                )
            ).alias(f"p{p}")
        )
    return ranked.groupBy("event_type").agg(*aggs).orderBy("event_type")


def _sql_percentile_cases() -> str:
    return ",\n       ".join(
        f"MAX(CASE WHEN r = (n * {p} + 99) // 100 THEN value END) AS p{p}"
        for p in PERCENTILES
    )


SQL_EVENT_VALUE_PERCENTILES = f"""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
       {_sql_percentile_cases()}
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


# --- Correlated-subquery decorrelation family (Q15/Q17/Q18/Q22 shapes) ---
# The reference pushes these shapes to BigQuery verbatim; the engine
# expresses each textbook correlated subquery as the decorrelated plan a
# distributed optimizer wants — the ORACLE states the correlated form, so
# the driver's hash compare is a proof that the decorrelation preserves
# semantics.


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: supplier(s) with the maximum quarterly revenue.

    The textbook form filters a revenue view by a scalar ``= (SELECT
    MAX(...))`` over itself. Decorrelated: the per-supplier revenue
    aggregate is computed ONCE and pinned (`localCheckpoint(eager=False)`
    — it feeds both the max and the equality filter; unpinned, Spark
    would scan lineitem twice), the 1-row max broadcasts back, and the
    equality join is exact because revenue is decimal-anchored on both
    engines (double equality on bit-identical values). At 100 TB: one
    map-side-combined shuffle of lineitem by suppkey into a dim-sized
    aggregate; everything after is dim-sized.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(dsum(_revenue(), wide=True).alias("total_revenue"))
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


SQL_TOP_SUPPLIER = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dsum(SQL_REVENUE, wide=True)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: yearly revenue lost to small-quantity orders.

    The textbook correlates ``l_quantity < 0.2 * (SELECT AVG(l_quantity)
    ... WHERE l_partkey = p_partkey)`` per outer row. Decorrelated as ONE
    windowed pass (r16, guide §2.4): the per-part average is the
    decimal-anchored window aggregate over ``l_partkey`` — bit-identical
    to the aggregate-and-join-back form because the decimal sum is
    order-independent — and the threshold compare is row-local. The
    previous form pinned the brand lineitems and joined the per-part
    aggregate back: two partkey exchanges plus a sort-merge join and a
    materialized copy; the window form is a single partkey exchange, one
    sort, zero joins, zero pins. Per-part groups are bounded (suppliers ×
    order lines per part — a TPC-H constant), so the window is skew-safe
    at any scale. At 100 TB: one shuffle of the brand-filtered lineitems,
    full stop.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = (
        lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(brand_parts, F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("__avg_qty", davg_over("l_quantity", w))
        .filter(F.col("l_quantity") < F.lit(0.2).cast("double") * F.col("__avg_qty"))
        .agg(
            (dsum("l_extendedprice", wide=True) / F.lit(7.0)).alias("avg_yearly")
        )
    )


SQL_SMALL_QTY_REVENUE = f"""
SELECT {sql_dsum('l_extendedprice', wide=True)} / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < CAST(0.2 AS DOUBLE) * (
    SELECT {sql_davg('l_quantity')}
    FROM lineitem WHERE l_partkey = p_partkey
  )
"""


def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: customers behind the largest-volume orders.

    The textbook gates on ``o_orderkey IN (SELECT l_orderkey ... HAVING
    SUM(l_quantity) > 280)`` and then re-aggregates the same sum in the
    output. Decorrelated: ONE orderkey-keyed aggregate produces both the
    gate and the output value; the surviving handful of orders joins
    orders/customer with the tiny side broadcast by AQE. At 100 TB the
    only fact-sized work is the map-side-combined lineitem aggregate —
    the IN-subquery's second scan and second aggregation are gone.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > F.lit(280.0))
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey"
        )
    )


SQL_LARGE_VOLUME_ORDERS = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       {sql_dsum('l_quantity')} AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING {sql_dsum('l_quantity')} > 280.0
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: above-average-balance customers gone quiet.

    Textbook: a scalar global-average subquery plus a per-customer NOT
    EXISTS against orders. Decorrelated: the 1-row average cross-joins
    back as a broadcast (no per-row subquery), and NOT EXISTS becomes a
    LEFT ANTI join against the date-filtered order feed — the date
    predicate pushes to the orders scan, so the anti-join's right side is
    the recent slice, not table history. Grouping lands on the broadcast
    nation dim. At 100 TB: one customer-keyed anti-join shuffle is the
    only fact-sized exchange.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal").alias("__avg_bal"))
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        customer.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("__avg_bal"))
        .join(recent, "c_custkey", "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("nation")
    )


SQL_IDLE_RICH_CUSTOMERS = f"""
SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS numcust,
       {sql_dsum('c_acctbal')} AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT {sql_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY n_name
ORDER BY n_name
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 undelivered orders by revenue for a segment.

    The segment filter reduces customer to a key list BEFORE the join
    (semi-join shape — no customer payload travels); the date predicates
    push to the orders and lineitem scans; and the top-10 must execute as
    TakeOrdered (limit pushed into the shuffle — every partition ships
    its local top-10, the driver merges 10×P rows), never a global sort
    materializing the full aggregate. At 100 TB the only fact-sized work
    is the orderkey-keyed aggregate of the filtered join.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-07-01 00:00:00").cast("timestamp")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp")
    )
    building = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(building, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_revenue(), wide=True).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum(SQL_REVENUE, wide=True)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-07-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo revenue share for one ship month.

    Both the numerator (PROMO-typed revenue) and the denominator ride the
    SAME aggregate pass as conditional sums — the two-query formulation a
    naive translation produces would scan the month twice. The month
    predicate pushes to the lineitem scan; part joins on partkey (AQE
    picks broadcast vs shuffle by size). Decimal-anchored sums make the
    final one-op division bit-identical across engines.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0.0))
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0) * dsum(promo, wide=True)
                / dsum(_revenue(), wide=True)
            ).alias("promo_share")
        )
    )


SQL_PROMO_REVENUE_SHARE = f"""
SELECT 100.0 * {sql_dsum(f"CASE WHEN p_type = 'PROMO' THEN {SQL_REVENUE} ELSE 0.0 END", wide=True)}
       / {sql_dsum(SQL_REVENUE, wide=True)} AS promo_share
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""


def q_disjunctive_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: revenue under an OR-of-ANDs brand/size/quantity
    predicate.

    The classic optimizer test: the disjunction must NOT break the join
    into three union'd scans or a nested loop — Catalyst keeps ONE
    partkey equi-join and evaluates the OR as a join residual, while
    constraint extraction pushes each side's common superset (the brand
    IN-list and size floor to the part scan, the quantity bounds to the
    lineitem scan) so row groups skip before the join even sees them.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    band = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 30)
        & F.col("l_quantity").between(20, 30)
    )
    return lineitem.join(
        part, (F.col("l_partkey") == F.col("p_partkey")) & band
    ).agg(
        dsum(_revenue(), wide=True).alias("revenue"),
        F.count("*").alias("n_items"),
    )


SQL_DISJUNCTIVE_BAND_REVENUE = f"""
SELECT {sql_dsum(SQL_REVENUE, wide=True)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one nation's revenue share by order year.

    Share-of-total without a self-join or window: the numerator is a
    conditional sum over the SAME per-year aggregate as the denominator.
    The customer→nation lookup broadcasts (fixed-size dim); lineitem
    shuffles once onto orders; the per-year output is a handful of rows.
    Both sums are decimal-anchored, so the per-year division and the
    6-dp round agree across engines.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    target = F.when(F.col("n_name") == "NATION_3", _revenue()).otherwise(
        F.lit(0.0)
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                dsum(target, wide=True) / dsum(_revenue(), wide=True), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


SQL_NATION_MARKET_SHARE = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       round({sql_dsum(f"CASE WHEN n_name = 'NATION_3' THEN {SQL_REVENUE} ELSE 0.0 END", wide=True)}
             / {sql_dsum(SQL_REVENUE, wide=True)}, 6) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: bilateral trade volume between two nations by year.

    The two nation lookups are DIFFERENT dimension roles on the same
    table (supplier's nation vs customer's nation) — both broadcast, so
    the only shuffles are the fact-sized orderkey and custkey joins. The
    pair filter ((A→B) OR (B→A)) stays a residual on the broadcast join,
    never a union of two plans; the ship-year comes off the lineitem row
    (no orders re-scan). Output is bounded: 2 directions × years.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        # supplier scales with SF — statistics/AQE decide; nations broadcast
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(_revenue(), wide=True).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_VOLUME_SHIPPING = f"""
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {sql_dsum(SQL_REVENUE, wide=True)} AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY ns.n_name, nc.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: distribution of customers by order count.

    The join must be LEFT OUTER from customer (zero-order customers are
    the point of the query — an inner join silently loses the biggest
    histogram bucket) and the two aggregations stay separate: the first
    is custkey-keyed (fact-sized shuffle), the second groups the
    1-row-per-customer result by its count (trivially small). The
    priority filter belongs INSIDE the join's right side, not a WHERE
    after it — a post-join filter would turn the outer join inner.
    """
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_customer = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # NULLs don't count
    )
    return (
        per_customer.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: the cheapest supplier for every qualifying part.

    The textbook form is a correlated MIN subquery per part (the oracle
    states exactly that, tie broken to the lowest suppkey by a second
    correlated MIN); the plan decorrelates it into ONE argmin aggregate —
    ``min(struct(cost, suppkey))`` — so the per-part minimum and its
    witness come out of a single shuffle instead of a re-scan per part.
    Unit costs derive from lineitem (this corpus has no partsupp table);
    the part filter prunes the FACT side via a broadcast semi-join
    before the aggregate, so the costed row set is already part-filtered.
    Cross-engine determinism: cost is rounded to 6 dp BEFORE the argmin,
    so both engines tie-break identical values, never near-equal doubles;
    :func:`binary_round` rounds exactly as the oracle's ``round`` does.
    """
    wanted = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_name")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(wanted.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    costs = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        binary_round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6).alias(
            "unit_cost"
        )
    )
    best = (
        costs.groupBy("l_partkey")
        .agg(F.min(F.struct("unit_cost", "l_suppkey")).alias("b"))
        .select(
            "l_partkey",
            F.col("b.unit_cost").alias("min_cost"),
            F.col("b.l_suppkey").alias("best_suppkey"),
        )
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(F.broadcast(wanted), F.col("l_partkey") == F.col("p_partkey"))
        .join(supplier, F.col("best_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_name", "min_cost")
        .orderBy("p_partkey")
    )


SQL_MIN_COST_SUPPLIER = """
WITH costs AS (
  SELECT l_partkey, l_suppkey,
         round(MIN(l_extendedprice / l_quantity), 6) AS unit_cost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT p_partkey, p_name, s_name, c.unit_cost AS min_cost
FROM part
JOIN costs c ON c.l_partkey = p_partkey
JOIN supplier ON s_suppkey = c.l_suppkey
WHERE p_type = 'STANDARD' AND p_size <= 10
  AND c.unit_cost = (
    SELECT MIN(c2.unit_cost) FROM costs c2 WHERE c2.l_partkey = p_partkey
  )
  AND c.l_suppkey = (
    SELECT MIN(c3.l_suppkey) FROM costs c3
    WHERE c3.l_partkey = p_partkey
      AND c3.unit_cost = (
        SELECT MIN(c4.unit_cost) FROM costs c4 WHERE c4.l_partkey = p_partkey
      )
  )
ORDER BY p_partkey
"""


def q_nation_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: product-line revenue by supplier nation and year.

    (Adaptation note: reference Q9 subtracts ``ps_supplycost·qty``; this
    corpus carries no partsupp table, so the measure is revenue — the
    JOIN SHAPE is the point: a name-filtered part dimension pruning the
    fact scan through a broadcast semi-join, then orderkey + suppkey
    joins with the nation lookup broadcast, grouped to a bounded
    (nation × year) output. Nothing here is a blow-up join: every join
    is an equi-join on a key, and the only fact-sized shuffle is the
    orderkey join.)
    """
    widgets = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(widgets),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(_revenue(), wide=True).alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


SQL_NATION_PRODUCT_PROFIT = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       {sql_dsum(SQL_REVENUE, wide=True)} AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


#: Q11 concentration threshold: parts whose revenue exceeds this multiple
#: of the MEAN per-part revenue. Relative-to-mean (not a fixed fraction of
#: the total) so the predicate is scale-invariant: a fixed fraction f of
#: total goes empty as soon as the part dimension outgrows 1/f — measured
#: here: f=0.0006 yields 326 rows at sf0.01 and ZERO at sf0.1.
CONCENTRATION_MEAN_MULTIPLE = 1.5


def q_part_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: parts concentrating an outsized revenue share.

    Textbook: ``HAVING SUM(rev) > m · (SELECT AVG(rev) FROM ...)`` — a
    scalar subquery re-aggregating the same table. Decorrelated: the
    per-part aggregate is computed ONCE and pinned (it feeds the global
    mean AND the threshold filter; unpinned, Spark would scan lineitem
    twice), the mean is a decimal-anchored re-sum over count of the
    per-part sums (order-independent, so both engines hold bit-identical
    doubles and the ``>`` threshold and reported ``x_mean`` agree
    exactly), and the 1-row scalar broadcasts back. At 100 TB: one
    map-side-combined partkey shuffle; everything after is
    dimension-sized.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pr = (
        lineitem.groupBy("l_partkey")
        .agg(dsum(_revenue(), wide=True).alias("part_revenue"))
        .localCheckpoint(eager=False)
    )
    mean = pr.agg(davg("part_revenue", wide=True).alias("__mean"))
    return (
        pr.join(
            F.broadcast(mean),
            F.col("part_revenue")
            > F.lit(CONCENTRATION_MEAN_MULTIPLE) * F.col("__mean"),
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_name",
            "part_revenue",
            F.round(F.col("part_revenue") / F.col("__mean"), 6).alias("x_mean"),
        )
        .orderBy(F.col("part_revenue").desc(), "p_partkey")
    )


SQL_PART_CONCENTRATION = f"""
WITH pr AS (
  SELECT l_partkey, {sql_dsum(SQL_REVENUE, wide=True)} AS part_revenue
  FROM lineitem GROUP BY l_partkey
)
SELECT p_partkey, p_name, part_revenue,
       round(part_revenue /
             (SELECT {sql_dsum('part_revenue', wide=True)} / COUNT(part_revenue)
              FROM pr), 6) AS x_mean
FROM part JOIN pr ON l_partkey = p_partkey
WHERE part_revenue > {CONCENTRATION_MEAN_MULTIPLE}
      * (SELECT {sql_dsum('part_revenue', wide=True)} / COUNT(part_revenue)
         FROM pr)
ORDER BY part_revenue DESC, p_partkey
"""


def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: supplier variety per part attribute, excluding a
    blacklist.

    Textbook: ``COUNT(DISTINCT suppkey) ... WHERE suppkey NOT IN (SELECT
    ... complaints)`` over the part-supplier association (this corpus's
    association table is lineitem). Decorrelated: the blacklist is a
    broadcast LEFT ANTI before anything else touches the rows — pruning
    the fact scan's output at the map side, where a NOT IN subquery
    naively re-evaluates per row. (Anti-join equals NOT IN here because
    the blacklist key is non-nullable; a nullable NOT IN is the one
    SQL construct whose three-valued logic an anti-join does NOT
    replicate — worth stating because it is the classic silent-rewrite
    trap.) The distinct count shuffles (brand, size)-keyed with partial
    aggregation; part joins on the natural key with AQE choosing the
    strategy.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    blacklist = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        lineitem.join(F.broadcast(blacklist), "l_suppkey", "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


SQL_PART_SUPPLIER_VARIETY = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


def q_referral_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup via a native recursive CTE (Spark 4 ``UnionLoop``).

    The reference has no hierarchical data, but every warehouse grows one
    (org charts, referral trees, bill-of-materials) and the reference's
    BigQuery delegate answers them with ``WITH RECURSIVE``
    (`visualization/app.py:40-51` is plain SQL passthrough — any SQL the
    warehouse dialect supports is in-scope query surface). This query
    derives a deterministic referral forest over ``customer`` —
    ``parent(c) = c div 10``, customers 0-9 are the roots — walks it with
    Spark 4's native recursive CTE, and rolls each tree up to (member
    count, max depth, decimal-anchored balance total).

    Scale shape: the anchor member is one pushed-down scan (``c_custkey
    <= 9``); each of the O(log10 N) loop iterations is ONE equi-join of
    the frontier against the column-pruned customer scan (the formatted
    plan shows ``Project [c_custkey, c_acctbal]`` under the recursion —
    pruning reaches inside the loop), and every customer enters the
    frontier exactly once, so total probe work is O(N) rows across all
    iterations, never quadratic. The final aggregate shuffles 10 groups.
    At 100 TB the iteration count stays logarithmic in the key domain and
    each step is an ordinary shuffle join AQE can re-plan — this is
    exactly how an iterative `large-star` style expansion behaves, but
    expressed declaratively so Catalyst owns the loop body.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "referral_rollup_customer"
    )
    return spark.sql(
        f"""
        WITH RECURSIVE chain AS (
          SELECT c_custkey AS custkey, c_custkey AS root,
                 0 AS depth, c_acctbal AS bal
          FROM referral_rollup_customer WHERE c_custkey <= 9
          UNION ALL
          SELECT c.c_custkey, ch.root, ch.depth + 1, c.c_acctbal
          FROM referral_rollup_customer c
          JOIN chain ch ON c.c_custkey DIV 10 = ch.custkey
          WHERE c.c_custkey >= 10
        )
        SELECT root, COUNT(*) AS n_members, MAX(depth) AS max_depth,
               {sql_dsum("bal")} AS total_balance
        FROM chain GROUP BY root ORDER BY root
        """
    )


#: DuckDB states the identical recursion (``//`` is DuckDB's integer
#: division, matching Spark's ``DIV``); the anchored decimal sum makes
#: the double totals bit-identical in any execution order.
SQL_REFERRAL_ROLLUP = f"""
WITH RECURSIVE chain AS (
  SELECT c_custkey AS custkey, c_custkey AS root, 0 AS depth, c_acctbal AS bal
  FROM customer WHERE c_custkey <= 9
  UNION ALL
  SELECT c.c_custkey, ch.root, ch.depth + 1, c.c_acctbal
  FROM customer c JOIN chain ch ON c.c_custkey // 10 = ch.custkey
  WHERE c.c_custkey >= 10
)
SELECT root, COUNT(*) AS n_members, MAX(depth) AS max_depth,
       {sql_dsum('bal')} AS total_balance
FROM chain GROUP BY root ORDER BY root
"""


#: PageRank fixed-point parameters. The damping split is written as two
#: separate literals (0.85 / 0.15), NEVER computed as ``1 - d``: Python's
#: ``1 - 0.85`` is 0.15000000000000002 while SQL's ``0.15`` parses to the
#: nearest double of 0.15 — a 1-ulp literal mismatch that would drift the
#: engines apart. Identical literal text on both sides = identical doubles.
PAGERANK_ITERATIONS = 6
PAGERANK_DAMPING = 0.85
PAGERANK_BASE = 0.15


def q_referral_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the referral forest: iterative fixed-point as a
    driver-orchestrated DataFrame loop.

    The recursive CTE (`referral_rollup`) covers hierarchy WALKS; this
    covers the other iterative family a warehouse grows into — fixed-point
    algorithms (PageRank/label propagation/HITS) where every iteration
    re-aggregates the whole node set and SQL's recursive member cannot
    (the standard forbids grouped aggregation inside recursion). The
    Spark-idiomatic shape is a bounded driver loop over DataFrames:

    - each iteration is ONE equi-join (edges ⋈ ranks on src) + ONE
      dst-keyed partial-aggregated shuffle — the sparse matrix-vector
      multiply, embarrassingly parallel at any graph size;
    - every iteration ends in ``localCheckpoint(eager=False)``: without
      it the lazy plan DOUBLES per iteration (classic iterative-Spark
      lineage blow-up) and stage-retry recomputes the whole chain — the
      same pin discipline as the shared-aggregate rule, applied to loops;
    - the graph is the deterministic referral forest (``parent = custkey
      div 10``, non-roots have out-degree exactly 1, roots are dangling —
      simplified PageRank without dangling-mass redistribution, stated so
      the oracle computes the identical recurrence);
    - each iteration's incoming mass is decimal-anchored (``dsum`` wide),
      so after 6 iterations both engines still hold bit-identical
      doubles: cross-engine fixed-point parity is proven by value hash,
      not tolerance.

    The oracle unrolls the SAME ``PAGERANK_ITERATIONS`` iterations as
    chained CTEs — plain ANSI SQL, bit-identical by construction. At
    100 TB: per-iteration cost is one fact-sized shuffle; the driver only
    schedules (never touches rows), and convergence-based stopping would
    read one aggregated delta per iteration, still O(1) driver data.
    """
    customer = load_table(spark, sf_dir, "customer")
    nodes = customer.select(F.col("c_custkey").alias("id"))
    edges = (
        customer.filter(F.col("c_custkey") >= 10)
        .select(
            F.col("c_custkey").alias("src"),
            F.expr("c_custkey DIV 10").alias("dst"),
        )
        .localCheckpoint(eager=False)  # reused every iteration: pin once
    )
    n_total = nodes.agg(F.count("*").alias("__n"))
    ranks = (
        nodes.join(F.broadcast(n_total), F.lit(True))
        .select("id", (F.lit(1.0) / F.col("__n")).alias("pagerank"))
        .localCheckpoint(eager=False)
    )
    for _ in range(PAGERANK_ITERATIONS):
        contrib = (
            edges.join(ranks, F.col("src") == F.col("id"))
            .groupBy(F.col("dst").alias("cid"))
            .agg(dsum("pagerank", wide=True).alias("__in"))
        )
        ranks = (
            nodes.join(contrib, F.col("id") == F.col("cid"), "left_outer")
            .join(F.broadcast(n_total), F.lit(True))
            .select(
                "id",
                (
                    F.lit(PAGERANK_BASE) / F.col("__n")
                    + F.lit(PAGERANK_DAMPING)
                    * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("pagerank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("id").alias("custkey"), "pagerank").orderBy(
        "custkey"
    )


def _pagerank_oracle() -> str:
    """The identical recurrence, unrolled into chained CTEs (r0..rK)."""
    n = "(SELECT COUNT(*) FROM customer)"
    base = f"CAST({PAGERANK_BASE} AS DOUBLE) / {n}"
    damp = f"CAST({PAGERANK_DAMPING} AS DOUBLE)"
    ctes = [
        "nodes AS (SELECT c_custkey AS id FROM customer)",
        "edges AS (SELECT c_custkey AS src, c_custkey // 10 AS dst\n"
        "          FROM customer WHERE c_custkey >= 10)",
        f"r0 AS (SELECT id, CAST(1 AS DOUBLE) / {n} AS pagerank FROM nodes)",
    ]
    for i in range(1, PAGERANK_ITERATIONS + 1):
        ctes.append(
            f"r{i} AS (SELECT n.id, {base} + {damp} * "
            "COALESCE(s.m, CAST(0 AS DOUBLE)) AS pagerank\n"
            f"  FROM nodes n LEFT JOIN (\n"
            f"    SELECT e.dst, {sql_dsum('r.pagerank', wide=True)} AS m\n"
            f"    FROM edges e JOIN r{i - 1} r ON e.src = r.id GROUP BY e.dst\n"
            "  ) s ON s.dst = n.id)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT id AS custkey, pagerank "
        f"FROM r{PAGERANK_ITERATIONS} ORDER BY custkey"
    )


SQL_REFERRAL_PAGERANK = _pagerank_oracle()


def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: forecast revenue increase from removing a discount
    band.

    The simplest shape in the suite and the purest pushdown test: zero
    joins, zero groups. Every predicate — ship-year range, discount band,
    quantity cap — must reach the parquet scan as ``PushedFilters`` so
    row groups skip on their min/max statistics before decompression, and
    the aggregate is a map-side partial merged into ONE row. At 100 TB
    this query is IO-bound on exactly the row groups whose statistics
    ranges intersect the predicate box; the file-level skipping manifest
    (`warehouse/skipping.py`) composes with the same predicates to prune
    whole files first. Only 4 of lineitem's 11 columns reach the reader.
    With this query all 22 TPC-H query SHAPES have a registered
    adaptation (Q1-Q22; partsupp-dependent ones reshaped onto lineitem
    as documented per query).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), wide=True).alias(
            "revenue_increase"
        ),
        F.count("*").alias("n_items"),
    )


SQL_DISCOUNTED_REVENUE = f"""
SELECT {sql_dsum('l_extendedprice * l_discount', wide=True)} AS revenue_increase,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: order-priority mix of late shipments by line
    status.

    (Adaptation note: this corpus's lineitem has no
    shipmode/commitdate/receiptdate — `l_linestatus` stands in for the
    mode grouping and "late" is a ship date ≥ 60 days after the order
    date. The SHAPE is the point: both priority counters ride ONE
    aggregate pass as conditional sums — the naive translation runs two
    filtered scans — and the lateness predicate compares columns from
    BOTH join sides, so it can only run as a join residual; pushing it
    to either scan would be wrong. What CAN push does: the ship-year
    window reaches the lineitem scan, orders is pruned to 3 columns.)
    At 100 TB the single orderkey-keyed fact-fact shuffle dominates and
    the output is 2 rows.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_count"),
        )
        .orderBy("l_linestatus")
    )


SQL_LATE_SHIPMENT_PRIORITY = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


#: Q20 volume-share threshold: a supplier qualifies on a part when it
#: shipped MORE than this fraction of the part's total windowed volume.
#: Share-of-part (not an absolute quantity) so the predicate is
#: scale-invariant: replicating the corpus 4× with id-shifted suppliers
#: leaves each part's share distribution, and so the qualifying set's
#: density, unchanged.
EXCESS_VOLUME_FRACTION = 0.5


def q_excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: suppliers holding an outsized share of a part's
    shipped volume.

    Textbook Q20 is the deepest nesting in the suite — ``IN (… GROUP BY …
    HAVING SUM(qty) > f · (SELECT SUM(qty) … correlated on the part))`` —
    and the oracle states exactly that correlated form. (Adaptation:
    no partsupp table here, so the association with a volume measure is
    the shipped lineitem quantity itself; the part filter is the PROMO
    type.) The plan decorrelates it the way the Q11/Q15 rewrites do:

    - the PROMO part filter prunes the FACT scan via a broadcast
      semi-join before anything aggregates;
    - one map-side-combined aggregate reduces the fact rows to quantity
      per (partkey, suppkey) — the partial aggregation shrinks the
      shuffle ~|lineitems per pair|-fold, which is why the aggregate
      comes FIRST and not after a partkey repartition;
    - the per-part total is an aggregate OF THAT AGGREGATE (decimal
      re-sum of the per-supplier sums — exact and order-independent, so
      the ``>`` compare agrees bit-for-bit with DuckDB's correlated
      scalar), joined back partkey-keyed — part-dimension-sized, AQE
      broadcasts it. The pair aggregate is pinned
      (``localCheckpoint(eager=False)``) because it feeds BOTH the total
      and the threshold side. (A window rewrite — ``dsum_over`` of
      ``supp_qty`` over ``l_partkey``, as small_qty_revenue does since
      r16 — was measured SLOWER here: 1.02-1.16 s pinned-join vs
      1.20-1.60 s windowed at sf0.1, because the pair table must be
      RE-exchanged partkey-keyed and sorted for the window, while the
      join-back rides the dimension-sized totals as an AQE broadcast
      with no second fact-side exchange. Q17 wins with the window only
      because its window rides the SAME exchange the rows need anyway;
      Q20's pair aggregate is keyed (partkey, suppkey), so it doesn't.);
    - the threshold multiply-compare is map-side (0.5 is a power of two:
      the product is exact), and qualifying rows group per supplier with
      the 100-row supplier dim joined last.

    At 100 TB the only fact-sized work is the semi-join-pruned scan and
    one (partkey, suppkey) shuffle; everything after is bounded by
    |parts| × avg suppliers-per-part.
    """
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(
            F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
        )
    )
    per_ps = (
        lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity").alias("supp_qty"))
        .localCheckpoint(eager=False)
    )
    totals = per_ps.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        dsum("supp_qty").alias("part_qty")
    )
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_ps.join(totals, F.col("l_partkey") == F.col("t_partkey"))
        .filter(
            F.col("supp_qty") > F.lit(EXCESS_VOLUME_FRACTION) * F.col("part_qty")
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_dominated_parts"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "n_dominated_parts")
        .orderBy("s_suppkey")
    )


SQL_EXCESS_VOLUME_SUPPLIERS = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey, {sql_dsum('l_quantity')} AS supp_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
  GROUP BY l_partkey, l_suppkey
)
SELECT s_suppkey, s_name, COUNT(*) AS n_dominated_parts
FROM supplier JOIN ps ON s_suppkey = l_suppkey
WHERE supp_qty > {EXCESS_VOLUME_FRACTION} * (
  SELECT {sql_dsum('p2.supp_qty')} FROM ps p2 WHERE p2.l_partkey = ps.l_partkey
)
GROUP BY s_suppkey, s_name
ORDER BY s_suppkey
"""


QUERIES = [
    QuerySpec(
        "pricing_summary",
        q_pricing_summary,
        SQL_PRICING_SUMMARY,
        "TPC-H Q1-shaped pricing summary (flagship)",
        bench=True,
        tags=("agg", "sort"),
    ),
    QuerySpec(
        "region_revenue",
        q_region_revenue,
        SQL_REGION_REVENUE,
        "Q5-shaped 5-way join with broadcast dimensions",
        bench=True,
        tags=("join", "agg"),
    ),
    QuerySpec(
        "top_customers",
        q_top_customers,
        SQL_TOP_CUSTOMERS,
        "Q10-shaped top-20 customers by returned revenue",
        bench=True,
        tags=("join", "agg", "topk"),
    ),
    QuerySpec(
        "order_priority",
        q_order_priority,
        SQL_ORDER_PRIORITY,
        "Q4-shaped EXISTS semi-join priority counts",
        bench=True,
        tags=("join", "semi"),
    ),
    QuerySpec(
        "supplier_volume",
        q_supplier_volume,
        SQL_SUPPLIER_VOLUME,
        "volume per supplier nation (broadcast dims)",
        tags=("join", "agg"),
    ),
    QuerySpec(
        "part_type_stats",
        q_part_type_stats,
        SQL_PART_TYPE_STATS,
        "dimension aggregate with min/max/avg",
        tags=("agg",),
    ),
    QuerySpec(
        "top_orders_per_customer",
        q_top_orders_per_customer,
        SQL_TOP_ORDERS_PER_CUSTOMER,
        "window top-3 orders per customer",
        bench=True,
        tags=("window",),
    ),
    QuerySpec(
        "revenue_rollup",
        q_revenue_rollup,
        SQL_REVENUE_ROLLUP,
        "ROLLUP subtotals over region/nation",
        tags=("agg", "rollup"),
    ),
    QuerySpec(
        "event_cube",
        q_event_cube,
        SQL_EVENT_CUBE,
        "CUBE with GROUPING() markers over event_type × day",
        tags=("agg", "rollup"),
    ),
    QuerySpec(
        "retention_cohorts",
        q_retention_cohorts,
        SQL_RETENTION_COHORTS,
        "cohort-day x offset retention triangle over events",
        tags=("agg", "behavioral"),
    ),
    QuerySpec(
        "event_funnel",
        q_event_funnel,
        SQL_EVENT_FUNNEL,
        "strictly-ordered 4-stage conversion funnel with stage rates",
        tags=("agg", "behavioral"),
    ),
    QuerySpec(
        "scd2_user_state",
        q_scd2_user_state,
        SQL_SCD2_USER_STATE,
        "SCD Type-2 versioned user-state history with valid_from/valid_to",
        tags=("window", "warehouse"),
    ),
    QuerySpec(
        "incremental_rollup",
        q_incremental_rollup,
        SQL_INCREMENTAL_ROLLUP,
        "incremental aggregate maintenance: merged day states == full "
        "recompute, proven in-plan",
        tags=("agg", "warehouse"),
    ),
    QuerySpec(
        "scd2_snapshots",
        q_scd2_snapshots,
        SQL_SCD2_SNAPSHOTS,
        "point-in-time state census at every midnight, via bounded "
        "interval-explode over the Type-2 history",
        tags=("window", "warehouse"),
    ),
    QuerySpec(
        "streaming_scd2",
        q_streaming_scd2,
        SQL_STREAMING_SCD2,
        "cross-batch SCD Type-2 build through the exactly-once sink, "
        "verified against the batch history's closed versions",
        tags=("streaming", "warehouse"),
    ),
    QuerySpec(
        "incremental_distinct",
        q_incremental_distinct,
        SQL_INCREMENTAL_DISTINCT,
        "incremental COUNT(DISTINCT) via merged per-day HLL sketch "
        "states, with in-plan merge-exactness + tolerance proof",
        tags=("agg", "warehouse", "sketch"),
    ),
    QuerySpec(
        "event_gapfill",
        q_event_gapfill,
        SQL_EVENT_GAPFILL,
        "per-user daily resample with last-observation-carried-forward "
        "over the corpus day grid",
        tags=("window", "timeseries"),
    ),
    QuerySpec(
        "scd2_event_enrich",
        q_scd2_event_enrich,
        SQL_SCD2_EVENT_ENRICH,
        "point-in-time fact enrichment: purchases join the SCD2 "
        "dimension as of their own timestamp (merge-scan as-of vs "
        "native ASOF JOIN oracle)",
        tags=("join", "warehouse", "window"),
    ),
    QuerySpec(
        "daily_active_cumulative",
        q_daily_active_cumulative,
        SQL_DAILY_ACTIVE_CUMULATIVE,
        "DAU / new users / cumulative uniques via the first-day "
        "identity (no quadratic re-scan)",
        tags=("agg", "window", "timeseries"),
    ),
    QuerySpec(
        "lineitem_profile",
        q_lineitem_profile,
        SQL_LINEITEM_PROFILE,
        "one-pass per-column data-quality profile: nulls, exact "
        "distincts, numeric min/max, unpivoted to rows",
        tags=("agg", "quality"),
    ),
    QuerySpec(
        "silence_report",
        q_silence_report,
        SQL_SILENCE_REPORT,
        "batch twin of the streaming heartbeat: users silent past the "
        "threshold as of an anchored watermark",
        tags=("agg", "streaming-twin"),
    ),
    QuerySpec(
        "event_value_percentiles",
        q_event_value_percentiles,
        SQL_EVENT_VALUE_PERCENTILES,
        "exact per-type value percentiles via distributed grouped rank "
        "(no one-task-per-group window)",
        tags=("agg", "window", "order-stats"),
    ),
    QuerySpec(
        "incremental_star_rollup",
        q_incremental_star_rollup,
        SQL_INCREMENTAL_STAR_ROLLUP,
        "incremental star-join view maintenance: merged per-day join "
        "states == full recompute, proven in-plan",
        tags=("agg", "join", "warehouse"),
    ),
    QuerySpec(
        "event_rolling_anomaly",
        q_event_rolling_anomaly,
        SQL_EVENT_ROLLING_ANOMALY,
        "Hampel-filter anomalies: trailing median/MAD flags per user, "
        "row-local array math, no UDF",
        tags=("window", "timeseries", "quality"),
    ),
    QuerySpec(
        "customer_snapshot_diff",
        q_customer_snapshot_diff,
        SQL_CUSTOMER_SNAPSHOT_DIFF,
        "change-data-feed between two table snapshots: insert/delete/"
        "update rows from one keyed full-outer join",
        tags=("join", "warehouse", "cdc"),
    ),
    QuerySpec(
        "waiting_suppliers",
        q_waiting_suppliers,
        SQL_WAITING_SUPPLIERS,
        "Q21-shaped sole-blame late suppliers: correlated EXISTS / NOT "
        "EXISTS decorrelated into one pass + per-order window",
        tags=("join", "window", "agg"),
    ),
    QuerySpec(
        "lineitem_contract",
        q_lineitem_contract,
        SQL_LINEITEM_CONTRACT,
        "declarative data contract: null/range/domain/uniqueness checks "
        "in one scan + referential anti-join",
        tags=("quality", "agg"),
    ),
    QuerySpec(
        "top_supplier",
        q_top_supplier,
        SQL_TOP_SUPPLIER,
        "Q15-shaped scalar-MAX decorrelation: pinned revenue view + "
        "broadcast 1-row max",
        tags=("join", "agg", "decorrelate"),
    ),
    QuerySpec(
        "small_qty_revenue",
        q_small_qty_revenue,
        SQL_SMALL_QTY_REVENUE,
        "Q17-shaped correlated-AVG decorrelation: per-part aggregate "
        "joined back on the reused partkey exchange",
        tags=("join", "agg", "decorrelate"),
    ),
    QuerySpec(
        "large_volume_orders",
        q_large_volume_orders,
        SQL_LARGE_VOLUME_ORDERS,
        "Q18-shaped IN+HAVING decorrelation: one orderkey aggregate is "
        "both gate and output",
        tags=("join", "agg", "decorrelate"),
    ),
    QuerySpec(
        "idle_rich_customers",
        q_idle_rich_customers,
        SQL_IDLE_RICH_CUSTOMERS,
        "Q22-shaped scalar-avg + NOT-EXISTS decorrelation: broadcast "
        "average + LEFT ANTI on the pushed-down recent slice",
        tags=("join", "agg", "decorrelate"),
    ),
    QuerySpec(
        "shipping_priority",
        q_shipping_priority,
        SQL_SHIPPING_PRIORITY,
        "Q3-shaped segment top-10 by revenue: TakeOrdered, semi-shaped "
        "customer filter, both date predicates pushed",
        tags=("join", "agg", "topk"),
    ),
    QuerySpec(
        "promo_revenue_share",
        q_promo_revenue_share,
        SQL_PROMO_REVENUE_SHARE,
        "Q14-shaped conditional-sum ratio in ONE aggregate pass",
        tags=("join", "agg"),
    ),
    QuerySpec(
        "disjunctive_band_revenue",
        q_disjunctive_band_revenue,
        SQL_DISJUNCTIVE_BAND_REVENUE,
        "Q19-shaped OR-of-ANDs join: one equi-join + residual, superset "
        "constraints pushed to both scans",
        tags=("join", "agg"),
    ),
    QuerySpec(
        "nation_market_share",
        q_nation_market_share,
        SQL_NATION_MARKET_SHARE,
        "Q8-shaped share-of-total by year: numerator and denominator in "
        "the same aggregate",
        tags=("join", "agg"),
    ),
    QuerySpec(
        "volume_shipping",
        q_volume_shipping,
        SQL_VOLUME_SHIPPING,
        "Q7-shaped bilateral nation-pair trade volume: one dimension in "
        "two broadcast roles, pair disjunction as a join residual",
        tags=("join", "agg"),
    ),
    QuerySpec(
        "customer_order_distribution",
        q_customer_order_distribution,
        SQL_CUSTOMER_ORDER_DISTRIBUTION,
        "Q13-shaped order-count histogram: LEFT OUTER keeps zero-order "
        "customers, filter inside the join side",
        tags=("join", "agg"),
    ),
    QuerySpec(
        "min_cost_supplier",
        q_min_cost_supplier,
        SQL_MIN_COST_SUPPLIER,
        "Q2-shaped cheapest-supplier-per-part: correlated MIN oracle "
        "decorrelated to one min(struct) argmin aggregate",
        tags=("join", "agg", "decorrelation"),
    ),
    QuerySpec(
        "nation_product_profit",
        q_nation_product_profit,
        SQL_NATION_PRODUCT_PROFIT,
        "Q9-shaped product-line profit by nation and year: name-filtered "
        "part dim prunes the fact scan via broadcast semi-join",
        tags=("join", "agg"),
    ),
    QuerySpec(
        "part_concentration",
        q_part_concentration,
        SQL_PART_CONCENTRATION,
        "Q11-shaped HAVING-over-global-total: pinned per-part aggregate "
        "feeds both the broadcast total and the threshold filter",
        tags=("join", "agg", "decorrelation"),
    ),
    QuerySpec(
        "part_supplier_variety",
        q_part_supplier_variety,
        SQL_PART_SUPPLIER_VARIETY,
        "Q16-shaped blacklisted distinct count: NOT IN oracle served by a "
        "broadcast LEFT ANTI pruning the fact scan map-side",
        tags=("join", "agg", "decorrelation"),
    ),
    QuerySpec(
        "discounted_revenue",
        q_discounted_revenue,
        SQL_DISCOUNTED_REVENUE,
        "Q6-shaped single-scan conditional aggregate: every predicate "
        "pushed to the parquet reader, one partial-merged output row",
        tags=("agg", "pushdown"),
    ),
    QuerySpec(
        "late_shipment_priority",
        q_late_shipment_priority,
        SQL_LATE_SHIPMENT_PRIORITY,
        "Q12-shaped late-shipment priority mix: both counters in one "
        "aggregate pass, lateness as a two-sided join residual",
        tags=("join", "agg"),
    ),
    QuerySpec(
        "excess_volume_suppliers",
        q_excess_volume_suppliers,
        SQL_EXCESS_VOLUME_SUPPLIERS,
        "Q20-shaped nested-IN + correlated HAVING oracle, decorrelated "
        "to a pinned per-(part,supplier) aggregate re-aggregated per part",
        tags=("join", "agg", "decorrelation"),
    ),
    QuerySpec(
        "referral_pagerank",
        q_referral_pagerank,
        SQL_REFERRAL_PAGERANK,
        "iterative fixed-point (PageRank) as a checkpoint-truncated "
        "DataFrame loop; oracle unrolls the same iterations as chained "
        "CTEs — cross-engine parity to the bit after 6 rounds",
        tags=("iterative", "join", "agg"),
    ),
    QuerySpec(
        "referral_rollup",
        q_referral_rollup,
        SQL_REFERRAL_ROLLUP,
        "Hierarchy rollup via Spark 4's native recursive CTE: O(log N) "
        "UnionLoop iterations, each one column-pruned equi-join",
        tags=("recursive", "join", "agg"),
    ),
]
