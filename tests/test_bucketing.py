"""Bucketed-table layout: the write-once shuffle that makes hot joins free.

Pins the scale property itself (plan shape), not just result equality:
a bucketed⋈bucketed join on the bucket key must carry NO Exchange, and a
bucket-sorted layout must also drop the per-query Sort.
"""

from __future__ import annotations

import pytest

from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    load_table,
)
from data_engineering_datawarehousingandetlpipeline_spark.warehouse.bucketing import (
    co_located_join,
    read_bucketed,
    write_bucketed,
)

SF_DIR = "/root/testdata/sf0.001"
N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("bucketed-warehouse")
    events = load_table(spark, SF_DIR, "events")
    # two fact-like tables sharing the join key, bucketed identically
    # (external tables: warehouse.dir is static in a live session)
    write_bucketed(
        events.select("event_id", "user_id", "value"),
        "ev_values",
        bucket_col="user_id",
        n_buckets=N_BUCKETS,
        sort_cols=("user_id",),
        path=str(warehouse / "ev_values"),
    )
    write_bucketed(
        events.select("event_id", "user_id", "event_type"),
        "ev_types",
        bucket_col="user_id",
        n_buckets=N_BUCKETS,
        sort_cols=("user_id",),
        path=str(warehouse / "ev_types"),
    )
    yield "ev_values", "ev_types"
    for t in ("ev_values", "ev_types"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    """At warehouse scale neither fact side broadcasts — that regime is
    simulated by disabling the broadcast threshold. The co-located join
    must then be a SortMergeJoin with NO Exchange (co-location from the
    bucket layout) and NO Sort (bucket-sorted files)."""
    left, right = bucketed_tables
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # exploiting sortBy order at scan time is legacy-gated since Spark 3.0
    # (valid only with one file per bucket — which write_bucketed enforces)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        joined = co_located_join(spark, left, right, on="user_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Sort " not in plan.replace("SortMergeJoin", ""), plan
        # correctness: identical to the plain-parquet join
        events = load_table(spark, SF_DIR, "events")
        expect = (
            events.select("event_id", "user_id", "value")
            .join(events.select("event_id", "user_id", "event_type"), "user_id")
            .count()
        )
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )


def test_bucketed_join_query_restores_session_confs(spark):
    """``warehouse_bucketed_join`` disables broadcasts and turns on the
    bucket-sorted scan for its own join, then restores what the caller had
    rather than a fixed value."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.legacy.bucketedTableScan.outputOrdering",
    )
    saved = {key: spark.conf.get(key, None) for key in keys}
    spark.conf.set(keys[1], "true")
    try:
        all_queries()["warehouse_bucketed_join"].fn(spark, SF_DIR)
        assert spark.conf.get(keys[0]) == saved[keys[0]]
        assert spark.conf.get(keys[1]) == "true"
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def test_bucketed_aggregation_has_no_exchange(spark, bucketed_tables):
    left, _ = bucketed_tables
    from pyspark.sql import functions as F

    agg = read_bucketed(spark, left).groupBy("user_id").agg(F.sum("value"))
    assert "Exchange" not in _plan(agg)


def test_path_read_loses_bucketing_loudly(spark, bucketed_tables):
    """Negative control: reading the same files BY PATH drops the bucket
    spec — the join plans an Exchange again. This is the foot-gun the
    module docstring warns about; pin it so the contrast stays true."""
    left, right = bucketed_tables
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {left}")
        .filter("col_name = 'Location'")
        .collect()[0][1]
    )
    by_path = spark.read.parquet(loc).join(
        read_bucketed(spark, right), "user_id"
    )
    assert "Exchange" in _plan(by_path)


def test_bucketed_dedup_has_no_exchange(spark, bucketed_tables):
    """The shuffle-free dedup promised in operators/cleaning.py's scale
    notes: keep-last over a table BUCKETED ON THE DEDUP KEY must satisfy
    the window's clustering requirement straight from the bucket layout —
    no hashpartitioning Exchange anywhere in the plan. (The in-partition
    Sort remains: row_number still orders within each key group.)"""
    from data_engineering_datawarehousingandetlpipeline_spark.operators.cleaning import (
        dedup_keep_last,
    )

    left, _ = bucketed_tables
    deduped = dedup_keep_last(
        read_bucketed(spark, left), keys=("user_id",), order_by=("value",)
    )
    plan = _plan(deduped)
    assert "Exchange" not in plan, plan
    # correctness: one survivor per key, same key set as the plain path
    expect = (
        load_table(spark, SF_DIR, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert deduped.count() == expect
