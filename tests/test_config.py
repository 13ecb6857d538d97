"""Config surface (reference §1.3 parity)."""

from __future__ import annotations

from data_engineering_datawarehousingandetlpipeline_spark.config import (
    DEFAULT_STATION_WHITELIST,
    load_config,
)
from tests.conftest import SF_DIR


def test_defaults(monkeypatch):
    for var in ("KAFKA_TOPIC", "STATION_WHITELIST", "USE_SAMPLE_DATA", "BATCH_SIZE"):
        monkeypatch.delenv(var, raising=False)
    cfg = load_config()
    assert cfg.kafka_topic == "fmi_observations"
    assert cfg.station_whitelist == DEFAULT_STATION_WHITELIST
    assert len(cfg.station_whitelist) == 6
    assert cfg.use_sample_data is False
    assert cfg.batch_size == 500
    assert cfg.flush_interval_seconds == 10


def test_env_overrides(monkeypatch):
    monkeypatch.setenv("KAFKA_TOPIC", "other_topic")
    monkeypatch.setenv("STATION_WHITELIST", "1, 2 ,3,")
    monkeypatch.setenv("USE_SAMPLE_DATA", "TRUE")
    monkeypatch.setenv("BATCH_SIZE", "42")
    cfg = load_config()
    assert cfg.kafka_topic == "other_topic"
    assert cfg.station_whitelist == ("1", "2", "3")
    assert cfg.use_sample_data is True
    assert cfg.batch_size == 42


def test_empty_whitelist_falls_back_to_default(monkeypatch):
    monkeypatch.setenv("STATION_WHITELIST", " , ")
    assert load_config().station_whitelist == DEFAULT_STATION_WHITELIST


def test_spread_probe_is_cached_per_plan(spark):
    """spread()'s partition probe forces physical planning of its input —
    once per distinct plan per session, not once per call. Same decision
    either way (no behavior change); the second call must hit the cache."""
    from data_engineering_datawarehousingandetlpipeline_spark import session as S
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )

    S._SPREAD_PROBE_CACHE.clear()
    df = load_table(spark, "/root/testdata/sf0.001", "documents")
    out1 = S.spread(df)
    assert len(S._SPREAD_PROBE_CACHE) == 1
    cached = dict(S._SPREAD_PROBE_CACHE)
    out2 = S.spread(load_table(spark, "/root/testdata/sf0.001", "documents"))
    assert S._SPREAD_PROBE_CACHE == cached  # second probe answered from cache
    # identical decision both times: a tiny file fans out to full parallelism
    assert out1.rdd.getNumPartitions() == out2.rdd.getNumPartitions()


def test_warm_tpch_round_compiles_no_classes(spark):
    """Spark caches generated classes in an LRU of
    ``spark.sql.codegen.cache.maxEntries``. One round of the 22 TPC-H
    shapes compiles ~300 distinct classes, more than the 100-entry default,
    so at the default every repeat round recompiled every class. With the
    session's cache sized to the working set, a repeat compiles nothing."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans.registry import (
        TPCH_SHAPES,
        all_queries,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.session import (
        CODEGEN_CACHE_MAX_ENTRIES,
    )

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()  # one count per class compiled
    queries = all_queries()
    frames = [queries[name].fn(spark, SF_DIR) for name in TPCH_SHAPES]

    def noop_round():
        for df in frames:
            df.write.mode("overwrite").format("noop").save()

    noop_round()
    before = compiled.getCount()
    noop_round()
    recompiled = compiled.getCount() - before
    assert recompiled == 0, f"warm round recompiled {recompiled} classes"
