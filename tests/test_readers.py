"""Corpus reads infer each file's parquet schema once per session."""

from __future__ import annotations

import datetime as dt
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark import session as S
from data_engineering_datawarehousingandetlpipeline_spark.sources import readers as R

_GROUPS = itertools.count()


def _count_jobs(spark, body):
    """Run ``body()`` in its own job group; return (result, jobs started)."""
    sc = spark.sparkContext
    group = f"test-readers-{next(_GROUPS)}"
    sc.setJobGroup(group, "test_readers")
    try:
        out = body()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **columns):
    pq.write_table(pa.table(columns), str(path))


def test_second_read_of_unchanged_file_starts_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=[1, 2, 3], v=["a", "b", "c"])
    first, cold_jobs = _count_jobs(spark, lambda: R.load_table(spark, str(tmp_path), "t"))
    second, warm_jobs = _count_jobs(spark, lambda: R.load_table(spark, str(tmp_path), "t"))
    assert cold_jobs >= 1  # the footer read that infers the schema
    assert warm_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_reinfers_its_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, k=[1, 2])
    assert R.load_table(spark, str(tmp_path), "t").columns == ["k"]
    _write(path, k=[1, 2], extra=[10.5, 20.5])
    df, jobs = _count_jobs(spark, lambda: R.load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1
    assert df.columns == ["k", "extra"]
    assert sorted(df.collect()) == [(1, 10.5), (2, 20.5)]


def test_directory_paths_are_not_cached(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", k=[1, 2])
    before = dict(R._SCHEMA_CACHE)
    assert R.load_table(spark, str(tmp_path), "t").count() == 2
    assert R._SCHEMA_CACHE == before


_TS = [
    dt.datetime(2024, 1, 1, 0, 0, 0),
    dt.datetime(2024, 1, 1, 12, 30, 15, 123456),
    dt.datetime(2024, 3, 1, 23, 59, 59, 999999),
]
#: µs since the epoch of ``_TS``, read as UTC wall clock.
_TS_US = [
    (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) for t in _TS
]


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_dtype_and_values_survive_a_warm_cache(spark, tmp_path, unit):
    """Both corpus vintages of ``events.ts`` — TIMESTAMP(NANOS) read as raw
    nanos, and timestamp[us] with isAdjustedToUTC=false — must come out as
    a plain TIMESTAMP holding the same instants, cold or warm."""
    raw = [us * 1000 + 789 for us in _TS_US] if unit == "ns" else _TS_US
    table = pa.table(
        {"user_id": [1, 2, 3], "ts": pa.array(raw, pa.timestamp(unit))}
    )
    pq.write_table(table, str(tmp_path / "events.parquet"), version="2.6")

    def micros(df):
        return [r[0] for r in df.orderBy("user_id").select(F.unix_micros("ts")).collect()]

    cold = R.load_table(spark, str(tmp_path), "events")
    warm, jobs = _count_jobs(spark, lambda: R.load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    for df in (cold, warm):
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert micros(df) == _TS_US  # nanos truncate to µs, as DuckDB reads them
    ranged = R.load_events_range(spark, str(tmp_path), _TS[1], _TS[2])
    assert dict(ranged.dtypes)["ts"] == "timestamp"
    assert micros(ranged) == _TS_US[1:]


def test_sessions_keep_separate_entries_and_dead_ones_are_evicted(
    spark, tmp_path, monkeypatch
):
    _write(tmp_path / "t.parquet", k=[1])
    other = spark.newSession()
    R.load_table(spark, str(tmp_path), "t")
    _, jobs = _count_jobs(other, lambda: R.load_table(other, str(tmp_path), "t"))
    assert jobs >= 1  # the other session infers for itself
    path = str(tmp_path / "t.parquet")
    live_key = (S.session_uuid(spark), path)
    other_key = (S.session_uuid(other), path)
    assert live_key in R._SCHEMA_CACHE and other_key in R._SCHEMA_CACHE

    # A sweep keeps only the session that triggers it.
    monkeypatch.setattr(S, "SESSION_CACHE_LIMIT", 1)
    _write(tmp_path / "u.parquet", k=[2])
    R.load_table(spark, str(tmp_path), "u")
    assert other_key not in R._SCHEMA_CACHE
    assert live_key in R._SCHEMA_CACHE
    assert {k[0] for k in R._SCHEMA_CACHE} == {S.session_uuid(spark)}

