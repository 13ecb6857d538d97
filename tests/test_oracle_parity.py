"""Every registered query must match its DuckDB oracle exactly at sf0.001.

This mirrors the driver's t2 correctness gate (row count + schema + value
comparison, order-insensitive) so regressions surface locally before a
round ends.
"""

from __future__ import annotations

import shutil

import pytest

from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries
from data_engineering_datawarehousingandetlpipeline_spark.session import RUNTIME_CONFS
from tests.conftest import SF_DIR, assert_matches_oracle

SPECS = all_queries()


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, oracle, name):
    """Each query matches its oracle and leaves the caller's temporary
    views as it found them: a drain's memory-sink view would hold its rows
    for the life of the session."""
    spec = SPECS[name]
    views = _temp_views(spark)
    if spec.oracle is None:
        df = spec.fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0  # rows-only check, like the driver's
    else:
        assert_matches_oracle(spark, oracle, spec.fn, spec.oracle)
    assert _temp_views(spark) == views


#: A driver's own session, contradicting every conf the engine's results
#: depend on: a half-hour-offset timezone, NTZ inference for the corpus's
#: timestamp[us] column, nanos read as TIMESTAMP(NANOS), and no AQE.
HOSTILE_CONFS = {
    "spark.sql.session.timeZone": "Asia/Kolkata",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.adaptive.enabled": "false",
}


def test_registry_corrects_a_hostile_session(spark, oracle, tmp_path):
    """Each registered ``fn`` pins the engine's runtime confs before it
    builds its plan, so a hostile session still gets oracle results:
    ``watermark_filter`` casts its cutoff literal in the session timezone
    and ``day_window``'s range bounds assume a UTC session.

    The queries read a fresh copy of the events file, so the per-session
    schema cache holds nothing for it: its schema is inferred under the
    confs the session has when the plan is built."""
    shutil.copy(f"{SF_DIR}/events.parquet", tmp_path / "events.parquet")
    saved = {key: spark.conf.get(key, None) for key in HOSTILE_CONFS}
    try:
        for name in ("watermark_filter", "day_window"):
            for key, value in HOSTILE_CONFS.items():
                spark.conf.set(key, value)
            spec = SPECS[name]
            assert_matches_oracle(
                spark, oracle, spec.fn, spec.oracle, sf_dir=str(tmp_path)
            )
            for key, value in RUNTIME_CONFS.items():
                assert spark.conf.get(key) == value, (name, key)
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
