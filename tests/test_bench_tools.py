"""The timing protocol's entry points: ``bench.py NAME…`` and the replica
stager."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import bench
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    TABLE_NAMES,
    load_table,
)
from tests.conftest import SF_DIR
from tools import stage_replicas


@pytest.fixture
def bench_on(spark, monkeypatch):
    monkeypatch.setattr(bench, "get_spark", lambda **_: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)


def test_bench_times_exactly_the_named_queries(bench_on, capsys):
    bench.main(["pricing_summary"])
    out = json.loads(capsys.readouterr().out)
    assert set(out) == {"queries", "sf", "cores"}
    assert list(out["queries"]) == ["pricing_summary"]
    assert out["queries"]["pricing_summary"] > 0
    assert out["sf"] == 0.001


def test_bench_rejects_unknown_names(bench_on):
    with pytest.raises(SystemExit) as exc:
        bench.main(["pricing_summary", "no_such_query"])
    assert exc.value.code  # non-zero exit status
    assert "no_such_query" in str(exc.value.code)


def test_stage_replicas_shifts_facts_and_copies_dimensions(spark, tmp_path):
    stage_replicas.stage(spark, SF_DIR, str(tmp_path))
    for t in TABLE_NAMES:
        base = load_table(spark, SF_DIR, t)
        staged = load_table(spark, str(tmp_path), t)
        cols = stage_replicas.SHIFT_COLS.get(t)
        if cols is None:
            assert staged.exceptAll(base).isEmpty()
            assert base.exceptAll(staged).isEmpty()
            continue
        assert staged.count() == stage_replicas.REPLICAS * base.count()
        # each replica's ids land in their own stride
        for c in cols:
            assert staged.select(c).distinct().count() == (
                stage_replicas.REPLICAS * base.select(c).distinct().count()
            )
        replica = (F.col(cols[0]) / stage_replicas.SHIFT).cast("int")
        first = staged.filter(replica == 0)
        assert first.exceptAll(base).isEmpty() and base.exceptAll(first).isEmpty()
