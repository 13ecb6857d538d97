"""Tests for the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from checks import check_warehouse_rows, compare_to_oracle  # noqa: E402
from spans import self_time  # noqa: E402
from workloads import OpLog  # noqa: E402

START = dt.datetime(2024, 2, 1)


# ------------------------------------------------------------- generators


def test_tpch_tables_are_deterministic_per_seed():
    a, b, c = gen.tpch_tables(7), gen.tpch_tables(7), gen.tpch_tables(8)
    assert a.keys() == set(gen.TPCH_TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == gen.TPCH_ROWS["lineitem"]


def test_observations_are_deterministic_per_seed():
    a = gen.observations(7, 30, 6, START)
    assert a == gen.observations(7, 30, 6, START)
    assert a != gen.observations(8, 30, 6, START)
    assert all(isinstance(v, str) for batch in a for rec in batch for v in rec.values())


def test_expected_rows_keeps_the_latest_reading_and_ignores_replays():
    batch = [
        {"station_id": "s", "station_name": "n", "timestamp": "2024-02-01T05:10:00Z",
         "temperature": "1.0", "humidity": "n/a", "wind_speed": "2"},
        {"station_id": "s", "station_name": "n", "timestamp": "2024-02-01 05:50:00",
         "temperature": "2.0", "humidity": "50", "wind_speed": "3"},
    ]
    late = [dict(batch[0], timestamp="2024-02-01T05:55:00+00:00", temperature="9")]
    rows = gen.expected_rows([batch, late])
    assert rows == {("s", dt.datetime(2024, 2, 1, 5)): ("n", 2.0, 50.0, 3.0)}


# ----------------------------------------------------------------- checks


def _stored(seed=3):
    expected = gen.expected_rows(gen.observations(seed, 20, 4, START))
    rows = [k + v for k, v in sorted(expected.items())]
    return rows, expected


def test_warehouse_check_passes_the_true_table():
    rows, expected = _stored()
    assert check_warehouse_rows(rows, expected) == []


@pytest.mark.parametrize("corrupt", ["drop", "duplicate", "value"])
def test_warehouse_check_fails_a_corrupted_table(corrupt):
    rows, expected = _stored()
    if corrupt == "drop":
        rows = rows[1:]
    elif corrupt == "duplicate":
        rows = rows + [rows[0]]
    else:
        r = rows[5]
        rows[5] = r[:3] + ((r[3] or 0.0) + 0.1,) + r[4:]
    assert check_warehouse_rows(rows, expected)


ORACLE = [("a", 1, 2.5), ("b", 2, None), ("c", 3, 4.0)]


def test_oracle_compare_ignores_order_and_int_float_width():
    spark_rows = [("c", 3.0, 4.0), ("a", 1, 2.5), ("b", 2, None)]
    assert compare_to_oracle(["X", "n", "v"], spark_rows, ["x", "n", "v"], ORACLE) == []


@pytest.mark.parametrize(
    "rows",
    [
        ORACLE[1:],  # dropped row
        ORACLE + [ORACLE[0]],  # duplicated row
        [("a", 1, 2.5), ("b", 2, None), ("c", 3, 4.5)],  # wrong value
    ],
)
def test_oracle_compare_fails_a_corrupted_result(rows):
    assert compare_to_oracle(["x", "n", "v"], rows, ["x", "n", "v"], ORACLE)


# ------------------------------------------------------------ op counting


def test_a_raising_op_counts_as_failed_not_skipped():
    log = OpLog()

    def boom():
        raise RuntimeError("executor lost")

    assert log.run("ok", lambda: 1) is not None
    assert log.run("raises", boom) is None
    assert log.run("wrong", lambda: 2, lambda r: ["2 != 3"]) is None
    assert (log.attempted, log.failed) == (3, 2)
    assert [name for name, _ in log.problems] == ["raises", "wrong"]


# ------------------------------------------------------- metric arithmetic


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    value, pct, beyond = run.tail([float(i) for i in range(1, 101)])
    assert (value, pct, beyond) == (90.0, 90, 10)
    value, pct, beyond = run.tail([float(i) for i in range(1, 23)])
    assert (pct, beyond) == (54, 10)
    value, pct, beyond = run.tail([1.0, 2.0, 3.0])
    assert (value, pct) == (2.0, 50)


def test_self_time_subtracts_child_spans():
    spans = [
        {"id": 0, "parent": None, "layer": "streaming", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "warehouse", "start": 2.0, "end": 8.0},
    ]
    assert self_time(spans) == {"streaming": 4.0, "warehouse": 6.0}


def test_pass_layers_puts_merge_inside_drain():
    spans = [
        {"layer": "streaming", "name": "drain", "start": 0.0, "end": 1.0,
         "counts": {"batches": 1}},
        {"layer": "warehouse", "name": "merge_upsert", "start": 0.2, "end": 0.8,
         "counts": {"rows": 5}},
    ]
    v = run.pass_layers(spans, {"warehouse.files": 3}, cpu=2.0, steal=0.5)
    assert v["streaming.drain_s"] == 1.0
    assert v["warehouse.merge_s"] == pytest.approx(0.6)
    assert v["streaming.overhead_s"] == pytest.approx(0.4)
    assert v["plans.build_s"] == 0.0
    assert set(v) == set(run.PER_LAYER)
