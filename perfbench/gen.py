"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes and returns the same expectations, a different seed differs.
The engine under test only ever sees the files written here.

- :func:`write_tpch` writes the seven star-schema tables the TPC-H plan
  shapes scan (TPC-H-like domains: 5 regions, 25 nations, five market
  segments, ...), sized like the ``sf0.01`` corpus.
- :func:`observations` builds hourly weather observations the way the
  reference's FMI feed delivers them: raw strings, two readings per
  station and hour, a few unparseable values, and stations that drop
  out. :func:`expected_rows` folds them the way the warehouse should
  (floor to the hour, keep the latest reading per key).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the ``sf0.01`` star schema.
TPCH_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
}
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EPOCH = dt.datetime(1970, 1, 1)


def _days(rng: np.random.Generator, first: dt.date, last: dt.date, n: int) -> pa.Array:
    lo = (dt.datetime.combine(first, dt.time()) - _EPOCH).days
    hi = (dt.datetime.combine(last, dt.time()) - _EPOCH).days
    micros = rng.integers(lo, hi + 1, n).astype(np.int64) * 86_400_000_000
    return pa.array(micros, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """The star schema as Arrow tables (column names and types of the corpus)."""
    rng = np.random.default_rng([seed, 1])
    n = TPCH_ROWS
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": list(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(_SEGMENTS, c).tolist(),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    keys = np.arange(p)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, p), rng.choice(_PART_NOUN, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(_PART_TYPES, p).tolist(),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": rng.choice(("F", "O", "P"), o).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), o),
            "o_orderpriority": rng.choice(_PRIORITIES, o).tolist(),
        }
    )
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), i64),
            "l_partkey": pa.array(rng.integers(0, p, li), i64),
            "l_suppkey": pa.array(rng.integers(0, s, li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), li).tolist(),
            "l_linestatus": rng.choice(("F", "O"), li).tolist(),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), li),
        }
    )
    return tables


def write_tpch(seed: int, out_dir: str) -> None:
    """Write one ``<table>.parquet`` per star-schema table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tpch_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- observations

#: Share of value fields delivered as unparseable text.
BAD_VALUE_RATE = 0.01
_BAD_VALUES = ("n/a", "--", "err", "")
_VALUE_FIELDS = ("temperature", "humidity", "wind_speed")


def _ts_text(t: dt.datetime, style: int) -> str:
    """One instant in the three spellings the feed uses (Z, +00:00, naive)."""
    if style == 0:
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")
    if style == 1:
        return t.strftime("%Y-%m-%dT%H:%M:%S+00:00")
    return t.strftime("%Y-%m-%d %H:%M:%S")


def observations(
    seed: int, stations: int, hours: int, start: dt.datetime, gap_rate: float = 0.02
) -> list[list[dict]]:
    """Raw observation records, one list per hour, in arrival order.

    Each station reports twice an hour at two distinct minutes; both
    readings floor to the same hour key, so the later one must win. About
    ``gap_rate`` of station-hours are missing, and every station goes
    silent for its last 0-5 hours, so stations' row counts and
    high-watermarks differ. Every field arrives as a string.
    """
    rng = np.random.default_rng([seed, 2])
    silent_from = hours - rng.integers(0, 6, stations)
    present = rng.random((hours, stations)) >= gap_rate
    lat = np.round(rng.uniform(59.5, 70.0, stations), 4)
    lon = np.round(rng.uniform(20.0, 31.5, stations), 4)
    out = []
    for h in range(hours):
        base = start + dt.timedelta(hours=h)
        minutes = np.sort(
            np.stack(
                [rng.choice(60, 2, replace=False) for _ in range(stations)]
            ),
            axis=1,
        )
        values = np.round(
            rng.uniform((-30.0, 20.0, 0.0), (30.0, 100.0, 25.0), (stations, 2, 3)), 1
        )
        bad = rng.random((stations, 2, 3)) < BAD_VALUE_RATE
        bad_pick = rng.integers(0, len(_BAD_VALUES), (stations, 2, 3))
        styles = rng.integers(0, 3, (stations, 2))
        batch = []
        for s in range(stations):
            if not present[h, s] or h >= silent_from[s]:
                continue
            for r in range(2):
                rec = {
                    "station_id": f"st{s:05d}",
                    "station_name": f"Station {s}",
                    "latitude": str(lat[s]),
                    "longitude": str(lon[s]),
                    "elevation": "12.0",
                    "timestamp": _ts_text(
                        base + dt.timedelta(minutes=int(minutes[s, r])), int(styles[s, r])
                    ),
                }
                for f, name in enumerate(_VALUE_FIELDS):
                    rec[name] = (
                        _BAD_VALUES[bad_pick[s, r, f]]
                        if bad[s, r, f]
                        else str(values[s, r, f])
                    )
                batch.append(rec)
        out.append(batch)
    return out


def parse_ts(text: str) -> dt.datetime:
    """The UTC instant of a feed timestamp, as a naive datetime."""
    t = dt.datetime.fromisoformat(text.replace("Z", "+00:00"))
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return t


def _value(text: str) -> float | None:
    try:
        return float(text)
    except ValueError:
        return None


def expected_rows(batches: list[list[dict]]) -> dict[tuple[str, dt.datetime], tuple]:
    """Warehouse contents after landing ``batches``: key → kept values.

    Key is (station_id, hour); the reading with the latest original
    timestamp wins; unparseable values become ``None``. Insert-if-absent
    means a key already stored keeps its first-landed row.
    """
    kept: dict[tuple[str, dt.datetime], tuple] = {}
    for batch in batches:
        latest: dict[tuple[str, dt.datetime], tuple[dt.datetime, tuple]] = {}
        for rec in batch:
            t = parse_ts(rec["timestamp"])
            key = (rec["station_id"], t.replace(minute=0, second=0, microsecond=0))
            row = (rec["station_name"],) + tuple(_value(rec[f]) for f in _VALUE_FIELDS)
            if key not in latest or t > latest[key][0]:
                latest[key] = (t, row)
        for key, (_, row) in latest.items():
            kept.setdefault(key, row)
    return kept


def checksum(rows: dict[tuple[str, dt.datetime], tuple]) -> float:
    """Order-free digest of the kept values (None counts as 0)."""
    return round(sum(v or 0.0 for row in rows.values() for v in row[1:]), 6)

