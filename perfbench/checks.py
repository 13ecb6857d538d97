"""Correctness checks on collected results (plain Python, no Spark).

Each check returns a list of problems; an empty list means the result is
correct. Callers turn a non-empty list into a failed op.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from collections import Counter


def normalize(rows: list[tuple]) -> list[tuple]:
    """Order-insensitive, type-normalized row set for cross-engine compare.

    Same rules as the test suite's oracle comparison: floats and small
    ints compare as floats, NaN as a sentinel, timestamps as ISO text,
    decimals as floats.
    """

    def norm_value(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v
        if isinstance(v, int):
            return float(v) if abs(v) < 2**52 else v
        if hasattr(v, "isoformat"):
            return v.isoformat().replace("+00:00", "")
        if isinstance(v, decimal.Decimal):
            return float(v)
        return v

    return sorted(
        (tuple(norm_value(v) for v in row) for row in rows),
        key=lambda r: tuple(str(x) for x in r),
    )


def compare_to_oracle(
    columns: list[str], rows: list[tuple], oracle_columns: list[str], oracle_rows: list[tuple]
) -> list[str]:
    """Spark result vs DuckDB oracle: columns, row count, then values."""
    cols = [c.lower() for c in columns]
    ocols = [c.lower() for c in oracle_columns]
    if cols != ocols:
        return [f"columns {cols} != oracle {ocols}"]
    if len(rows) != len(oracle_rows):
        return [f"{len(rows)} rows != oracle {len(oracle_rows)}"]
    bad = [
        (a, b) for a, b in zip(normalize(rows), normalize(oracle_rows)) if a != b
    ]
    return [f"{len(bad)} rows differ, first {bad[0]}"] if bad else []


def check_warehouse_rows(
    rows: list[tuple], expected: dict[tuple[str, dt.datetime], tuple]
) -> list[str]:
    """Stored rows ``(station_id, timestamp, station_name, t, h, w)`` vs the fold.

    Fails on a dropped row, a duplicated key, an extra key or a wrong value.
    """
    problems = []
    keys = Counter((r[0], r[1]) for r in rows)
    dups = [k for k, n in keys.items() if n > 1]
    if dups:
        problems.append(f"{len(dups)} duplicate keys, first {dups[0]}")
    if len(keys) != len(expected):
        problems.append(f"{len(keys)} distinct keys != expected {len(expected)}")
    missing = [k for k in expected if k not in keys]
    if missing:
        problems.append(f"{len(missing)} keys missing, first {missing[0]}")
    wrong = [
        (r[0], r[1]) for r in rows if (r[0], r[1]) in expected
        and tuple(r[2:]) != expected[(r[0], r[1])]
    ]
    if wrong:
        problems.append(f"{len(wrong)} rows with wrong values, first {wrong[0]}")
    extra = [k for k in keys if k not in expected]
    if extra:
        problems.append(f"{len(extra)} unexpected keys, first {extra[0]}")
    return problems


def check_count(what: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{what}: {got} != expected {want}"]


def check_equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: {got!r} != expected {want!r}"]
