"""Deterministic float aggregation helpers.

Distributed double summation is order-dependent (last-bit drift between runs
and between engines), which breaks value-hash comparison against the DuckDB
oracle. Every float aggregate exposed by this engine's query surface is
therefore *decimal-anchored*: the per-row double expression (deterministic
IEEE arithmetic, identical in Spark and DuckDB) is rounded into a fixed-scale
DECIMAL, summed exactly (decimal addition is associative), and the exact
result cast back to DOUBLE. Both engines then produce bit-identical values
in any execution order — correctness does not depend on partitioning,
which is precisely what a 100 TB deployment needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: default anchor type: 4 fractional digits, 18 total — plenty for TPC-H-ish
#: money columns; the Spark sum widens to DECIMAL(28,4) internally.
ANCHOR_TYPE = "decimal(18,4)"
#: wider anchor for products of doubles (more fractional digits retained).
ANCHOR_TYPE_WIDE = "decimal(27,8)"


def dsum(expr: Column | str, wide: bool = False) -> Column:
    """Exact (order-independent) SUM of a double expression, as DOUBLE."""
    col = F.col(expr) if isinstance(expr, str) else expr
    anchor = ANCHOR_TYPE_WIDE if wide else ANCHOR_TYPE
    return F.sum(col.cast(anchor)).cast("double")


def davg(expr: Column | str, wide: bool = False) -> Column:
    """Order-independent AVG: exact decimal sum ÷ count, in double.

    try_divide: an all-NULL group has count 0 — NULL average (the oracle's
    AVG semantics), not an ANSI divide-by-zero failure.
    """
    col = F.col(expr) if isinstance(expr, str) else expr
    return F.try_divide(dsum(col, wide=wide), F.count(col))


def dsum_over(expr: Column | str, window, wide: bool = False) -> Column:
    """Windowed twin of :func:`dsum` — the same decimal-anchored exact sum
    evaluated OVER a window instead of a groupBy.

    Bit-identical to joining the groupBy aggregate back on the window's
    partition key (decimal addition is associative and order-independent),
    which is exactly why a correlated-aggregate query can swap the
    aggregate + self-join for one window pass without perturbing a single
    output value (r16, guide §2.4: the window rides the partition key's
    existing exchange; the join needed a second one).
    """
    col = F.col(expr) if isinstance(expr, str) else expr
    anchor = ANCHOR_TYPE_WIDE if wide else ANCHOR_TYPE
    return F.sum(col.cast(anchor)).over(window).cast("double")


def davg_over(expr: Column | str, window, wide: bool = False) -> Column:
    """Windowed twin of :func:`davg` (see :func:`dsum_over`)."""
    col = F.col(expr) if isinstance(expr, str) else expr
    return F.try_divide(dsum_over(col, window, wide), F.count(col).over(window))


def binary_round(expr: Column | str, digits: int) -> Column:
    """Round a double to ``digits`` places the way DuckDB's ``round`` does.

    DuckDB scales, rounds the binary product half away from zero, and
    unscales: ``round(x·10^d) / 10^d``. Spark's ``round(x, d)`` instead
    rounds the shortest decimal string of ``x`` half-up, so the two split
    on a tie whose binary value sits just below it: 4258.61 / 32 is
    133.081563 in Spark and 133.081562 in DuckDB. Scaling first moves the
    tie to ``n + 0.5``, which is an exact double while |x·10^d| < 2^52, so
    a value's shortest decimal string reaches the tie only when the value
    is the tie: both engines then round the same number the same way.
    """
    col = F.col(expr) if isinstance(expr, str) else expr
    scale = 10.0**digits
    return F.round(col * scale) / scale


def sql_dsum(expr: str, wide: bool = False) -> str:
    """Oracle-side twin of :func:`dsum` (ANSI SQL text for DuckDB).

    The final DECIMAL → DOUBLE conversion routes through STRING: DuckDB's
    direct decimal-to-double cast divides the int128 payload by 10^scale
    in floating point, which is NOT correctly rounded and lands 1 ulp off
    the true value for some magnitudes (first observed at sf0.1:
    pricing_summary's R/F sum_disc_price read ...3560996 where the exact
    decimal rounds to ...3561). Spark's BigDecimal.doubleValue() IS
    correctly rounded, so the buggy cast breaks bit-identity exactly when
    the corpus grows — the failure mode decimal anchoring exists to kill.
    A string renders the decimal exactly and string→double parsing is
    correctly rounded in both engines, restoring bit-identity at every
    scale. The type spells STRING (not VARCHAR) because this text is also
    executed by Spark's SQL parser where a query shares it (the native
    recursive-CTE path in referral_rollup), and Spark rejects bare
    VARCHAR; DuckDB accepts STRING as a VARCHAR alias.
    """
    anchor = ANCHOR_TYPE_WIDE if wide else ANCHOR_TYPE
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS {anchor.upper()})) AS STRING) AS DOUBLE)"
    )


def sql_davg(expr: str, wide: bool = False) -> str:
    """Oracle-side twin of :func:`davg`."""
    return f"({sql_dsum(expr, wide)} / COUNT({expr}))"
