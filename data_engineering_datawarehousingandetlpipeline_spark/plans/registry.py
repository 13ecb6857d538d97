"""Query registry: every operator from SURVEY.md §2 surfaces here as a named
query with (a) a Spark DataFrame plan and (b) an ANSI-SQL oracle twin that
DuckDB runs over the same parquet tables. The driver's correctness gate
compares the two (row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides,
- every float aggregate is decimal-anchored (functions/numeric.py),
- result orderings carry a deterministic tiebreaker.

Every query assumes the engine's session confs (``session.RUNTIME_CONFS``:
UTC timezone, parquet timestamp reads, AQE). The registry is where they are
pinned: each ``QuerySpec.fn`` that :func:`all_queries` hands out applies
them to the session it is given before it builds its plan, so a driver's
own session gets the same results as ``get_spark``'s.
"""

from __future__ import annotations

import dataclasses
import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from data_engineering_datawarehousingandetlpipeline_spark.session import (
    ensure_runtime_confs,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One named query: Spark plan + optional DuckDB oracle SQL."""

    name: str
    fn: QueryFn
    oracle: str | None = None
    description: str = ""
    bench: bool = False  # headline query timed by bench.py
    tags: tuple[str, ...] = field(default=())


#: The 22 TPC-H plan-shape adaptations, in Q order (each query's docstring
#: cites its Qn; a registry test cross-checks the two). ``bench.py`` times
#: them as its second tier, beside the headline ``bench=True`` set, and
#: ``perfbench``'s tpch workload runs them as one pass.
TPCH_SHAPES: tuple[str, ...] = (
    "pricing_summary",            # Q1
    "min_cost_supplier",          # Q2
    "shipping_priority",          # Q3
    "order_priority",             # Q4
    "region_revenue",             # Q5
    "discounted_revenue",         # Q6
    "volume_shipping",            # Q7
    "nation_market_share",        # Q8
    "nation_product_profit",      # Q9
    "top_customers",              # Q10
    "part_concentration",         # Q11
    "late_shipment_priority",     # Q12
    "customer_order_distribution",  # Q13
    "promo_revenue_share",        # Q14
    "top_supplier",               # Q15
    "part_supplier_variety",      # Q16
    "small_qty_revenue",          # Q17
    "large_volume_orders",        # Q18
    "disjunctive_band_revenue",   # Q19
    "excess_volume_suppliers",    # Q20
    "waiting_suppliers",          # Q21
    "idle_rich_customers",        # Q22
)


def all_queries() -> dict[str, QuerySpec]:
    """Assemble the full query surface from the plan modules, in module
    order. A name registered twice fails loudly. Each spec's ``fn`` pins
    the engine's runtime confs on its session before building the plan."""
    from data_engineering_datawarehousingandetlpipeline_spark.plans import (
        analytics,
        curation,
        extensions,
        pipeline_queries,
        reference_queries,
    )

    specs: dict[str, QuerySpec] = {}
    for module in (pipeline_queries, reference_queries, analytics, extensions, curation):
        for spec in module.QUERIES:
            if spec.name in specs:
                raise ValueError(f"duplicate query name: {spec.name}")
            specs[spec.name] = dataclasses.replace(spec, fn=_pinned(spec.fn))
    return specs


def _pinned(fn: QueryFn) -> QueryFn:
    """``fn`` with :func:`ensure_runtime_confs` applied to its session first."""

    @functools.wraps(fn)
    def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_runtime_confs(spark)
        return fn(spark, sf_dir)

    return pinned
