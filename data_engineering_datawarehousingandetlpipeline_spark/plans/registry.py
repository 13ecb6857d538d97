"""Query registry: every operator from SURVEY.md §2 surfaces here as a named
query with (a) a Spark DataFrame plan and (b) an ANSI-SQL oracle twin that
DuckDB runs over the same parquet tables. The driver's correctness gate
compares the two (row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides,
- every float aggregate is decimal-anchored (functions/numeric.py),
- result orderings carry a deterministic tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

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


#: The 22 TPC-H plan-shape adaptations (Q1..Q22, in Q order) — bench.py's
#: second calm-timed tier (r8 verdict, marching order 5). The headline
#: 22-query bench set predates this family, so the star-join /
#: decorrelation plans only ever got once-warm TIMINGS numbers; this
#: tier runs them under the same 2-warmup/interleaved-best-of-4 protocol
#: as the headline set, reported beside (never inside) the historical
#: anchor series. Membership is pinned here (each query's docstring
#: carries its Qn citation) and cross-checked by a registry test.
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
    order. A name registered twice fails loudly."""
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
            specs[spec.name] = spec
    return specs
