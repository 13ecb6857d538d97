#!/usr/bin/env python
"""Benchmark the engine's headline queries and print ONE JSON line.

Contract (driver): run at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``; output
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

``python bench.py NAME [NAME ...]`` times exactly those registered queries
as one tier under the same protocol and prints
``{"queries": {...}, "sf": ..., "cores": ...}``: the isolate timing. A
scale check is two such runs, one per ``SPARK_GRAFT_CPUS`` or
``SPARK_GRAFT_SF_DIR`` value (``tools/stage_replicas.py`` stages a 4×
corpus).

Each query executes fully through a ``noop`` write (no driver collect, no
files) — the standard way to measure plan execution cost rather than
result-serialization cost.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries
from data_engineering_datawarehousingandetlpipeline_spark.plans.registry import (
    TPCH_SHAPES,
)
from data_engineering_datawarehousingandetlpipeline_spark.session import (
    default_parallelism,
    get_spark,
)


def _time_tier(spark, sf_dir: str, specs: dict) -> dict[str, float]:
    """2 warm-ups + interleaved best-of-4 over one query set.

    Warm-up: TWO passes per query. Measured on the heavy-codegen
    queries (doc_minhash_neardup's 128-perm fold): execution 1 → 2 → 3
    runs 23 s → 11 s → 4.7 s before settling at ~3.6 s — whole-stage
    codegen compilation + JIT tiering need the first two executions,
    and a single warm-up leaves the timed passes paying compile cost.
    Steady-state IS the number that matters: at 100 TB a plan compiles
    once and runs for hours, so compile time is noise, not signal.

    INTERLEAVED best-of-4: four full passes over the query set, taking
    each query's minimum across passes. The host shows multi-MINUTE
    contention bursts (observed: identical queries varying 3 s → 90 s
    back-to-back); consecutive per-query repetitions all fall inside one
    burst, while interleaving puts a whole set-pass (~30 s) between a
    query's repetitions, so a burst must span the entire run to poison
    any single query's best. (3 → 4 passes in r6: the longest query kept
    catching the tail of a burst in 2 of 3 passes.)
    """
    for _ in range(2):
        for name in sorted(specs):
            specs[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    timings: dict[str, float] = {n: float("inf") for n in specs}
    for _ in range(4):
        for name in sorted(specs):
            # drain garbage so one query's heap pressure cannot bill
            # multi-second GC pauses to the next query's timing
            spark._jvm.System.gc()
            start = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            timings[name] = min(timings[name], time.perf_counter() - start)
    return {n: round(t, 3) for n, t in timings.items()}


def main(argv: list[str] | None = None) -> None:
    names = sys.argv[1:] if argv is None else argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else None

    queries = all_queries()
    unknown = sorted(set(names) - set(queries))
    if unknown:
        sys.exit(f"unknown query names: {', '.join(unknown)}")
    spark = get_spark(app_name="dwh-spark-bench")
    if names:
        timings = _time_tier(spark, sf_dir, {n: queries[n] for n in names})
        cores = default_parallelism()
        print(json.dumps({"queries": timings, "sf": sf, "cores": cores}))
        return

    # Tier 1 — the historical 22-query headline set (the anchor series the
    # driver compares round-over-round; membership and protocol unchanged
    # since r6, so the numbers stay comparable).
    timings = _time_tier(
        spark, sf_dir, {n: s for n, s in queries.items() if s.bench}
    )
    total = round(sum(timings.values()), 3)

    # Tier 2 — the 22 TPC-H plan shapes under the SAME calm protocol
    # (r8 verdict, marching order 5). Reported BESIDE the anchor series:
    # "value" stays the historical total; the four queries in both tiers
    # (pricing_summary, region_revenue, top_customers, order_priority)
    # are timed independently per tier so each series is self-contained.
    tpch_timings = _time_tier(
        spark, sf_dir, {n: queries[n] for n in TPCH_SHAPES}
    )
    tpch_total = round(sum(tpch_timings.values()), 3)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "tpch_total": tpch_total,
                "tpch_queries": tpch_timings,
            }
        )
    )


if __name__ == "__main__":
    main()
