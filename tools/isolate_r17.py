"""r17 isolate timer: best-of-N noop-sink timing for named registry queries.

Usage: python tools/isolate_r17.py <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     ISOLATE_WARMUPS (default 1), ISOLATE_RUNS (default 3).

Warm-up discarded, best of the timed runs, noop sink so the computation
is timed rather than the sink — scoped to an explicit query list so a
single before/after measurement doesn't pay a full registry sweep.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries
from data_engineering_datawarehousingandetlpipeline_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warmups = int(os.environ.get("ISOLATE_WARMUPS", "1"))
    runs = int(os.environ.get("ISOLATE_RUNS", "3"))
    names = sys.argv[1:]
    if not names:
        print("usage: python tools/isolate_r17.py <query> [<query> ...]")
        sys.exit(2)
    spark = get_spark(app_name="isolate-r17")
    specs = all_queries()
    out: dict[str, float] = {}
    for name in names:
        spec = specs[name]
        for _ in range(warmups):
            spark.sparkContext.setJobDescription(f"{name}: warmup")
            spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = float("inf")
        for i in range(runs):
            spark._jvm.System.gc()
            spark.sparkContext.setJobDescription(f"{name}: timed {i}")
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        print(f"{out[name]:8.3f}  {name}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
