"""Stage a 4× replica corpus for scale checks.

Fact and entity tables are written as four id-shifted replicas: the id
columns in ``SHIFT_COLS`` shift by ``SHIFT`` per replica, so keys stay
unique and never collide with query-side filters (``doc_id < 3`` etc.).
The fixed-size dimensions copy as-is, their real-world growth mode.

Usage: python tools/stage_replicas.py OUT
(reads the tables at ``SPARK_GRAFT_SF_DIR``, default sf0.1). Then time a
query at 1× and 4× with two ``bench.py NAME`` runs, one per
``SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import os
import sys
from functools import reduce
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.session import get_spark
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    TABLE_NAMES,
    load_table,
)

REPLICAS = 4
SHIFT = 100_000_000  # per-replica id stride: far above any natural id AND
# clear of query-side synthetic shifts (customer_snapshot_diff's insert
# stripe adds 10_000_000; a stride equal to it would alias replica keys)

#: id columns shifted per replica; tables not listed are copied as-is.
SHIFT_COLS = {
    "events": ["user_id", "event_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey"],  # o_custkey stays: facts grow, dims don't
    "lineitem": ["l_orderkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def stage(spark, src_dir: str, out_dir: str) -> None:
    """Write every table of ``src_dir`` to ``out_dir``, replicated per
    ``SHIFT_COLS``."""
    for t in TABLE_NAMES:
        out = load_table(spark, src_dir, t)
        if t in SHIFT_COLS:
            out = reduce(
                DataFrame.unionByName,
                [
                    out.withColumns(
                        {c: F.col(c) + F.lit(i * SHIFT) for c in SHIFT_COLS[t]}
                    )
                    for i in range(REPLICAS)
                ],
            )
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))
        print(f"staged {t}", flush=True)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python tools/stage_replicas.py OUT")
    stage(
        get_spark(app_name="stage-replicas"),
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        sys.argv[1],
    )
