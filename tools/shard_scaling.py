"""Shard-scaling check for the streaming operators: drain the SAME corpus
at 3 vs 12 shards (one micro-batch per shard) and record batches, peak
and final state-store rows, output rows and hash, wall and mean-batch
time.

Workloads:

- ``ladder``: the document corpus through each streaming dedup rung
  (exact, windowed exact, minhash, windowed minhash). State rows are a
  function of distinct content, not of sharding: 3- and 12-shard drains
  must end at the same peak state and output row count.
- ``attribution``: the time-ordered click/purchase events through the
  stream-stream interval join (``streaming/joins.attribution_join``).
  The output pair set must be shard-invariant (count and hash); state is
  window-bounded, so the final state reflects the last
  ~(horizon + delay) of events, far below the corpus size.

Per-batch time should stay flat as the shard count grows: each batch does
proportionally less work.

Usage: python tools/shard_scaling.py {ladder,attribution}
(SPARK_GRAFT_SF_DIR overrides the sf0.01 corpus; prints one JSON line per
run, a markdown table for COVERAGE.md, and exits 1 if a run's invariant
columns differ between 3 and 12 shards.)
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.session import get_spark
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    load_table,
)
from data_engineering_datawarehousingandetlpipeline_spark.streaming import (
    pipeline as P,
)
from data_engineering_datawarehousingandetlpipeline_spark.streaming.joins import (
    attribution_join,
)

SHARDS = (3, 12)
HORIZON_S = 3600
WATERMARK_S = 3600
BASE_TS = datetime.datetime(2024, 3, 1)


def ladder(spark, sf_dir: str):
    """Documents with event time BASE_TS + doc_id seconds: monotone and
    under 1 h, so the windowed rungs hold all state (this measures scaling,
    not expiry; expiry is pytest-pinned)."""
    rows = [
        {
            "doc_id": r["doc_id"],
            "text": r["text"],
            "ts": (BASE_TS + datetime.timedelta(seconds=r["doc_id"])).isoformat(),
        }
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text").orderBy("doc_id").collect()
    ]
    runs = {
        "exact": lambda src, out, ckpt: P.start_exact_dedup(
            src, out, ckpt, available_now=True),
        "windowed_exact": lambda src, out, ckpt: P.start_windowed_exact_dedup(
            src, out, ckpt, delay="1 hour", available_now=True),
        "minhash": lambda src, out, ckpt: P.start_minhash_dedup(
            src, out, ckpt, available_now=True),
        "windowed_minhash": lambda src, out, ckpt: P.start_windowed_minhash_dedup(
            src, out, ckpt, delay="1 hour", available_now=True),
    }
    schema = "doc_id long, text string, ts timestamp"
    return rows, schema, runs, ("peak_state_rows", "out_rows")


def attribution(spark, sf_dir: str):
    """Click/purchase events in time order, so the watermark advances
    across shards and state eviction actually happens."""
    rows = [
        {**r.asDict(), "ts": r["ts"].isoformat()}
        for r in load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .filter(F.col("event_type").isin("click", "purchase"))
        .orderBy("ts", "event_id").collect()
    ]

    def start(src, out, ckpt):
        pairs = attribution_join(
            src.filter("event_type = 'click'"),
            src.filter("event_type = 'purchase'"),
            horizon_seconds=HORIZON_S,
            watermark_seconds=WATERMARK_S,
        )
        return (
            pairs.writeStream.outputMode("append").format("parquet")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start(out)
        )

    schema = "event_id long, user_id long, ts timestamp, event_type string"
    return rows, schema, {"attribution": start}, ("out_rows", "out_hash")


WORKLOADS = {"ladder": ladder, "attribution": attribution}


def drain(spark, rows, schema, run, start, n_shards: int) -> dict:
    """Write ``rows`` as ``n_shards`` JSON shards with rising mtimes (the
    file source orders batches by mtime), drain them one file per trigger
    through ``start``, and read the progress and the sink back."""
    work = tempfile.mkdtemp(prefix=f"shard-scaling-{run}-{n_shards}-")
    indir, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(indir)
    chunk = -(-len(rows) // n_shards)
    for s in range(n_shards):
        path = os.path.join(indir, f"shard{s:03d}.json")
        with open(path, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows[s * chunk:(s + 1) * chunk])
        stamp = 1_700_000_000 + 60 * s
        os.utime(path, (stamp, stamp))
    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(indir)
    t0 = time.monotonic()
    query = start(src, out, os.path.join(work, "ckpt"))
    query.awaitTermination()
    wall = time.monotonic() - t0
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    states = [
        op["numRowsTotal"] for p in progress for op in p.get("stateOperators", [])
    ]
    durs = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    result = spark.read.parquet(out)
    rec = {
        "run": run,
        "shards": n_shards,
        "batches": len(progress),
        "peak_state_rows": max(states, default=0),
        "final_state_rows": states[-1] if states else 0,
        "out_rows": result.count(),
        "out_hash": result.select(F.sum(F.hash(*result.columns))).first()[0],
        "wall_s": round(wall, 2),
        "mean_batch_s": round(sum(durs) / max(len(durs), 1), 3),
    }
    shutil.rmtree(work)
    print(json.dumps(rec), flush=True)
    return rec


def main(workload: str) -> int:
    spark = get_spark(app_name=f"shard-scaling-{workload}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    rows, schema, runs, invariant = WORKLOADS[workload](spark, sf_dir)
    recs = {
        (run, n): drain(spark, rows, schema, run, start, n)
        for run, start in runs.items()
        for n in SHARDS
    }
    columns = list(next(iter(recs.values())))
    print(f"\n({len(rows)} input rows)\n| {' | '.join(columns)} |")
    print("|---" * len(columns) + "|")
    for rec in recs.values():
        print("| " + " | ".join(str(rec[c]) for c in columns) + " |")
    bad = [
        run for run in runs
        if any(recs[run, SHARDS[0]][c] != recs[run, SHARDS[1]][c] for c in invariant)
    ]
    verdict = f"FAIL {bad}" if bad else "PASS"
    print(f"\nshard-invariant {', '.join(invariant)}: {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 2 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"usage: python tools/shard_scaling.py {{{','.join(WORKLOADS)}}}")
    sys.exit(main(sys.argv[1]))
