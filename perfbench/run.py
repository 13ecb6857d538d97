#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 12 --trace 0

One process, one ``local[$SPARK_GRAFT_CPUS]`` session (default 4 cores),
one closed-loop client: each op starts when the previous one returned.
The run generates its inputs from ``--seed``, checks the results (which is
also the warm-up), then runs whole passes over the workload's op list
until ``--seconds`` have passed and the workload's fewest passes have run.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced passes, traced first so that it runs where the
untraced run's first timed pass runs, and reports the per-layer metrics of
the traced passes plus the tracing overhead (traced minus untraced pass
time; the untraced pass is the warmer one, so this errs high).
The line before the result is the run context (seed, cores, driver
memory, raw per-pass figures, host steal); both lines, and the spans of a
traced run, are also written under ``.perfbench/out/`` at the repository
root. Everything the run writes stays inside the repository directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "plans.exec_tasks": "count",
    "plans.shuffle_bytes": "bytes",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.overhead_s": "s",
    "warehouse.merge_s": "s",
    "warehouse.write_ratio": "ratio",
    "warehouse.files": "count",
    "warehouse.bytes_per_row": "bytes/row",
    "warehouse.compact_s": "s",
    "host.cpu_s": "s",
    "host.steal_s": "s",
    "trace.overhead_s": "s",
}
#: (layer, span name) → the per-layer time it adds to.
SPAN_TIMES = {
    ("plans", "build"): "plans.build_s",
    ("plans", "exec"): "plans.exec_s",
    ("streaming", "drain"): "streaming.drain_s",
    ("warehouse", "merge_upsert"): "warehouse.merge_s",
    ("warehouse", "compact"): "warehouse.compact_s",
}
#: Times the inputs are generated; set-up counts their median.
PREPARE_REPEATS = 3
#: A run that has not finished by then stops its session and exits with an
#: error, inside the 180 s a run may take.
DEADLINE_S = 150


def tail(latencies: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond) of the highest nearest-rank
    percentile with at least ten samples beyond it; the median when the
    run has too few samples for any such percentile."""
    xs = sorted(latencies)
    n = len(xs)
    for pct in range(99, 49, -1):
        idx = math.ceil(pct / 100 * n) - 1
        if n - 1 - idx >= 10:
            return xs[idx], pct, n - 1 - idx
    idx = math.ceil(n / 2) - 1
    return xs[idx], 50, n - 1 - idx


def pass_layers(spans: list[dict], extras: dict, cpu: float, steal: float) -> dict:
    """Per-layer figures of one traced pass."""
    v = {name: 0.0 for name in PER_LAYER}
    for s in spans:
        metric = SPAN_TIMES.get((s["layer"], s["name"]))
        if metric:
            v[metric] += s["end"] - s["start"]
        c = s["counts"]
        if s["layer"] == "plans" and s["name"] in ("build", "exec"):
            v[f"plans.{s['name']}_jobs"] += c["jobs"]
            v["plans.shuffle_bytes"] += c["shuffle_bytes"]
            if s["name"] == "exec":
                v["plans.exec_tasks"] += c["tasks"]
        v["streaming.batches"] += c.get("batches", 0)
    v.update(extras)
    if v["streaming.drain_s"]:
        v["streaming.overhead_s"] = v["streaming.drain_s"] - v["warehouse.merge_s"]
    v["host.cpu_s"] = cpu
    v["host.steal_s"] = steal
    return v


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ["TZ"] = "UTC"  # collected timestamps come back as UTC wall time
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )


def _stop(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _on_deadline(signum, frame):
    # SystemExit, not an Exception: an op's failure handler must not swallow it
    raise SystemExit(f"run exceeded {DEADLINE_S} s")


def measure(args, work: str, t0: float) -> tuple[dict, dict, object]:
    from data_engineering_datawarehousingandetlpipeline_spark.session import get_spark

    from spans import Tracer, cpu_s, peak_rss_mb, steal_s
    from workloads import WORKLOADS, OpLog

    clock = time.perf_counter
    start = clock()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = clock() - start
    tracer = Tracer(spark, enabled=bool(args.trace))
    quiet = Tracer()
    try:
        pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        prepare = []
        for _ in range(PREPARE_REPEATS):
            start = clock()
            wl.prepare()
            prepare.append(clock() - start)
        log = OpLog()
        start = clock()
        wl.check(log)
        check_s = clock() - start
        wl.between_passes(0)
        setup_s = clock() - t0 - sum(prepare) + statistics.median(prepare)

        passes = []
        min_passes = max(wl.MIN_PASSES, 2 if args.trace else 1)
        began = clock()
        while True:
            p = len(passes)
            traced = bool(args.trace) and p % 2 == 0
            tr = tracer if traced else quiet
            first_span = len(tracer.spans)
            cpu0, steal0 = cpu_s(pids), steal_s()
            with tr.span("pass", "workload", op=f"pass{p}"):
                start = clock()
                latencies = wl.run_pass(p, log, tr)
                seconds = clock() - start
            passes.append({
                "pass_s": seconds,
                "traced": traced,
                "latencies": latencies,
                "cpu_s": cpu_s(pids) - cpu0,
                "steal_s": steal_s() - steal0,
                "extras": dict(wl.pass_extras()),
                "spans": tracer.spans[first_span:] if traced else [],
            })
            wl.between_passes(p + 1)
            if clock() - began >= args.seconds and len(passes) >= min_passes:
                break
        rss = peak_rss_mb(pids[1])
        driver_memory = spark.sparkContext.getConf().get("spark.driver.memory", "")
    finally:
        _stop(spark)

    timed = [x for x in passes if not x["traced"]]
    latencies = [t for x in timed for t in x["latencies"]]
    if latencies:
        tail_s, tail_pct, tail_beyond = tail(latencies)
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(x["pass_s"] for x in timed),
            "op_p50_s": statistics.median(latencies),
            "op_tail_s": tail_s,
        }
    else:  # every op failed: nothing to time
        tail_pct = tail_beyond = 0
        e2e = dict.fromkeys(END_TO_END, 0.0)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark.driver.memory": driver_memory,
        "session_s": session_s,
        "prepare_s": prepare,
        "check_s": check_s,
        "passes": [
            {k: x[k] for k in ("pass_s", "traced", "cpu_s", "steal_s")} | {"ops": len(x["latencies"])}
            for x in passes
        ],
        "op_tail_pct": tail_pct,
        "op_tail_beyond": tail_beyond,
        "ops_timed": len(latencies),
        "peak_rss_mb": rss,
        "end_to_end": e2e,
        "problems": log.problems[:20],
    }
    if args.trace:
        per_pass = [
            pass_layers(x["spans"], x["extras"], x["cpu_s"], x["steal_s"])
            for x in passes if x["traced"]
        ]
        values = {m: statistics.median(v[m] for v in per_pass) for m in PER_LAYER}
        values["session.start_s"] = session_s
        values["session.peak_rss_mb"] = rss
        values["trace.overhead_s"] = statistics.median(
            x["pass_s"] for x in passes if x["traced"]
        ) - statistics.median(x["pass_s"] for x in timed)
        units = PER_LAYER
    else:
        values, units = e2e, END_TO_END
    result = {
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {m: {"value": values[m], "unit": u} for m, u in units.items()},
    }
    return result, context, tracer


def main(argv: list[str] | None = None) -> int:
    t0 = time.perf_counter()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("tpch", "ingest"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        sys.path.insert(0, ROOT)  # the package under test lives at the root
        result, context, tracer = measure(args, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    out = os.path.join(base, "out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    with open(f"{stem}.json", "w") as f:
        json.dump({"context": context, "result": result}, f, indent=1)
    if args.trace:
        tracer.dump(f"{stem}-spans.json", workload=args.workload, seed=args.seed)
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
