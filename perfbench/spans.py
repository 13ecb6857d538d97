"""Spans around the calls into each layer, plus host probes from ``/proc``.

A :class:`Tracer` built with ``enabled=False`` records nothing and never
touches Spark's status surface, so untraced runs pay no tracing cost.
Enabled, every span records name, layer, start, end, parent and op id;
leaf spans that run Spark work get their own job group, and on exit the
span reads its jobs, completed tasks and shuffle-write bytes from the
status store. Spans stay in memory until :meth:`Tracer.dump`.

One stack of open spans serves every thread: a span opened by the
streaming sink's callback thread, while the main thread waits in
``run_available``, nests under the main thread's open ``drain`` span.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None, jobs: bool = False):
        """Record one span; ``jobs=True`` also counts the Spark work inside it."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "layer": layer,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        group = f"perfbench-{rec['id']}"
        if jobs:
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(key, None)
                rec["counts"].update(self._job_counts(group))

    def _job_counts(self, group: str) -> dict:
        jsc = self.spark.sparkContext._jsc.sc()
        # status events arrive on the listener bus asynchronously
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = shuffle = 0
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped (reused) or evicted stage
            tasks += info.numCompletedTasks
            shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
        return {"jobs": len(job_ids), "tasks": tasks, "shuffle_bytes": shuffle}

    def dump(self, path: str, **context) -> None:
        with open(path, "w") as f:
            json.dump(
                context | {
                    "self_s": self_time(self.spans),
                    "self_s_by_span": self_time(self.spans, by_name=True),
                    "spans": self.spans,
                },
                f,
            )


def self_time(spans: list[dict], by_name: bool = False) -> dict[str, float]:
    """Seconds per layer (or per ``layer:name``) not covered by child spans."""
    children = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["end"] is not None:
            key = f"{s['layer']}:{s['name']}" if by_name else s["layer"]
            out[key] += (s["end"] - s["start"]) - children[s["id"]]
    return dict(out)


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _CLK_TCK


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of ``pid`` (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
