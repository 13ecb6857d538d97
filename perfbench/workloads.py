"""The benchmark workloads: tpch and ingest.

Each workload drives the package's public functions only and gives the
runner these steps:

- ``prepare()``: generate the seeded inputs (repeated by the runner, which
  counts the median in set-up time);
- ``check(log)``: the run's correctness check, which is also the warm-up;
- ``run_pass(p, log, tracer)``: one timed pass over the op list, returning
  the successful ops' latencies;
- ``pass_extras()``: per-pass layer figures that are not span timings;
- ``between_passes(p)``: clean-up before pass ``p``, outside the timing.

``MIN_PASSES`` is the fewest timed passes a run makes, whatever
``--seconds`` says, so that every run times the same work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import duckdb
import numpy as np

import gen
from spans import Tracer
from checks import (
    check_count,
    check_equal,
    check_warehouse_rows,
    compare_to_oracle,
)
from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries
from data_engineering_datawarehousingandetlpipeline_spark.plans.registry import (
    TPCH_SHAPES,
)
from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
    read_json_file_stream,
    run_available,
)
from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
    WarehouseTable,
)

_STORED = ("station_id", "timestamp", "station_name", "temperature", "humidity", "wind_speed")


class OpLog:
    """Success or failure of every op, against the number attempted."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[tuple[str, list[str]]] = []

    def run(self, name: str, body, check=None) -> float | None:
        """Time ``body()``; then ``check(result)`` outside the timing.

        Returns the latency, or ``None`` when the body raised or the check
        reported a problem — either way the op counts as failed.
        """
        self.attempted += 1
        start = time.perf_counter()
        try:
            result = body()
            seconds = time.perf_counter() - start
            problems = check(result) if check is not None else []
        except Exception as exc:  # an op failure is a measurement, not a crash
            seconds, problems = None, [f"{type(exc).__name__}: {exc}"[:500]]
        if problems:
            self.failed += 1
            self.problems.append((name, problems[:3]))
            return None
        return seconds


class RecordingWarehouse(WarehouseTable):
    """A ``WarehouseTable`` that counts the rows of every ``merge_upsert``
    and, when traced, records it as a span."""

    def __init__(self, spark, root: str, tracer) -> None:
        super().__init__(spark, root)
        self.tracer = tracer
        self.writes: list[int] = []  # rows written by each merge

    def merge_upsert(self, df, evolve_schema: bool = False) -> int:
        with self.tracer.span("merge_upsert", "warehouse") as span:
            n = super().merge_upsert(df, evolve_schema)
            if span is not None:
                span["counts"]["rows"] = n
        self.writes.append(n)
        return n

    def data_bytes(self) -> int:
        total = 0
        for dirpath, dirnames, filenames in os.walk(self.root):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            total += sum(
                os.path.getsize(os.path.join(dirpath, n))
                for n in filenames
                if n.endswith(".parquet") and not n.startswith(".")
            )
        return total


def _order(seed: int, p: int, n: int) -> list[int]:
    """The seeded op order of pass ``p``."""
    return np.random.default_rng([seed, 3, p + 1]).permutation(n).tolist()


class Tpch:
    """The 22 TPC-H plan shapes over the seeded star schema, noop sink."""

    MIN_PASSES = 1

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed = spark, seed
        self.sf_dir = os.path.join(work, "tpch")
        queries = all_queries()
        self.specs = {n: queries[n] for n in TPCH_SHAPES}

    def prepare(self) -> None:
        gen.write_tpch(self.seed, self.sf_dir)

    def check(self, log: OpLog) -> None:
        con = duckdb.connect()
        try:
            for name in gen.TPCH_TABLES:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            for i in _order(self.seed, -1, len(TPCH_SHAPES)):
                spec = self.specs[TPCH_SHAPES[i]]

                def body(spec=spec):
                    df = spec.fn(self.spark, self.sf_dir)
                    return df.columns, [tuple(r) for r in df.collect()]

                def check(result, spec=spec):
                    cur = con.execute(spec.oracle)
                    oracle_cols = [d[0] for d in cur.description]
                    return compare_to_oracle(*result, oracle_cols, cur.fetchall())

                log.run(f"check:{spec.name}", body, check)
        finally:
            con.close()

    def run_pass(self, p: int, log: OpLog, tracer) -> list[float]:
        latencies = []
        for i in _order(self.seed, p, len(TPCH_SHAPES)):
            name = TPCH_SHAPES[i]

            def body(name=name):
                with tracer.span("op", "plans", op=name):
                    with tracer.span("build", "plans", jobs=True):
                        df = self.specs[name].fn(self.spark, self.sf_dir)
                    with tracer.span("exec", "plans", jobs=True):
                        df.write.mode("overwrite").format("noop").save()

            latencies.append(log.run(name, body))
        return [t for t in latencies if t is not None]

    def between_passes(self, p: int) -> None:
        pass

    def pass_extras(self) -> dict:
        return {}


class Ingest:
    """Hourly batches landed one at a time and drained into a fresh table.

    One of the first four hours is delivered a second time, as the fifth
    landing, and must write nothing. Each pass ends with ``compact()``.
    The check lands the first ``CHECKED`` batches (the re-delivery
    included) and verifies the table they leave.
    """

    STATIONS = 400
    HOURS = 10
    CHECKED = 6
    MIN_PASSES = 2
    START = dt.datetime(2024, 2, 1)

    def __init__(self, spark, seed: int, work: str) -> None:
        self.spark, self.seed = spark, seed
        self.work = os.path.join(work, "ingest")
        self._extras: dict = {}

    def prepare(self) -> None:
        hours = gen.observations(self.seed, self.STATIONS, self.HOURS, self.START)
        rng = np.random.default_rng([self.seed, 4])
        self.redelivered = 4
        again = int(rng.integers(0, self.redelivered))
        self.landings = hours[: self.redelivered] + [hours[again]] + hours[self.redelivered :]
        self.texts = [
            "".join(json.dumps(r) + "\n" for r in batch) for batch in self.landings
        ]
        # rows each landing must write: its keys not stored by earlier ones
        self.new_keys, seen = [], set()
        for batch in self.landings:
            keys = set(gen.expected_rows([batch])) - seen
            self.new_keys.append(len(keys))
            seen |= keys
        self.expected = gen.expected_rows(self.landings[: self.CHECKED])

    def _pass(self, p: int, log: OpLog, tracer, n: int) -> tuple[list, RecordingWarehouse]:
        root = os.path.join(self.work, f"pass{p}")
        land = os.path.join(root, "land")
        os.makedirs(land)
        source = read_json_file_stream(self.spark, land)
        wh = RecordingWarehouse(self.spark, os.path.join(root, "table"), tracer)
        ck = os.path.join(root, "checkpoint")
        latencies, offered, self.written = [], 0, {}
        for i, text in enumerate(self.texts[:n]):

            def body(i=i, text=text):
                tmp = os.path.join(land, f".b{i:04d}.json")
                with open(tmp, "w") as f:
                    f.write(text)
                os.replace(tmp, os.path.join(land, f"b{i:04d}.json"))
                before = len(wh.writes)
                with tracer.span("drain", "streaming", op=f"land{i}") as span:
                    drained = run_available(source, wh, ck)
                    if span is not None:
                        span["counts"]["batches"] = drained
                self.written[i] = sum(wh.writes[before:])
                return drained

            def check(drained, i=i):
                return check_count(f"landing {i} drained", min(drained, 1), 1) + check_count(
                    f"rows written by landing {i}", self.written[i], self.new_keys[i]
                )

            latencies.append(log.run(f"land{i}", body, check))
            offered += len(self.landings[i])
        if tracer.enabled:  # file probes only in traced passes
            written = sum(wh.writes)
            self._extras = {
                "warehouse.write_ratio": written / offered,
                "warehouse.files": wh.data_file_count(),
                "warehouse.bytes_per_row": wh.data_bytes() / max(written, 1),
            }
        with tracer.span("compact", "warehouse"):
            wh.compact()
        return [t for t in latencies if t is not None], wh

    def check(self, log: OpLog) -> None:
        _, wh = self._pass(-1, log, _NO_TRACE, self.CHECKED)

        def body():
            return [tuple(r) for r in wh.read().select(*_STORED).collect()]

        def check(rows):
            got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
            return (
                check_warehouse_rows(rows, self.expected)
                + check_count(
                    "rows written by the re-delivered batch",
                    self.written.get(self.redelivered),
                    0,
                )
                + check_equal(
                    "keep-last checksum", gen.checksum(got), gen.checksum(self.expected)
                )
            )

        log.run("check:table", body, check)

    def run_pass(self, p: int, log: OpLog, tracer) -> list[float]:
        return self._pass(p, log, tracer, len(self.texts))[0]

    def between_passes(self, p: int) -> None:
        """Drop the tables of finished passes (outside the timing)."""
        shutil.rmtree(os.path.join(self.work, f"pass{p - 1}"), ignore_errors=True)

    def pass_extras(self) -> dict:
        return self._extras


_NO_TRACE = Tracer()

WORKLOADS = {"tpch": Tpch, "ingest": Ingest}
