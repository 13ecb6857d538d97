"""Warehouse table semantics over partitioned Parquet (reference S5-S7, A4, T4).

The reference's warehouse is one append-only BigQuery table with
effectively-once ingestion enforced by a per-station watermark file
(SURVEY.md §1.1). Here the warehouse is a date-partitioned Parquet table
(the image carries no Delta/Iceberg jars — the layout and API are designed
so swapping ``parquet`` for ``delta`` upgrades semantics without code
changes):

- ``append``       — S5 blind append (plus S6 post-write verification)
- ``merge_upsert`` — T4 idempotent insert-if-absent keyed on the row
  identity: the scalable emulation of ``MERGE WHEN NOT MATCHED``. Only the
  date partitions touched by the incoming batch are read back for the
  anti-join (partition pruning), so cost scales with the batch's time
  window, not table history — at 100 TB a batch touching one day reads one
  day.
- ``merge_replace`` — MERGE with update-on-match (latest-wins upsert for
  correction/late-revision feeds): touched-partition anti-join + dynamic
  partition overwrite, so cost scales with the batch's time window.
- ``delete_where``  — row-level DELETE (the GDPR/erasure shape): one pruned
  scan finds the affected days, dynamic partition overwrite rewrites only
  those, fully-emptied days drop their directories; audit-logged,
  idempotent.
- ``expire_partitions`` — partition-granular retention (drop whole days
  beyond the window, no row rewrites).
- ``max_ts_per_key`` — A4: the watermark-state query, derived from the
  table itself instead of a side JSON file (no crash window between data
  write and state write — the reference's T4 bug, kafka_stream.py:326-330,
  fixed structurally).
- time travel (opt-in ``track_versions=True``) — ``read_as_of(version)`` /
  ``versions()`` / ``vacuum_versions``: every mutating op commits a file
  manifest (the transaction-log analogue, incremental in touched
  partitions), and rewrites hardlink the files they destroy into a
  ``_versions/retained`` mirror first — zero bytes copied, old versions
  stay readable until an explicit vacuum, exactly Delta's
  leave-superseded-files-until-VACUUM contract.
- ``stream_source`` — the table as a STREAMING source (Delta's
  ``readStream`` on a table): downstream streams tail appends
  exactly-once from their own checkpoints, with the append-only contract
  enforced from the version log when tracking is on.
- writer concurrency — version manifests commit via atomic
  exclusive-create (``_claim_version``), so racing writers surface as
  :class:`ConcurrentWriteError` instead of a silently lost manifest
  (Delta's commit-conflict protocol); ``exclusive_writer`` adds the
  prevention half, an advisory Hive-style mkdir lock with stale-lock
  breaking. Both scoped honestly to what plain parquet can guarantee.
- schema evolution — Delta's contract on plain parquet: the registered
  schema lives in a ``_schema`` sidecar (the metadata-log analogue), reads
  bind to it (O(1) in file count — no footer sampling, pre-widening files
  surface added columns as NULLs), type drift always fails, old-schema
  producers keep working (missing columns → typed NULLs), and widening is
  an explicit ``evolve_schema=True`` opt-in recorded in the maintenance
  audit.

Layout: ``root/dt=YYYY-MM-DD/*.parquet``, hive-style partitioning on the
UTC date of the event timestamp.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import shutil
import socket
import time
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_datawarehousingandetlpipeline_spark.schema import KEY_COLUMNS


def is_visible_data_file(name: str) -> bool:
    """True iff ``name`` is a committed data file: it has no ``_`` or ``.``
    prefix. In-flight and metadata output hides under those prefixes
    (``_temporary``, ``_SUCCESS``, ``.crc``), the rule Spark's own file
    index applies. :meth:`WarehouseTable.data_files` (and every count
    built on it) and the streaming state probe
    (``streaming.pipeline._state_partition_ids``) both use it."""
    return not name.startswith(("_", "."))


def single_slice_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Local rows as a ONE-partition DataFrame (audit/manifest shape).

    ``createDataFrame(list)`` parallelizes the rows into
    ``defaultParallelism`` PythonRDD slices, and a downstream
    ``coalesce(1)`` then drains every slice SEQUENTIALLY through one
    task — one Python-worker round-trip per core, ~5 s at local[32] to
    write a handful of audit rows (guide §4: each JVM↔Python crossing
    costs milliseconds; pay it once, not once per core). One explicit
    slice keeps a driver-local write at exactly one round-trip.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


class ConcurrentWriteError(RuntimeError):
    """Two writers raced on the same table version (see ``_claim_version``)."""


class WarehouseTable:
    """A date-partitioned Parquet table with idempotent upsert semantics."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: Sequence[str] = KEY_COLUMNS,
        ts_col: str = "timestamp",
        track_versions: bool = False,
    ) -> None:
        self.spark = spark
        self.root = root
        self.keys = list(keys)
        self.ts_col = ts_col
        #: opt-in time travel (see :meth:`read_as_of`): every mutating op
        #: snapshots a file manifest, and rewrites hardlink the files they
        #: destroy into a retained mirror first. Off by default — the
        #: manifest costs O(touched files) metadata work per write, which
        #: a streaming hot path shouldn't pay unless asked (a real table
        #: format pays it inside its transaction log).
        self.track_versions = track_versions

    # ------------------------------------------------------------ probes

    def exists(self) -> bool:
        """S7: table-existence probe (``_table_exists``, kafka_stream.py:148-159)."""
        try:
            return any(
                name.startswith("dt=") or name.endswith(".parquet")
                for name in os.listdir(self.root)
            )
        except FileNotFoundError:
            return False

    def read(self) -> DataFrame:
        stored = self.table_schema()
        if stored is not None:
            # the registered schema makes reads O(1) in file count: no
            # footer sampling, and files written BEFORE a column was
            # added surface it as typed NULLs (per-file missing-column
            # semantics) without a mergeSchema footer scan of the table.
            return self.spark.read.schema(stored).parquet(self.root)
        return self.spark.read.parquet(self.root)

    #: mutating ops a file-based streaming source tolerates: appends add
    #: new files only, and partition expiry only REMOVES files — neither
    #: makes the source re-deliver a row. Every other op rewrites live
    #: rows into new file names, which a file stream would emit again.
    _STREAM_SAFE_OPS = ("append", "expire_partitions")

    def stream_source(self, enforce_append_only: bool = True, **options) -> DataFrame:
        """Read the table as a streaming source (Delta's ``readStream`` on
        a table, emulated the way :meth:`merge_upsert` emulates MERGE).

        Each append lands as new parquet files under the ``dt=``
        partitions, so Spark's file streaming source delivers exactly the
        appended rows per micro-batch, with the checkpoint providing
        exactly-once across restarts. This is the fan-out half of the
        lakehouse pattern: one ingestion pipeline appends, any number of
        downstream streams (each with its own checkpoint) tail the table
        independently — the reference's single Kafka consumer
        (kafka_stream.py:287-361) cannot be tailed twice without a second
        consumer group; a table source gives every reader its own cursor
        for free.

        **Append-only contract**: rewriting ops (merge_replace,
        delete_where, compact, compact_partitions, restore) write live
        rows into NEW files, which a file-based source would re-deliver.
        With ``track_versions=True`` the version log makes that
        detectable, and ``enforce_append_only`` (default) raises loudly
        if the table's history contains a rewriting op — pass ``False``
        only when a downstream idempotent MERGE absorbs the replays
        (exactly the :meth:`merge_upsert` sink this store provides).
        Untracked tables cannot be checked; the contract is then on the
        caller, as documented here.

        ``options`` pass through to the reader (``maxFilesPerTrigger``
        for micro-batch sizing, etc.). Requires a registered schema —
        streaming sources cannot infer one, and the registry is written
        by the first append.
        """
        stored = self.table_schema()
        if stored is None:
            raise ValueError(
                "stream_source needs a registered schema; append once first "
                "(streaming file sources cannot infer schemas)"
            )
        if enforce_append_only and self.track_versions:
            ops = {m["op"] for m in map(self._manifest, range(1, (self._latest_version() or 0) + 1))}
            rewrites = sorted(ops - set(self._STREAM_SAFE_OPS))
            if rewrites:
                raise ValueError(
                    f"table history contains rewriting ops {rewrites}; a file "
                    "stream source would re-deliver their rows. Use an "
                    "idempotent merge_upsert sink and pass "
                    "enforce_append_only=False to accept replays."
                )
        reader = self.spark.readStream.schema(stored)
        for key, value in options.items():
            reader = reader.option(key, value)
        return reader.parquet(self.root)

    # ------------------------------------------------------ schema registry

    def _schema_file(self) -> str:
        return os.path.join(self.root, "_schema", "current.json")

    def table_schema(self) -> T.StructType | None:
        """The registered table schema (the Delta/Iceberg metadata-log
        analogue, as an underscore sidecar invisible to data scans).
        ``None`` for pre-registry tables — reads fall back to inference."""
        try:
            with open(self._schema_file()) as fh:
                return T.StructType.fromJson(json.load(fh))
        except FileNotFoundError:
            return None

    def _register_schema(self, schema: T.StructType) -> None:
        os.makedirs(os.path.dirname(self._schema_file()), exist_ok=True)
        tmp = self._schema_file() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(schema.jsonValue(), fh)
        os.replace(tmp, self._schema_file())  # atomic swap, no torn reads

    def _align_schema(
        self, df: DataFrame, evolve: bool
    ) -> tuple[DataFrame, T.StructType, list[str]]:
        """Schema-evolution contract on the write path (Delta semantics).

        Against the registered schema: a same-name/different-type column
        always raises (silent type drift corrupts every later read);
        batch-MISSING table columns are filled as typed NULLs (safe —
        Delta allows this by default, and it keeps an old-schema producer
        working after the table evolved); batch-NEW columns require
        ``evolve=True`` (they change the table contract — Delta's
        ``mergeSchema`` opt-in), after which the registry holds the union
        and earlier files surface the column as NULL.
        """
        stored = self.table_schema()
        if stored is None:
            return df, df.schema, []
        cur = {f.name: f for f in stored.fields}
        new = {f.name: f for f in df.schema.fields}
        conflicts = [
            n for n in new
            if n in cur and new[n].dataType != cur[n].dataType
        ]
        if conflicts:
            raise ValueError(
                f"schema conflict on {conflicts}: incoming "
                f"{[new[n].dataType.simpleString() for n in conflicts]} vs table "
                f"{[cur[n].dataType.simpleString() for n in conflicts]}"
            )
        added = [n for n in new if n not in cur]
        if added and not evolve:
            raise ValueError(
                f"batch adds columns {added} not in the table schema; "
                "pass evolve_schema=True to widen the table"
            )
        aligned = df
        for n in cur:
            if n not in new:
                aligned = aligned.withColumn(
                    n, F.lit(None).cast(cur[n].dataType)
                )
        aligned = aligned.select(*list(cur), *added)
        evolved = T.StructType(
            stored.fields + [new[n] for n in added]
        )
        return aligned, evolved, added

    def count(self) -> int:
        return self.read().count() if self.exists() else 0

    # --------------------------------------------------- CHECK constraints

    def _constraints_file(self) -> str:
        return os.path.join(self.root, "_schema", "constraints.json")

    def constraints(self) -> dict[str, str]:
        """Registered CHECK constraints (name → SQL predicate)."""
        try:
            with open(self._constraints_file()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def add_constraint(self, name: str, predicate_sql: str) -> None:
        """Register an enforced CHECK constraint (Delta ``ALTER TABLE ...
        ADD CONSTRAINT``): every future write validates its batch against
        all registered predicates in ONE conditional-aggregate pass and
        REFUSES on violation — the quality gate moves from "audit after"
        (operators/expectations.py) to "reject at the door".

        Like Delta, registration first proves the EXISTING data
        satisfies the predicate (one scan); like SQL CHECK, a NULL
        predicate result is not a violation — only FALSE rejects.
        Constraints live in the ``_schema`` sidecar beside the registered
        schema, so they survive re-opening the table.
        """
        if self.exists():
            bad = self._violations(self.read(), {name: predicate_sql})
            if bad:
                raise ValueError(
                    f"cannot add constraint {name!r}: existing data "
                    f"violates it ({bad[name]} rows)"
                )
        cons = self.constraints()
        cons[name] = predicate_sql
        os.makedirs(os.path.dirname(self._constraints_file()), exist_ok=True)
        tmp = self._constraints_file() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cons, fh)
        os.replace(tmp, self._constraints_file())
        self._log_maintenance(
            [("add_constraint", name, None, None, None, None)]
        )

    def drop_constraint(self, name: str) -> None:
        cons = self.constraints()
        cons.pop(name, None)
        tmp = self._constraints_file() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cons, fh)
        os.replace(tmp, self._constraints_file())
        self._log_maintenance(
            [("drop_constraint", name, None, None, None, None)]
        )

    def _violations(
        self, df: DataFrame, cons: dict[str, str]
    ) -> dict[str, int]:
        """Violation counts per constraint, ONE pass (conditional sums).
        SQL CHECK semantics: only a strictly-FALSE predicate violates."""
        aggs = [
            F.sum(
                F.when(F.expr(sql) == F.lit(False), 1).otherwise(0)
            ).alias(name)
            for name, sql in cons.items()
        ]
        row = df.agg(*aggs).first()
        return {n: int(row[n]) for n in cons if row[n]}

    def _enforce_constraints(self, df: DataFrame) -> None:
        cons = self.constraints()
        if not cons:
            return
        bad = self._violations(df, cons)
        if bad:
            worst = max(bad, key=bad.get)
            raise ValueError(
                f"batch rejected: CHECK constraint violations {bad} "
                f"(e.g. {worst!r}: {self.constraints()[worst]})"
            )

    # ------------------------------------------------------------ writes

    def _with_dt(self, df: DataFrame) -> DataFrame:
        return df.withColumn("dt", F.to_date(F.col(self.ts_col)))

    def _overwrite_partitions(self, df: DataFrame) -> None:
        """Replace exactly the ``dt`` partitions present in ``df`` (dynamic
        partition overwrite). The mode is a per-write option, so no
        rewrite reads or sets session state."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dt")
            .parquet(self.root)
        )
        # the overwrite deleted files the session's shared file-status
        # cache may still list (metadataCacheTTLSeconds is ∞ by default);
        # stale listings would make the next read fail on missing files
        self.spark.catalog.refreshByPath(self.root)

    def append(
        self, df: DataFrame, verify: bool = True, evolve_schema: bool = False
    ) -> int:
        """S5: append the batch; S6: verify persisted rows afterwards.

        Returns the number of rows written. Verification re-counts only the
        partitions the batch touched (cheap at any scale), mirroring
        ``_verify_row_persistence`` (kafka_stream.py:161-193) without a
        full-table scan.

        Schema contract (see :meth:`_align_schema`): batches missing
        registered columns write typed NULLs; batches ADDING columns
        require ``evolve_schema=True``, which widens the registered
        schema (logged to the maintenance audit) — files written before
        the widening surface the new column as NULL on read.
        """
        before = self._count_in_partitions(df) if verify else 0
        aligned, evolved, added = self._align_schema(
            self._with_dt(df), evolve_schema
        )
        # reject-at-the-door (CHECK) — AFTER alignment, so an old-schema
        # producer's missing columns arrive as NULLs and follow SQL
        # CHECK-on-NULL semantics (pass) instead of failing to resolve
        self._enforce_constraints(aligned)
        n = aligned.count()
        (
            aligned
            .write.mode("append")
            .partitionBy("dt")
            .parquet(self.root)
        )
        self._register_schema(evolved)
        if added:
            self._log_maintenance(
                [("evolve_schema", ",".join(added), None, None, None, None)]
            )
        if self.track_versions:
            self._snapshot_version("append", self._touched_dates(aligned))
        if verify:
            after = self._count_in_partitions(df)
            if after - before < n:
                raise RuntimeError(
                    f"post-write verification failed: expected >= {n} new rows "
                    f"in touched partitions, found {after - before}"
                )
        return n

    def merge_upsert(self, df: DataFrame, evolve_schema: bool = False) -> int:
        """T4: idempotent insert-if-absent on the key columns.

        Anti-join the incoming batch against ONLY the existing rows of the
        partitions it touches, then append the survivors. Re-running the
        same batch is a no-op — the exactly-once property the reference
        approximates with its watermark file.

        Schema evolution rides the append contract: old-schema batches
        keep working after the table widened (missing columns → NULLs);
        widening itself needs ``evolve_schema=True``. ``merge_replace``
        stays schema-strict — a correction feed whose schema drifted
        should fail loudly, not null out columns it forgot.
        """
        incoming = df.dropDuplicates(self.keys)
        if not self.exists():
            return self.append(
                incoming, verify=False, evolve_schema=evolve_schema
            )
        existing = self._partition_slice(incoming).select(*self.keys)
        fresh = incoming.join(existing, self.keys, "left_anti")
        # materialize before writing: the anti-join must not re-read the
        # table mid-append (read-modify-write hazard on the same files)
        fresh = fresh.localCheckpoint(eager=True)
        return self.append(fresh, verify=False, evolve_schema=evolve_schema)

    def merge_replace(self, df: DataFrame) -> int:
        """MERGE with update-on-match: incoming rows REPLACE same-key rows.

        The plain-parquet emulation of ``MERGE WHEN MATCHED THEN UPDATE
        WHEN NOT MATCHED THEN INSERT`` (latest-wins upsert — what a
        correction/late-revision feed needs, where ``merge_upsert``'s
        insert-if-absent would silently keep the stale row): survivors =
        existing rows of the TOUCHED date partitions anti-joined against
        the incoming keys, unioned with the batch, written back via
        dynamic partition overwrite of only those partitions. Cost scales
        with the batch's time window, not table history, and re-running
        the same batch is a no-op (idempotent like ``merge_upsert``).

        Correct because the key determines the partition here (the event
        timestamp is part of the row identity, so an update lands in the
        same ``dt`` as the row it replaces); a key set that did NOT pin
        the partition would need a full-table anti-join instead — that is
        the query a real table format's MERGE runs too.

        Within one batch, duplicate keys collapse arbitrarily (same
        contract as ``merge_upsert``) — feed pre-deduplicated batches
        (``prepare_hourly`` keep-last) when the winner matters.
        """
        # normalize away the derived partition column on BOTH sides: the
        # existing slice always carries `dt` (it is read back from the
        # hive layout) while a correction batch arriving from outside the
        # table does not — the union below must see one schema, and
        # `_with_dt` re-derives the column at write time anyway. (Caught
        # by examples/maintenance.py: the original code only worked for
        # batches that happened to come FROM warehouse.read().)
        incoming = df.drop("dt").dropDuplicates(self.keys)
        if not self.exists():
            return self.append(incoming, verify=False)
        self._enforce_constraints(incoming)  # reject-at-the-door (CHECK)
        # Pin the batch once: the rows-written count and BOTH plan
        # branches below (anti-join probe + union) read the materialized
        # blocks, so the dedup runs exactly once. The count is over
        # checkpointed data — a block walk, not a recompute. (This used
        # to be an observe() metric on the union's incoming branch, but
        # Observation.get blocks the driver until a listener event that
        # never arrives when a multi-branch observed plan executes on a
        # foreachBatch micro-batch thread — measured deadlock, caught by
        # examples/medallion_fanout.py's gold consumer. Counts over
        # pinned blocks are execution-context-agnostic.)
        incoming = incoming.localCheckpoint(eager=True)
        n = incoming.count()
        existing = self._partition_slice(incoming).drop("dt")
        # materialize before the overwrite: survivors reads the very
        # files the write replaces (read-modify-write hazard); incoming
        # is already pinned above, so the union writes from blocks only.
        survivors = existing.join(
            incoming.select(*self.keys), self.keys, "left_anti"
        ).localCheckpoint(eager=True)
        merged = survivors.unionByName(incoming)
        touched = (
            self._touched_dates(incoming) if self.track_versions else None
        )
        if touched is not None:
            self._retain_days(touched)  # keep the replaced files readable
        self._overwrite_partitions(self._with_dt(merged))
        if touched is not None:
            self._snapshot_version("merge_replace", touched)
        return n

    def delete_where(self, predicate: Column) -> int:
        """Row-level DELETE: rewrite only the partitions holding matches.

        Completes the DML triangle beside ``merge_upsert`` (insert) and
        ``merge_replace`` (update) — the GDPR/erasure shape. Two-phase,
        cost bounded by AFFECTED days, not table history: (1) one pruned
        scan finds the distinct ``dt`` values containing matching rows
        (collected — bounded by days, the `_touched_dates` contract);
        (2) those partitions are rewritten without the matching rows via
        dynamic partition overwrite. A predicate matching nothing
        rewrites nothing. Idempotent: re-running deletes zero rows.
        Every run is audit-logged (affected partitions + deleted-row
        count). (Delta's ``DELETE FROM`` runs this same find-then-rewrite
        plan transactionally; the call site would not change.)
        """
        if not self.exists():
            return 0
        matches = self.read().filter(predicate)
        days = [r["dt"] for r in matches.select("dt").distinct().collect()]
        if not days:
            self._log_maintenance(
                [("delete_where", None, None, None, 0, None)]
            )
            return 0
        # Pin the touched partitions once (read-modify-write guard — the
        # overwrite below replaces the very files this slice reads); the
        # deleted count and the survivors both walk the pinned blocks, so
        # the table files are read exactly once. (An observe() metric
        # used to fuse the count into the write pass, but Observation.get
        # deadlocks on a foreachBatch micro-batch thread — see
        # merge_replace — and two block walks over a bounded slice cost
        # less than that correctness risk.)
        slice_df = self.read().filter(F.col("dt").isin(days)).localCheckpoint(
            eager=True
        )
        survivors = slice_df.filter(~predicate)
        n_deleted = slice_df.count() - survivors.count()
        self._retain_days(days)  # keep the pre-delete files readable
        self._overwrite_partitions(survivors)
        # dynamic overwrite only rewrites partitions present in the
        # survivors frame — a day whose EVERY row matched produces no
        # survivor rows and must be dropped explicitly
        surviving_days = {
            r["dt"] for r in survivors.select("dt").distinct().collect()
        }
        emptied = [d for d in days if d not in surviving_days]
        for day in emptied:
            shutil.rmtree(
                os.path.join(self.root, f"dt={day.isoformat()}"),
                ignore_errors=True,
            )
        if emptied:
            self.spark.catalog.refreshByPath(self.root)
        self._log_maintenance(
            [(
                "delete_where",
                ",".join(d.isoformat() for d in sorted(days)),
                None,
                None,
                n_deleted,
                None,
            )]
        )
        self._snapshot_version("delete_where", days)
        return n_deleted

    def expire_partitions(self, keep_days: int, anchor) -> int:
        """Retention: drop whole date partitions older than the window.

        ``anchor`` is the (UTC date) reference day — passed explicitly,
        never ``current_date()``, so retention runs are replayable. File
        deletion is partition-granular (no row rewrites — the cheap
        retention a date-partitioned layout exists to make possible).
        Returns the number of partitions dropped.
        """
        cutoff = anchor - datetime.timedelta(days=keep_days)
        expired = [(day, path) for day, path in self._partitions() if day < cutoff]
        for _, path in expired:
            shutil.rmtree(path)
        if expired:
            self.spark.catalog.refreshByPath(self.root)
            # retention deliberately does NOT retain (it exists to free
            # space); older versions referencing these files become
            # unreadable — time travel after VACUUM, same as Delta
            self._snapshot_version("expire_partitions", [d for d, _ in expired])
        return len(expired)

    def compact(self) -> int:
        """Rewrite every date partition into one key-sorted file
        (small-files repair): :meth:`compact_partitions` with an unbounded
        file size and no audit row. A partition already holding one file
        is left as it is. Returns the number of data files afterwards.
        """
        self.compact_partitions(math.inf, log=False)
        return self.data_file_count()

    def compact_partitions(
        self,
        target_file_rows: int,
        before=None,
        log: bool = True,
        zorder: Sequence[str] | None = None,
    ) -> int:
        """Partition-granular OPTIMIZE: bin-pack small files, day by day.

        Each date partition is considered independently and rewritten
        only if it holds more files than its rows justify — more than
        ``ceil(rows / target_file_rows)``, the bin-packed file count. Cost
        therefore scales with the partitions that actually need
        compaction (the recent ones streaming ingestion fragmented), never
        with table history, and re-running is a no-op (each rewritten
        partition lands exactly at its bin-packed file count).

        ``before`` is the optional (UTC date) eligibility anchor — only
        partitions strictly OLDER are touched, so hot partitions still
        receiving micro-batch appends are left alone. Like
        ``expire_partitions``'s anchor it is passed explicitly, never
        ``current_date()``, so maintenance runs are replayable.

        Every run appends to the :meth:`maintenance_log` audit table —
        one row per rewritten partition (files before/after, rows,
        anchor), or a single no-op row when nothing qualified — the
        queryable what-did-maintenance-do surface Delta's ``history()``
        provides, emulated the same way the store emulates MERGE.
        ``log=False`` opts out.

        ``zorder`` (numeric column names) switches the rewrite's layout
        from key-sorted to Morton-clustered (operators/zorder.py — the
        ``OPTIMIZE ZORDER BY`` analogue): files become local in EVERY
        listed column, so row-group min/max footers prune scans filtered
        on any of them, at the cost of perfect single-column ordering.

        Each selected partition is materialized (partition-sized, the
        same read-modify-write guard ``merge_replace`` uses), bin-packed
        with ``repartitionByRange`` over the key columns and sorted
        within files — row-group min/max stats then let per-key scans
        skip groups (the plain-parquet analogue of Z-ordering) — and
        written back over only its own directory. The driver-side loop
        is over date partitions (bounded by retention, e.g. 365/year),
        not rows or files. Returns the number of partitions rewritten.
        (A table format — Delta/Iceberg OPTIMIZE / rewriteDataFiles —
        makes each rewrite transactional; the call site would not
        change.)
        """
        if not self.exists():
            return 0
        anchor = before.isoformat() if before is not None else None
        counts = self.partition_file_counts()
        candidates = [
            (day, path, n_files)
            for day, path in self._partitions()
            if (n_files := counts[day.isoformat()]) > 1
            and (before is None or day < before)
        ]
        stored = self.table_schema()

        def rewrite(item) -> tuple | None:
            """Rewrite one partition; returns its audit entry or None.

            Partition rewrites touch disjoint directories and disjoint
            retained-mirror days, so they are independent jobs — running
            2-3 in flight lets the next partition's tasks back-fill the
            executor tail of the current one (guide §2.6) instead of
            serializing ~3 driver jobs per partition. Job descriptions
            are thread-local, so each rewrite labels its own jobs.
            """
            day, path, n_files = item
            self.spark.sparkContext.setJobDescription(
                f"compact_partitions: dt={day.isoformat()}"
            )
            # bind to the registered schema: a partition holding files
            # from before and after a widening must keep the added column
            reader = self.spark.read
            if stored is not None:
                reader = reader.schema(
                    T.StructType([f for f in stored.fields if f.name != "dt"])
                )
            part = reader.parquet(path)
            rows = part.count()  # parquet footer metadata, no data read
            goal = max(1, math.ceil(rows / target_file_rows))
            if n_files <= goal:
                return None
            self._retain_days([day])  # this partition is about to rewrite
            snapshot = part.localCheckpoint(eager=True)
            if zorder:
                from data_engineering_datawarehousingandetlpipeline_spark.operators.zorder import (
                    with_zorder,
                )

                zordered = with_zorder(snapshot, zorder)
                writer = (
                    # goal == 1 needs no range partitioner (and skips its
                    # sampling job): one output file either way
                    (
                        zordered.coalesce(1)
                        if goal == 1
                        else zordered.repartitionByRange(goal, F.col("__z"))
                    )
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                writer = (
                    snapshot.coalesce(1)
                    if goal == 1
                    else snapshot.repartitionByRange(goal, *self.keys)
                ).sortWithinPartitions(*self.keys)
            writer.write.mode("overwrite").parquet(path)
            return ("compact_partitions", day.isoformat(), n_files, goal, rows, anchor)

        # 2-3 in-flight jobs suffice when rewrites are executor-bound
        # (guide §2.6); fragmented micro-batch partitions are typically a
        # handful of small files each, where the bottleneck is driver
        # job-scheduling round-trips instead — 8 in flight keeps the
        # driver busy without starving a genuinely large rewrite.
        if candidates:
            with ThreadPoolExecutor(
                max_workers=min(8, len(candidates))
            ) as pool:
                results = list(pool.map(rewrite, candidates))
        else:
            results = []
        # candidates are date-sorted and pool.map preserves order, so the
        # audit log stays deterministic regardless of completion order
        entries = [e for e in results if e is not None]
        rewritten = len(entries)
        rewritten_days = [datetime.date.fromisoformat(e[1]) for e in entries]
        if rewritten:
            self.spark.catalog.refreshByPath(self.root)
            self._snapshot_version("compact_partitions", rewritten_days)
        if log:
            if not entries:  # a run that found nothing is still a run
                entries = [("compact_partitions", None, 0, 0, 0, anchor)]
            self._log_maintenance(entries)
        return rewritten

    def _partitions(self) -> list[tuple[datetime.date, str]]:
        """``(day, path)`` of every ``dt=YYYY-MM-DD`` partition directory,
        date-sorted; names that do not parse as a date are skipped."""
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return []
        parts = []
        for name in names:
            if not name.startswith("dt="):
                continue
            try:
                day = datetime.date.fromisoformat(name[3:])
            except ValueError:
                continue
            parts.append((day, os.path.join(self.root, name)))
        return sorted(parts)

    def data_files(self, days=None) -> list[str]:
        """Sorted root-relative paths (``dt=.../part-...``) of the data
        files, whole table or the given days' partitions: the one listing
        every file count, version manifest and skipping probe reads.
        Sidecars (``_schema``, ``_versions``, ``_maintenance``, ``_stats``)
        are not partitions, so they never appear."""
        if days is None:
            dirs = [path for _, path in self._partitions()]
        else:
            dirs = [os.path.join(self.root, f"dt={d.isoformat()}") for d in days]
        rels: list[str] = []
        for path in dirs:
            try:
                names = os.listdir(path)
            except FileNotFoundError:
                continue
            part = os.path.basename(path)
            rels.extend(f"{part}/{f}" for f in names if is_visible_data_file(f))
        return sorted(rels)

    def data_file_count(self) -> int:
        """Number of data files across all partitions."""
        return len(self.data_files())

    def partition_file_counts(self) -> dict[str, int]:
        """Data files per ``dt=`` partition, keyed by the ISO date string —
        the maintenance accounting view ``compact_partitions`` plans from.
        An emptied partition directory counts 0."""
        counts = {day.isoformat(): 0 for day, _ in self._partitions()}
        for rel in self.data_files():
            counts[rel[3 : rel.index("/")]] += 1
        return counts

    # ------------------------------------------------------------ time travel

    def _versions_dir(self) -> str:
        return os.path.join(self.root, "_versions")

    def _retained_dir(self) -> str:
        return os.path.join(self._versions_dir(), "retained")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._versions_dir(), f"v{version:09d}.json")

    def _latest_version(self) -> int | None:
        try:
            names = os.listdir(self._versions_dir())
        except FileNotFoundError:
            return None
        versions = [
            int(n[1:-5])
            for n in names
            if n.startswith("v") and n.endswith(".json")
        ]
        return max(versions) if versions else None

    def _manifest(self, version: int) -> dict:
        try:
            with open(self._manifest_path(version)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ValueError(
                f"version {version} does not exist (latest: "
                f"{self._latest_version()}); was it vacuumed?"
            ) from None

    def _snapshot_version(self, op: str, touched_days=None) -> None:
        """Commit a new version manifest (the transaction-log analogue).

        Incremental: with ``touched_days`` the new manifest is the previous
        one minus entries under the touched partitions plus their current
        listing — O(touched files), never O(table history). The registered
        schema is captured per version so :meth:`read_as_of` returns the
        table as it was, pre-widening.
        """
        if not self.track_versions:
            return
        prev = self._latest_version()
        if prev is None or touched_days is None:
            files = self.data_files()
        else:
            prefixes = tuple(
                f"dt={d.isoformat()}/" for d in touched_days
            )
            kept = [
                f
                for f in self._manifest(prev)["files"]
                if not f.startswith(prefixes)
            ]
            files = sorted(kept + self.data_files(touched_days))
        stored = self.table_schema()
        manifest = {
            "version": (prev or 0) + 1,
            "op": op,
            "files": files,
            "schema": stored.jsonValue() if stored is not None else None,
        }
        os.makedirs(self._versions_dir(), exist_ok=True)
        self._claim_version(manifest)

    def _claim_version(self, manifest: dict) -> None:
        """Atomically claim the manifest's version slot (optimistic
        concurrency, the Delta commit-conflict analogue).

        Delta commits a transaction by atomically creating
        ``_delta_log/<version>.json`` — if the name exists, another writer
        won the version and the loser must re-resolve. The same protocol
        here: the manifest is written to a temp name and **hard-linked**
        into place (``os.link`` fails with EEXIST if the slot is taken —
        atomic on POSIX, unlike ``os.replace`` which would silently
        last-write-win and LOSE the other writer's manifest). On conflict
        the caller's data files are already on disk, so this raises
        loudly rather than pretending isolation plain parquet cannot
        provide: the table needs re-verification, and genuinely
        concurrent writers need a real transactional format (the
        documented Delta/Iceberg swap) or the writers serialized. Racing
        silently — what un-versioned parquet tables do — is the failure
        mode this guard exists to surface.
        """
        path = self._manifest_path(manifest["version"])
        tmp = path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {manifest['version']} was committed by another "
                f"writer while this {manifest['op']!r} ran; the data files "
                "of both writes are on disk but only one manifest won. "
                "Re-verify the table (or serialize writers / use a "
                "transactional table format for true isolation)."
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    @contextmanager
    def exclusive_writer(self, stale_after_s: float = 3600.0):
        """Advisory writer lock: the PREVENTION half of write concurrency
        (:meth:`_claim_version` is the detection half).

        ``with table.exclusive_writer(): ...`` serializes multi-process
        writers sharing a filesystem the way Hive's table locks do:
        acquisition atomically ``mkdir``s ``_lock/`` (POSIX-atomic, like
        the manifest hard-link) and records the owner (pid, host, time)
        for diagnostics. A second writer raises
        :class:`ConcurrentWriteError` immediately — non-blocking by
        design, so a scheduler retry policy stays in charge of waiting.

        A crashed writer leaves its lock behind; a lock older than
        ``stale_after_s`` is broken and re-acquired (the age check uses
        the owner file's mtime, refreshed at acquisition only — size the
        threshold above the longest expected write). This is advisory:
        nothing stops a writer that doesn't take the lock, which is the
        same contract Hive/HDFS advisory locks give — true enforcement
        needs a transactional table format, as documented throughout.

        Known narrow race, stated honestly: TWO writers breaking the SAME
        stale lock can interleave unlink/rmdir/mkdir such that both
        believe they acquired (the second breaker can remove the first's
        just-written owner file). The window is microseconds and requires
        simultaneous stale-breaking; if it ever happens, the overlapping
        writes are still caught at commit by :meth:`_claim_version`'s
        atomic manifest hard-link — break-race prevention without a
        kernel lock primitive would need exactly the transactional log
        this class documents as the swap path. (``flock`` would close it
        on a local filesystem but is unreliable on the network mounts a
        multi-writer warehouse actually sits on — mkdir is the portable
        choice, same trade Hive made.)
        """
        lock_dir = os.path.join(self.root, "_lock")
        owner = os.path.join(lock_dir, "owner.json")
        os.makedirs(self.root, exist_ok=True)
        try:
            os.mkdir(lock_dir)
        except FileExistsError:
            try:
                age = time.time() - os.stat(owner).st_mtime
                with open(owner) as fh:
                    holder = json.load(fh)
            except (FileNotFoundError, json.JSONDecodeError):
                # torn acquisition (mkdir done, owner not yet written):
                # treat as held with unknown owner; age from the dir
                age = time.time() - os.stat(lock_dir).st_mtime
                holder = {}
            if age <= stale_after_s:
                raise ConcurrentWriteError(
                    f"table is locked by {holder or 'another writer'} "
                    f"({age:.0f}s ago); retry later or raise "
                    "stale_after_s if that writer is known dead"
                ) from None
            # stale: the owner crashed — break the lock and take it
            try:
                os.unlink(owner)
            except FileNotFoundError:
                pass
            os.rmdir(lock_dir)
            try:
                os.mkdir(lock_dir)
            except FileExistsError:
                raise ConcurrentWriteError(
                    "lost the race to re-acquire a stale lock; another "
                    "writer broke and took it first — retry later"
                ) from None
        with open(owner, "w") as fh:
            json.dump(
                {"pid": os.getpid(), "host": socket.gethostname(),
                 "acquired_at": time.time()},
                fh,
            )
        try:
            yield self
        finally:
            try:
                os.unlink(owner)
            except FileNotFoundError:
                pass
            try:
                os.rmdir(lock_dir)
            except (FileNotFoundError, OSError):
                pass

    def _retain_days(self, days) -> None:
        """Hardlink the data files of the given partitions into the
        retained mirror BEFORE a rewrite destroys their names.

        This is how plain parquet keeps old versions readable: a table
        format simply leaves superseded files in place until VACUUM; our
        dynamic-partition overwrite deletes names, so the mirror keeps a
        second link to the same inodes — zero bytes copied, O(touched
        files) metadata work, freed only by :meth:`vacuum_versions`.
        """
        if not self.track_versions:
            return
        for rel in self.data_files(days):
            src = os.path.join(self.root, rel)
            dst = os.path.join(self._retained_dir(), rel)
            if os.path.exists(dst):
                continue
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:  # cross-device: degrade to a copy
                shutil.copy2(src, dst)

    def versions(self) -> DataFrame:
        """The version history, queryable (Delta ``DESCRIBE HISTORY``):
        one row per committed manifest. Version ids are dense ints —
        deliberately no wall-clock column, so histories are replayable."""
        latest = self._latest_version()
        rows = []
        for v in range(1, (latest or 0) + 1):
            try:
                m = self._manifest(v)
            except ValueError:  # vacuumed
                continue
            rows.append((m["version"], m["op"], len(m["files"])))
        return self.spark.createDataFrame(
            rows, "version int, op string, n_files int"
        )

    def read_as_of(self, version: int) -> DataFrame:
        """Time travel: the table exactly as of a committed version
        (Delta ``SELECT ... VERSION AS OF n``).

        Resolves each manifest entry to its live path, else to its
        retained hardlink (the file was rewritten since), else raises —
        a file neither live nor retained was vacuumed, the same
        time-travel-after-VACUUM failure a table format gives. Reads bind
        to the schema registered AT that version, so a later widening
        does not leak backwards. Requires ``track_versions=True``.
        """
        if not self.track_versions:
            raise ValueError(
                "time travel requires track_versions=True at table creation"
            )
        m = self._manifest(version)
        schema = (
            T.StructType.fromJson(m["schema"])
            if m["schema"] is not None
            else None
        )
        live, retained, lost = [], [], []
        for rel in m["files"]:
            p = os.path.join(self.root, rel)
            r = os.path.join(self._retained_dir(), rel)
            if os.path.exists(p):
                live.append(p)
            elif os.path.exists(r):
                retained.append(r)
            else:
                lost.append(rel)
        if lost:
            raise ValueError(
                f"version {version} is no longer readable: "
                f"{len(lost)} files vacuumed (e.g. {lost[0]})"
            )
        parts: list[DataFrame] = []
        for base, paths in (
            (self.root, live),
            (self._retained_dir(), retained),
        ):
            if not paths:
                continue
            reader = self.spark.read.option("basePath", base)
            if schema is not None:
                reader = reader.schema(schema)
            parts.append(reader.parquet(*paths))
        if not parts:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return self.spark.createDataFrame([], self.read().schema)
        df = parts[0]
        for other in parts[1:]:
            df = df.unionByName(other)
        return df

    def changes_between(
        self, from_version: int, to_version: int,
        compare_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two versions (Delta ``table_changes``).

        Composes :meth:`read_as_of` with the relational snapshot diff
        (operators/diff.table_diff): one co-partitioned full-outer join
        on the key columns classifies every key as insert / delete /
        update with old/new values. Delta serves this from the
        transaction log's per-commit files; on plain parquet the honest
        equivalent is the keyed diff of the two manifest reads — still
        one fact-sized shuffle, O(|v1| + |v2|). ``compare_cols`` defaults
        to every non-key, non-partition column.
        """
        from data_engineering_datawarehousingandetlpipeline_spark.operators.diff import (
            table_diff,
        )

        old, new = self.read_as_of(from_version), self.read_as_of(to_version)
        if compare_cols is None:
            compare_cols = [
                c for c in new.columns if c not in (*self.keys, "dt")
            ]
        return table_diff(old, new, self.keys, list(compare_cols))

    def restore(self, version: int) -> int:
        """Roll the table back to a committed version (Delta ``RESTORE``),
        zero-copy.

        The manifest knows exactly which files composed version N, and
        the retained mirror still holds the ones later rewrites
        destroyed — so restore is pure metadata work: retain everything
        currently live (so versions AFTER the restore point stay
        readable — you can restore forward again), remove live files the
        target manifest doesn't list, hardlink back the ones it lists
        that aren't live, and re-register the schema AS OF that version
        (a restore across a widening narrows the read schema with it).
        Commits a new version (op ``restore``) rather than rewriting
        history — the Delta contract — and audit-logs. Returns the
        number of data files in the restored state. Raises if the target
        version was vacuumed.
        """
        if not self.track_versions:
            raise ValueError(
                "restore requires track_versions=True at table creation"
            )
        m = self._manifest(version)
        self._retain_days(None)  # later versions must survive the reshape
        target = set(m["files"])
        current = set(self.data_files())
        missing = [
            rel
            for rel in target - current
            if not os.path.exists(os.path.join(self._retained_dir(), rel))
        ]
        if missing:
            raise ValueError(
                f"version {version} is not restorable: {len(missing)} "
                f"files vacuumed (e.g. {missing[0]})"
            )
        for rel in current - target:
            os.remove(os.path.join(self.root, rel))
        for rel in target - current:
            src = os.path.join(self._retained_dir(), rel)
            dst = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:  # cross-device: degrade to a copy
                shutil.copy2(src, dst)
        # drop partition dirs the restore emptied entirely
        for day, path in self._partitions():
            if not self.data_files([day]):
                shutil.rmtree(path)
        if m["schema"] is not None:
            self._register_schema(T.StructType.fromJson(m["schema"]))
        self.spark.catalog.refreshByPath(self.root)
        self._snapshot_version("restore", None)
        self._log_maintenance(
            [("restore", f"v{version}", None, len(target), None, None)]
        )
        return len(target)

    def vacuum_versions(self, keep_last: int) -> int:
        """Drop manifests older than the last ``keep_last`` and unlink
        retained files no kept version references (Delta ``VACUUM``).
        Returns the number of retained files removed; audit-logged."""
        latest = self._latest_version()
        if latest is None:
            return 0
        cutoff = latest - keep_last
        referenced: set[str] = set()
        for v in range(cutoff + 1, latest + 1):
            try:
                referenced.update(self._manifest(v)["files"])
            except ValueError:
                continue
        dropped_manifests = 0
        for v in range(1, cutoff + 1):
            path = self._manifest_path(v)
            if os.path.exists(path):
                os.remove(path)
                dropped_manifests += 1
        removed = 0
        rdir = self._retained_dir()
        if os.path.isdir(rdir):
            for dirpath, dirnames, filenames in os.walk(rdir, topdown=False):
                rel_dir = os.path.relpath(dirpath, rdir)
                for name in filenames:
                    rel = name if rel_dir == "." else f"{rel_dir}/{name}"
                    if rel not in referenced:
                        os.remove(os.path.join(dirpath, name))
                        removed += 1
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
        self._log_maintenance(
            [("vacuum_versions", None, dropped_manifests, None, removed, None)]
        )
        return removed

    # ------------------------------------------------------- maintenance log

    #: one row per (run, rewritten partition); a run that rewrote nothing
    #: logs a single NULL-partition row. ``anchor`` is the run's explicit
    #: replayable eligibility date (never wall clock — same determinism
    #: contract as the maintenance operations themselves).
    MAINTENANCE_SCHEMA = (
        "run_id int, op string, partition string, files_before int, "
        "files_after int, n_rows bigint, anchor string"
    )

    def maintenance_log(self) -> DataFrame:
        """The maintenance audit table: what every run did, queryable.

        The plain-parquet emulation of the lakehouse audit surface
        (Delta's ``DESCRIBE HISTORY``): stored as a ``_maintenance/``
        sidecar under the table root — underscore-prefixed paths are
        invisible to Spark's file index, so data reads and the
        partition-pruned day-window scans are untouched (pytest-pinned).
        Bounded by maintenance runs × touched partitions, never data size.
        """
        path = os.path.join(self.root, "_maintenance")
        if not os.path.isdir(path):
            return self.spark.createDataFrame([], self.MAINTENANCE_SCHEMA)
        return self.spark.read.schema(self.MAINTENANCE_SCHEMA).parquet(path)

    def _log_maintenance(self, entries: list[tuple]) -> None:
        """Append one run's rows (next run_id = max existing + 1)."""
        prev = self.maintenance_log().agg(F.max("run_id")).first()[0]
        run_id = (prev or 0) + 1
        (
            single_slice_df(
                self.spark,
                [(run_id, *e) for e in entries],
                self.MAINTENANCE_SCHEMA,
            )
            .write.mode("append")
            .parquet(os.path.join(self.root, "_maintenance"))
        )

    # ------------------------------------------------------------ queries

    def max_ts_per_key(self) -> DataFrame:
        """A4: per-key high-watermark, derived from the table itself."""
        group = [k for k in self.keys if k != self.ts_col] or self.keys
        return self.read().groupBy(*group).agg(F.max(self.ts_col).alias("max_ts"))

    # ------------------------------------------------------------ helpers

    def _touched_dates(self, df: DataFrame) -> list:
        return [
            r["dt"]
            for r in self._with_dt(df).select("dt").distinct().collect()
        ]

    def _partition_slice(self, df: DataFrame) -> DataFrame:
        """Existing rows in the partitions the batch touches (pruned scan)."""
        dates = self._touched_dates(df)
        if not self.exists() or not dates:
            return self.spark.createDataFrame([], df.schema)
        return self.read().filter(F.to_date(F.col(self.ts_col)).isin(dates))

    def _count_in_partitions(self, df: DataFrame) -> int:
        return self._partition_slice(df).count()

    # ------------------------------------------------------------ cloning

    def clone(self, dest_root: str, keys: Sequence[str] | None = None):
        """Zero-copy SHALLOW CLONE: a new table whose data files are
        hardlinks to this table's files.

        The Delta ``CREATE TABLE ... SHALLOW CLONE`` shape on plain
        parquet: cost is O(files) metadata work, no bytes move. Writes to
        either side never corrupt the other — an append creates NEW
        files in one root only, and a compaction/overwrite UNLINKS names
        (the inode lives while the other root still links it). Sidecars
        (_schema, _stats, _maintenance) are COPIED, not linked: the
        clone's schema may evolve and its maintenance history diverges
        from the moment of cloning. The one shared-fate caveat is
        in-place mutation of file CONTENTS, which no code path here does
        (parquet writers always create new files).

        Falls back to real copies when the destination is on a different
        filesystem (hardlinks cannot cross devices).
        """
        if os.path.exists(dest_root) and os.listdir(dest_root):
            raise ValueError(f"clone destination not empty: {dest_root}")
        n_linked = 0
        for dirpath, dirnames, filenames in os.walk(self.root):
            rel = os.path.relpath(dirpath, self.root)
            dest_dir = (
                dest_root if rel == "." else os.path.join(dest_root, rel)
            )
            os.makedirs(dest_dir, exist_ok=True)
            sidecar = rel.split(os.sep, 1)[0].startswith("_")
            for name in filenames:
                src = os.path.join(dirpath, name)
                dst = os.path.join(dest_dir, name)
                if sidecar:
                    shutil.copy2(src, dst)
                    continue
                try:
                    os.link(src, dst)
                except OSError:  # cross-device: degrade to a copy
                    shutil.copy2(src, dst)
                n_linked += 1
        cloned = WarehouseTable(
            self.spark, dest_root, keys=keys or self.keys, ts_col=self.ts_col
        )
        cloned._log_maintenance(
            [("clone_from", self.root, None, n_linked, None, None)]
        )
        return cloned
