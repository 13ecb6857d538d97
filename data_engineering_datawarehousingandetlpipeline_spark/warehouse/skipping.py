"""File-level data skipping over plain parquet (Delta's stats-based
pruning, on a ``_stats`` sidecar manifest).

Partition pruning handles the ``dt`` axis; this module extends skipping
to NON-partition columns: :func:`analyze_file_stats` scans the table ONCE
and records per-file min/max/null-count for the requested columns
(Delta's per-file stats, collected like ``ANALYZE TABLE``), and
:func:`read_skipping` turns a range predicate into a file list — only
files whose recorded range intersects the predicate are opened, plus
every file the manifest has never seen (append-after-analyze safety: an
unknown file is always read, so skipping can only ever REMOVE provably
irrelevant IO, never rows).

Composes with Z-order compaction (``compact_partitions(zorder=[...])``):
after clustering, each file spans a narrow slice of every listed column,
so the manifest prunes hard on all of them — the two halves of Delta's
``OPTIMIZE ZORDER BY`` + data-skipping story on plain parquet. Parquet
row-group footer stats then prune WITHIN the surviving files; the
manifest's job is to avoid opening files (and at 1000-executor scale,
to avoid scheduling tasks and footer reads) at all.

The selection itself (:func:`select_files`) is driver-side over the
manifest — bounded by file count, the same cardinality Spark's own file
index already materializes on the driver, and orders of magnitude
smaller after compaction.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
    WarehouseTable,
    single_slice_df,
)


def _stats_dir(table: WarehouseTable) -> str:
    return os.path.join(table.root, "_stats")


def _rel_path(table: WarehouseTable, uri: str) -> str:
    """Normalize ``input_file_name()`` URIs / absolute paths to
    root-relative form so manifest rows match directory listings."""
    path = uri[len("file:") :] if uri.startswith("file:") else uri
    root = os.path.abspath(table.root)
    return os.path.relpath(os.path.abspath(path), root)


def analyze_file_stats(
    table: WarehouseTable, cols: Sequence[str], incremental: bool = False
) -> int:
    """Per-file (min, max, null_count) manifest for ``cols``.

    Full mode: ONE table scan, overwrite the manifest. Incremental mode:
    scan ONLY the files the existing manifest has never seen (the set an
    append-heavy day adds) and merge their rows in — cost scales with
    NEW data, the shape a nightly stats job needs at 100 TB. Either way
    the manifest describes exactly the files it lists; unlisted files
    are never skipped (read_skipping's safety rule), so a crash between
    appends and analyzes can only cost skipping opportunity, never rows.
    Returns the number of files profiled and logs the run to the
    maintenance audit (op shows which mode ran).
    """
    source = table.read()
    carried: list[tuple] = []
    if incremental and os.path.isdir(_stats_dir(table)):
        existing_df = table.spark.read.parquet(_stats_dir(table))
        want = ["file", "n_rows"] + [
            f"{k}_{c}" for c in cols for k in ("min", "max", "nulls")
        ]
        if list(existing_df.columns) != want:
            raise ValueError(
                f"incremental analyze column mismatch: manifest has "
                f"{existing_df.columns}, requested {want}; run a full "
                "analyze to change the profiled column set"
            )
        existing = existing_df.collect()
        known = {r["file"] for r in existing}
        fresh = [p for p in table.data_files() if p not in known]
        if not fresh:
            table._log_maintenance(
                [("analyze_stats_incr", ",".join(cols), None, 0, None, None)]
            )
            return 0
        reader = table.spark.read.option("basePath", table.root)
        stored = table.table_schema()
        if stored is not None:
            reader = reader.schema(stored)
        source = reader.parquet(
            *[os.path.join(table.root, p) for p in fresh]
        )
        carried = [tuple(r) for r in existing]
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nulls_{c}"),
        ]
    manifest = (
        source
        .withColumn("__file", F.input_file_name())
        .groupBy("__file")
        .agg(F.count("*").alias("n_rows"), *aggs)
    )
    rows = manifest.collect()  # bounded by file count, not data size
    normalized = [
        (_rel_path(table, r["__file"]), *tuple(r)[1:]) for r in rows
    ] + carried
    schema = "file string, n_rows bigint, " + ", ".join(
        f"min_{c} {t}, max_{c} {t}, nulls_{c} bigint"
        for c, t in zip(
            cols,
            [
                dict(
                    (f.name, f.dataType.simpleString())
                    for f in table.read().schema.fields
                )[c]
                for c in cols
            ],
        )
    )
    (
        single_slice_df(table.spark, normalized, schema)
        .write.mode("overwrite")
        .parquet(_stats_dir(table))
    )
    # the overwrite replaced files the session's shared file-status cache
    # may still list (same hazard merge_replace guards against)
    table.spark.catalog.refreshByPath(_stats_dir(table))
    op = "analyze_stats_incr" if carried else "analyze_stats"
    table._log_maintenance(
        [(op, ",".join(cols), None, len(rows), None, None)]
    )
    return len(rows)


def select_files(
    table: WarehouseTable, col: str, lo, hi
) -> tuple[list[str], list[str]]:
    """(files to read, files skipped) for ``col BETWEEN lo AND hi``.

    A manifest-listed file is skipped iff its recorded range provably
    misses [lo, hi] AND it holds no NULL-stat ambiguity (an all-NULL
    column leaves min/max NULL — unknowable, so read it). Files missing
    from the manifest are always read.
    """
    listing = table.data_files()
    stats_path = _stats_dir(table)
    if not os.path.isdir(stats_path):
        return listing, []
    manifest = {
        r["file"]: r
        for r in table.spark.read.parquet(stats_path).collect()
    }
    read: list[str] = []
    skipped: list[str] = []
    for path in listing:
        row = manifest.get(path)
        if row is None:
            read.append(path)  # appended after analyze: never skip
            continue
        mn, mx = row[f"min_{col}"], row[f"max_{col}"]
        if mn is None or mx is None:
            read.append(path)  # no usable stats: read
        elif mx < lo or mn > hi:
            skipped.append(path)
        else:
            read.append(path)
    return read, skipped


def read_skipping(table: WarehouseTable, col: str, lo, hi) -> DataFrame:
    """The table filtered to ``col BETWEEN lo AND hi``, opening only
    files the manifest cannot rule out. The predicate is still applied
    in-plan (skipping is IO avoidance, not filtering), so the result
    equals ``table.read().filter(...)`` exactly for any manifest state.
    """
    chosen, skipped = select_files(table, col, lo, hi)
    pred = F.col(col).between(F.lit(lo), F.lit(hi))
    if not skipped:
        return table.read().filter(pred)
    if not chosen:  # every file provably misses: empty, same schema
        return table.read().filter(pred).filter(F.lit(False))
    reader = table.spark.read.option("basePath", table.root)
    stored = table.table_schema()
    if stored is not None:
        reader = reader.schema(stored)
    paths = [os.path.join(table.root, p) for p in chosen]
    return reader.parquet(*paths).filter(pred)
