"""Batch sources (reference S1/S8 + the driver's parquet corpus).

The reference's batch source is a bundled JSON fixture
(``src/data_processing/fmi_client.py:139-142``); its warehouse scans are SQL
pushed to BigQuery. Here both become declarative Spark reads so Catalyst
gets predicate pushdown + column pruning for free (SURVEY.md §4).

A bare ``spark.read.parquet(path)`` runs one Spark job to read the file's
footer and infer its schema, every time it is called. A query builds one
scan per table it touches, so corpus reads infer each file's schema once
per session (:func:`_read_parquet`) and hand that schema to every later
read of the same, unchanged file; such a read starts no job.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from data_engineering_datawarehousingandetlpipeline_spark.schema import (
    OBSERVATION_SCHEMA,
    apply_schema,
)
from data_engineering_datawarehousingandetlpipeline_spark.session import (
    evict_dead_sessions,
    session_uuid,
)

#: Driver-generated corpus (TESTDATA.md) — one parquet file per table.
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table. Plain parquet scan → pushdown/pruning apply.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which the Spark
    reader rejects; it is read as raw nanos (``nanosAsLong``) and truncated
    to a microsecond timestamp — exactly how DuckDB reads TIMESTAMP_NS, so
    oracle comparisons agree.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return _read_parquet(spark, path)


#: (session UUID, absolute path) → (file fingerprint, the schema Spark
#: inferred for the file). A read hits only while the fingerprint still
#: matches; a rewrite replaces the entry, so no stale schema survives it.
_SCHEMA_CACHE: dict[tuple[str, str], tuple[tuple[int, int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Scan one parquet file, inferring its schema once per session.

    The first read of a regular file is a plain ``spark.read.parquet``
    (one footer job); its inferred schema is kept, keyed by session and
    absolute path, with the file's (inode, mtime ns, size). Later reads
    of the unchanged file pass that schema and start no job. Directories
    and missing paths are read as plain ``spark.read.parquet`` every time.
    The timestamp confs are pinned before the lookup, so a cached schema
    was inferred under the same confs the read runs with.
    """
    _pin_parquet_timestamp_confs(spark)
    try:
        st = os.stat(path)
    except OSError:
        st = None  # Spark raises its own error for a missing path
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (session_uuid(spark), os.path.abspath(path))
    fingerprint = (st.st_ino, st.st_mtime_ns, st.st_size)
    hit = _SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] == fingerprint:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    evict_dead_sessions(_SCHEMA_CACHE, key[0])
    _SCHEMA_CACHE[key] = (fingerprint, df.schema)
    return df


def _pin_parquet_timestamp_confs(spark: SparkSession) -> None:
    """Make parquet timestamps read as plain TIMESTAMP across data vintages.

    The corpus has shipped in two layouts: TIMESTAMP(NANOS) (needs
    ``nanosAsLong`` or the reader rejects the file) and timestamp[us] with
    isAdjustedToUTC=false (Spark 4 would infer TIMESTAMP_NTZ, breaking
    instant functions like ``unix_micros``). Both confs are runtime-settable;
    with the session tz pinned to UTC the resulting TIMESTAMP values are the
    same instants DuckDB sees as naive timestamps.
    """
    for key in (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    ):
        want = "true" if key.endswith("nanosAsLong") else "false"
        try:
            spark.conf.set(key, want)
        except Exception:  # pragma: no cover - conf locked by the host
            pass


def _load_events(spark: SparkSession, path: str, ts_range=None) -> DataFrame:
    from pyspark.sql import functions as F

    df = _read_parquet(spark, path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # Legacy nanos layout, read as raw int64 (nanosAsLong).
        if ts_range is not None:
            start, end = ts_range
            # Transpose the µs-timestamp bounds into raw-nanos space and
            # filter BEFORE the conversion: a predicate on the stored bigint
            # column pushes down to the parquet scan (row-group min/max
            # skipping), which a predicate on the derived timestamp cannot.
            # µs = ns div 1000, so µs ∈ [S, E] ⟺ ns ∈ [S·1000, E·1000 + 999].
            start_ns = _to_epoch_us(start) * 1000
            end_ns = _to_epoch_us(end) * 1000 + 999
            df = df.filter((F.col("ts") >= start_ns) & (F.col("ts") <= end_ns))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    if ts_type == "timestamp_ntz":  # pragma: no cover - conf locked by host
        # inferTimestampNTZ couldn't be disabled: filter in NTZ space (still
        # pushes to the parquet scan), then reinterpret the UTC wall clock as
        # a UTC instant so downstream instant functions work.
        if ts_range is not None:
            start, end = ts_range
            df = df.filter(
                (F.col("ts") >= F.lit(_utc_naive(start)).cast("timestamp_ntz"))
                & (F.col("ts") <= F.lit(_utc_naive(end)).cast("timestamp_ntz"))
            )
        return df.withColumn(
            "ts", F.to_utc_timestamp(F.col("ts").cast("timestamp"), "UTC")
        )

    # Plain TIMESTAMP (micros): a native timestamp predicate pushes down to
    # parquet row-group stats directly — no raw-space transposition needed.
    if ts_range is not None:
        start, end = ts_range
        df = df.filter(
            (F.col("ts") >= F.lit(_utc_naive(start)))
            & (F.col("ts") <= F.lit(_utc_naive(end)))
        )
    return df


def _utc_naive(value):
    """Bound as a tz-naive UTC wall-clock datetime (for timestamp literals).

    With the session tz pinned to UTC (session.RUNTIME_CONFS) a naive
    datetime literal is interpreted as exactly this UTC instant.
    """
    import datetime as dt

    if isinstance(value, str):
        value = dt.datetime.fromisoformat(value)
    if value.tzinfo is not None:
        value = value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return value


def _to_epoch_us(value) -> int:
    import datetime as dt

    if isinstance(value, str):
        value = dt.datetime.fromisoformat(value)
    if value.tzinfo is None:
        value = value.replace(tzinfo=dt.timezone.utc)
    # exact integer µs (float .timestamp() loses precision at µs scale)
    return (value - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(
        microseconds=1
    )


def load_events_range(
    spark: SparkSession, sf_dir: str, start_ts, end_ts
) -> DataFrame:
    """Events scan with a pushdown-friendly timestamp range (see _load_events)."""
    return _load_events(
        spark, os.path.join(sf_dir, "events.parquet"), ts_range=(start_ts, end_ts)
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All corpus tables as a dict of scans.

    No data is read, but the first call in a session reads each file's
    footer to infer its schema: one Spark job per table. Later calls on
    unchanged files start no job (see :func:`_read_parquet`).
    """
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def read_observations_json(spark: SparkSession, path: str) -> DataFrame:
    """Reference S1: load a JSON array file of raw observations.

    ``multiLine`` because the fixture is a single JSON array, not NDJSON
    (reference ``data/sample_observations.json``). The raw read keeps every
    field as string and :func:`apply_schema` performs the lenient projection
    + coercion, mirroring ``observations_as_dataframe`` →
    ``apply_bigquery_schema`` (fmi_client.py:158-171, transformations.py:118-141).
    """
    raw = spark.read.option("multiLine", "true").json(path)
    return apply_schema(raw, OBSERVATION_SCHEMA)
