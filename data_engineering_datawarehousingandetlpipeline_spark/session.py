"""SparkSession factory + per-session conf hardening.

The reference has no execution engine of its own (SURVEY.md §4) — everything
here is the Spark-side replacement. Two entry points:

- :func:`get_spark` builds a session for tests / bench (local mode, AQE on,
  UTC, shuffle parallelism sized to the machine instead of the 200 default).
- :func:`ensure_runtime_confs` hardens an *externally provided* session
  (the driver passes its own) by setting the runtime-settable confs every
  query in this engine assumes: UTC session timezone (timestamp comparisons
  vs. the DuckDB oracle are wrong otherwise) and AQE.

:func:`get_spark` also sizes Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``, default 100) to
:data:`CODEGEN_CACHE_MAX_ENTRIES`. The cache is LRU, and one pass over the
22 TPC-H shapes compiles ~300 distinct classes: a cyclic working set larger
than an LRU cache never hits, so at 100 entries every warm pass recompiled
every class with Janino. At 4096 the whole registry (~2,400 classes at
sf0.001) stays compiled and a warm repeat of a query compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: generated-class cache size: the registry compiles ~2,400 classes, TPC-H ~300.
CODEGEN_CACHE_MAX_ENTRIES = 4096

#: confs that can be applied to a live session (runtime-settable).
RUNTIME_CONFS: dict[str, str] = {
    # Timestamps in the testdata are UTC instants; DuckDB timestamps are
    # UTC-naive. Pinning the session tz makes the two engines agree.
    "spark.sql.session.timeZone": "UTC",
    # The corpus parquet writes timestamp[us] with isAdjustedToUTC=false
    # (pyarrow default); Spark 4 would infer TIMESTAMP_NTZ, which breaks
    # instant functions (unix_micros) and tz-aware comparisons everywhere.
    # Read them as plain TIMESTAMP — with the UTC session tz above, the
    # wall-clock values ARE the UTC instants, matching the DuckDB oracle.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting —
    # the levers that keep the same plan healthy from sf0.001 to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (similarity / multimodal operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # CPU-heavy text/vector operators produce shuffles that are tiny in
    # bytes but expensive per row (md5 shingles, inverted-index joins).
    # The 1 MB default floor lets AQE coalesce them to one task, serializing
    # the whole stage on one core; 64k keeps such stages parallel while
    # still coalescing genuinely empty partitions.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
}


def default_parallelism() -> int:
    """Shuffle parallelism default: the driver benches on local[$SPARK_GRAFT_CPUS]."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: (session id, analyzed-plan semanticHash) → scan partition count. The
#: probe below forces physical planning of the input subtree; every query
#: in the registry spreads the same handful of table scans, so one probe
#: per distinct plan per session is enough. Bounded: the key space is the
#: distinct spread() inputs (~tables), not queries. Keyed by the JVM
#: session UUID, not id(session): CPython reuses freed object addresses,
#: so an id() key could serve a dead session's partition count to its
#: successor.
_SPREAD_PROBE_CACHE: dict[tuple[str, int], int] = {}

#: entries a per-session cache holds before :func:`evict_dead_sessions`
#: sweeps it.
SESSION_CACHE_LIMIT = 256


def session_uuid(spark: SparkSession) -> str:
    """The JVM session's UUID: a cache key that no later session reuses."""
    return spark._jsparkSession.sessionUUID()


def evict_dead_sessions(cache: dict, live: str) -> None:
    """Bound a cache whose keys start with a session UUID.

    Past :data:`SESSION_CACHE_LIMIT` entries, drop every key of a session
    other than ``live`` — in practice, sessions the process has moved on
    from. The live session keeps its entries: wiping them would make it
    redo every probe it touches next.
    """
    if len(cache) > SESSION_CACHE_LIMIT:
        for k in [k for k in cache if k[0] != live]:
            del cache[k]


def spread(df, parallelism: int | None = None):
    """Fan a narrow-partitioned DataFrame out to full core parallelism.

    Small parquet files scan as a single partition, which serializes every
    downstream CPU-heavy expression (shingling, md5 min-hashing, vector
    math) on one core. A round-robin repartition costs one tiny shuffle and
    buys back the whole machine. No-op when the input already has enough
    partitions — at warehouse scale the scan arrives wide and this adds
    nothing.

    The partition-count probe (``df.rdd.getNumPartitions()``) forces
    physical planning of the input subtree — a per-construction cost, not
    a job — so it is cached per (session, analyzed-plan semantic hash):
    constructing fifty registry queries over the same table scans plans
    each scan once, not fifty times. A plan's scan width only changes if
    the files change mid-session, which at worst flips the
    repartition-or-not decision, never correctness.
    """
    if df.isStreaming:  # partitioning is the source's concern in a stream
        return df
    target = parallelism or default_parallelism()
    try:
        key = (
            session_uuid(df.sparkSession),
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:  # pragma: no cover - connect-mode / internals drift
        key = None
    n = _SPREAD_PROBE_CACHE.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            evict_dead_sessions(_SPREAD_PROBE_CACHE, key[0])
            _SPREAD_PROBE_CACHE[key] = n
    if n >= target:
        return df
    return df.repartition(target)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's required runtime confs to an existing session.

    Only runtime-settable confs can reach a session someone else built.
    Static confs such as ``spark.sql.codegen.cache.maxEntries`` are fixed
    when the session starts, so :func:`get_spark` sets them in its builder
    and a caller that builds its own session must set them at launch.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    return spark


def get_spark(
    app_name: str = "dwh-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-aware defaults."""
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores, not the 200 default (over-parallelized shuffles
        # on small data, and AQE coalesces down anyway).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
