"""Structured-Streaming ingestion pipeline (reference T1-T6, SURVEY.md §2.8).

The reference's consumer loop — buffer 500 rows / 10 s, watermark-filter,
clean, append to BigQuery, persist a JSON watermark file — becomes ONE
streaming query:

    source → lenient schema → foreachBatch( clean → idempotent MERGE )

with the checkpoint directory replacing the watermark file (T3) and the
key-based ``merge_upsert`` replacing the max-ts filter (T2/T4). This is
strictly stronger than the reference: its crash window between ``to_gbq``
and ``watermark.save()`` (kafka_stream.py:326-330) cannot double-load here,
because re-processed batches anti-join against the table itself.

Sources are pluggable: Kafka in production (sources/kafka.py), a file
source in tests (same downstream pipeline, driver-image has no Kafka jars).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from data_engineering_datawarehousingandetlpipeline_spark.operators.cleaning import (
    prepare_hourly,
)
from data_engineering_datawarehousingandetlpipeline_spark.schema import (
    OBSERVATION_SCHEMA,
    apply_schema,
)
from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
    WarehouseTable,
    is_visible_data_file,
)

#: reference micro-batch cadence: flush every 10 s (kafka_stream.py:336).
DEFAULT_TRIGGER_SECONDS = 10


def _start(
    writer: DataStreamWriter, available_now: bool, trigger_seconds: int | None
) -> StreamingQuery:
    """Start a configured stream writer under the trigger every ``start_*``
    entry point shares: ``available_now`` drains what the source holds and
    stops; otherwise a micro-batch every ``trigger_seconds`` (falsy: Spark's
    default, as fast as possible)."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _start_parquet(
    frame: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool,
    trigger_seconds: int | None,
) -> StreamingQuery:
    """Start ``frame`` into the built-in parquet file sink at ``out_dir``:
    its metadata log commits each micro-batch once, so a replayed batch
    overwrites its own files (exactly-once output across restarts)."""
    writer = (
        frame.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    return _start(writer, available_now, trigger_seconds)


def clean_batch(batch: DataFrame) -> DataFrame:
    """The per-batch cleaning pipeline (P1-P3 + F7 + D2), batch/stream shared."""
    return prepare_hourly(apply_schema(batch, OBSERVATION_SCHEMA))


def make_batch_sink(
    warehouse: WarehouseTable,
    clean: Callable[[DataFrame], DataFrame] = clean_batch,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: clean then MERGE (insert-if-absent) — idempotent,
    so checkpoint replays after a crash cannot double-load (fixes T4)."""

    def sink(batch: DataFrame, epoch_id: int) -> None:
        cleaned = clean(batch)
        warehouse.merge_upsert(cleaned)

    return sink


def read_json_file_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """File-based stand-in for the Kafka source (tests / replay).

    Reads the raw observation shape with every field as string — the same
    dirtiness contract as Kafka JSON payloads — so ``apply_schema`` does
    identical work on both paths.
    """
    if schema is None:
        schema = T.StructType(
            [T.StructField(f.name, T.StringType(), True) for f in OBSERVATION_SCHEMA.fields]
        )
    return spark.readStream.schema(schema).json(input_dir)


def start_ingestion(
    source: DataFrame,
    warehouse: WarehouseTable,
    checkpoint_dir: str,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the ingestion query (T1 micro-batching + T3 checkpoint recovery).

    ``available_now=True`` drains everything currently in the source and
    stops — the hourly scheduled shape (T5); otherwise a continuous
    micro-batch trigger every ``trigger_seconds`` (the 10 s flush, T1).
    """
    writer = source.writeStream.foreachBatch(make_batch_sink(warehouse)).option(
        "checkpointLocation", checkpoint_dir
    )
    return _start(writer, available_now, trigger_seconds)


def _committed_batch_ids(checkpoint_dir: str) -> set[int]:
    """Batch ids in the checkpoint's commit log (one numeric file per
    successfully committed micro-batch). Local-path checkpoints only —
    exactly what this repo's drains use; a missing dir (fresh checkpoint,
    or a non-local scheme this helper can't list) reads as empty.
    """
    path = checkpoint_dir.removeprefix("file://").removeprefix("file:")
    try:
        return {
            int(name)
            for name in os.listdir(os.path.join(path, "commits"))
            if name.isdigit()
        }
    except OSError:
        return set()


def _drained_count(before: set[int], after: set[int]) -> int:
    """Batches committed between two commit-log snapshots.

    Max-id delta, NOT set difference: Spark purges the commits dir down
    to ``spark.sql.streaming.minBatchesToRetain`` (default 100) entries
    as batches run, so ``len(after - before)`` caps out at the retention
    limit on a long drain. Batch ids are consecutive and the latest
    commit file always survives the purge, so the max delta is exact for
    drains of any length; a fresh checkpoint's first batch is id 0,
    hence the -1 base.
    """
    if not after:
        return 0
    return max(after) - (max(before) if before else -1)


def run_available(
    source: DataFrame, warehouse: WarehouseTable, checkpoint_dir: str
) -> int:
    """Drain the source synchronously (tests / scheduled batch runs).

    Returns the number of micro-batches the drain executed (0 when the
    staging dir held nothing to process), so callers that wait on
    listener-bus telemetry afterwards can skip the wait entirely for an
    empty drain — no progress event will ever arrive for zero batches.

    Counted as the MAX-batch-id delta across the drain, not
    ``len(query.recentProgress)`` and not a commit-log set difference:
    the progress buffer is capped by
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100), and
    the commits dir itself is PURGED down to
    ``spark.sql.streaming.minBatchesToRetain`` (default 100) entries as
    batches run — both under-count a >100-batch drain. Batch ids are
    consecutive and the LATEST commit file always survives the purge, so
    ``max(after) - max(before)`` (with -1 for a fresh checkpoint, whose
    first batch is id 0) is exact for drains of any length and stays
    correct on resumed checkpoints where ids don't start at zero.
    """
    before = _committed_batch_ids(checkpoint_dir)
    query = start_ingestion(
        source, warehouse, checkpoint_dir, available_now=True
    )
    query.awaitTermination()
    return _drained_count(before, _committed_batch_ids(checkpoint_dir))


def start_chunking(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    chunk_size: int,
    stride: int,
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Streaming document chunking: source → overlapping token windows →
    exactly-once parquet sink.

    The chunking stage (operators/text.chunk_documents) is stateless, so
    it runs directly ON the stream — no foreachBatch — and the built-in
    parquet file sink's metadata log provides exactly-once output across
    restarts (a replayed micro-batch overwrites its own files and commits
    once). ``doc_id`` arrives as a string (the Kafka/JSON payload
    contract, same dirtiness as the ingestion path) and is cast here.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.text import (
        chunk_documents,
    )

    chunks = chunk_documents(
        source.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        chunk_size=chunk_size,
        stride=stride,
        sort_output=False,
    )
    return _start_parquet(
        chunks, out_dir, checkpoint_dir, available_now, trigger_seconds
    )


def start_exact_dedup(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Streaming exact dedup: first arrival of each content hash survives.

    The incremental form of ``operators/dedup.exact_dedup_groups``: as
    document shards land, ``dropDuplicates`` on the sha256 content hash
    keeps one row per distinct content ACROSS micro-batches — state lives
    in the checkpointed state store, so a later shard's copy of an
    already-seen document is dropped even across a restart. Survivors
    flow through the exactly-once parquet file sink.

    The emitted schema is deliberately survivor-agnostic — the hash plus
    per-content columns (``n_chars``) equal among all copies — so the
    output SET is identical for every arrival order and matches the batch
    ``SELECT DISTINCT`` answer bit-for-bit; which physical copy carried it
    is irrelevant. (Canonical min-id selection is the batch operator's
    job; a stream cannot retract an earlier survivor.)

    State is one row per DISTINCT content — the inherent floor for exact
    corpus dedup, and far below corpus size on dup-heavy crawls. For
    bounded-window dedup (e.g. per-day shard replays) compose with
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` instead.
    """
    survivors = source.select(
        F.sha2(F.col("text"), 256).alias("text_hash"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).dropDuplicates(["text_hash"])
    return _start_parquet(
        survivors, out_dir, checkpoint_dir, available_now, trigger_seconds
    )


def start_minhash_dedup(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Streaming NEAR-dup dedup index: MinHash band signatures with
    cross-batch state — the incremental rung above :func:`start_exact_dedup`.

    As document shards land, each document's 128-perm MinHash signature is
    folded JVM-side (operators/dedup.minhash_signatures — stateless, so it
    runs directly ON the stream) and banded into 16 ``(band, band_hash)``
    keys; ``dropDuplicates`` on that pair keeps the FIRST arrival of each
    band bucket across micro-batches, state living in the checkpointed
    state store. The exactly-once parquet sink therefore accumulates the
    corpus's canonical LSH candidate index incrementally: an incoming
    document NONE of whose bands are new is a guaranteed LSH candidate
    duplicate of earlier content (downstream verify joins it against the
    index owners), while each novel band extends the index.

    Like the exact-dedup stream, the emitted schema is deliberately
    survivor-agnostic — bucket keys only, no owner doc id — so the output
    SET is identical for every shard arrival order and equals the batch
    ``SELECT DISTINCT band, band_hash`` over the same documents bit for
    bit (a stream cannot retract an earlier owner, so owner choice would
    be order-dependent; canonical min-id ownership is the batch
    operator's job).

    State is one row per distinct band bucket — ≤ 16 × distinct contents,
    the same O(distinct) floor as exact dedup, far below corpus size on
    dup-heavy crawls. The signature fold is one codegen stage per batch;
    nothing here shuffles except the dedup state exchange.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.dedup import (
        lsh_band_hashes,
        minhash_signatures,
    )

    sigs = minhash_signatures(
        source.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        id_col="doc_id",
    )
    index = (
        lsh_band_hashes(sigs)
        .select(F.col("band").cast("int").alias("band"), "band_hash")
        .dropDuplicates(["band", "band_hash"])
    )
    return _start_parquet(
        index, out_dir, checkpoint_dir, available_now, trigger_seconds
    )


def start_windowed_minhash_dedup(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    event_time_col: str = "ts",
    delay: str = "1 hour",
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Bounded-state streaming near-dup index:
    ``dropDuplicatesWithinWatermark`` on the LSH band keys.

    The windowed rung of :func:`start_minhash_dedup`, completing the
    streaming dedup ladder (exact / windowed-exact / near-dup /
    windowed-near-dup): band-bucket state lives only until the watermark
    passes the carrying document's event time + ``delay``, so total state
    is bounded by the distinct contents within one lateness horizon — NOT
    the whole corpus history. The trade is the same one
    ``start_windowed_exact_dedup`` documents: a twin band arriving within
    ``delay`` is suppressed (even across a restart), one arriving after
    expiry re-emits its buckets — downstream batch compaction of the
    index (a trivial DISTINCT) absorbs the rare late twins.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.dedup import (
        lsh_band_hashes,
        minhash_signatures,
    )

    sigs = minhash_signatures(
        source.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "text",
            F.col(event_time_col),
        ),
        id_col="doc_id",
        carry_cols=(event_time_col,),
    )
    index = (
        lsh_band_hashes(sigs)
        .select(
            F.col("band").cast("int").alias("band"),
            "band_hash",
            F.col(event_time_col),
        )
        .withWatermark(event_time_col, delay)
        .dropDuplicatesWithinWatermark(["band", "band_hash"])
        .drop(event_time_col)
    )
    return _start_parquet(
        index, out_dir, checkpoint_dir, available_now, trigger_seconds
    )


def start_windowed_exact_dedup(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    event_time_col: str = "ts",
    delay: str = "1 hour",
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Bounded-state exact dedup: ``dropDuplicatesWithinWatermark``.

    The variant :func:`start_exact_dedup` documents for bounded-window
    replays: a content hash's state lives only until the watermark passes
    its event time + ``delay``, so total state is bounded by the distinct
    contents seen within one watermark window — NOT the whole corpus
    history. The contract traded for that bound: a duplicate arriving
    within ``delay`` of the original is dropped; one arriving after state
    expiry is re-emitted (downstream compaction — e.g. the warehouse
    ``merge_upsert`` — absorbs these rare late twins). This is the right
    shape when shards replay within a known lateness horizon; corpus-wide
    exact dedup keeps :func:`start_exact_dedup`'s one-row-per-content
    state instead. Expiry semantics are pinned in
    tests/test_warehouse_streaming.py.
    """
    survivors = (
        source.select(
            F.sha2(F.col("text"), 256).alias("text_hash"),
            F.length("text").cast("bigint").alias("n_chars"),
            F.col(event_time_col),
        )
        .withWatermark(event_time_col, delay)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
    return _start_parquet(
        survivors, out_dir, checkpoint_dir, available_now, trigger_seconds
    )


#: Default fan-out of the ``pfx`` sub-partition every accumulator state
#: dir is laid out by (``batch_id=<epoch>/pfx=<k>/``): the key-hash
#: prefix that lets a micro-batch's prior-state scan PRUNE to the
#: partitions its own keys can collide with, instead of reading the
#: whole accumulated corpus every epoch. Steady-state shards touch a
#: subset of prefixes, so per-epoch read cost tracks the shard's key
#: coverage; at full coverage (huge shards) the scan degrades to a full
#: read, never worse. Raise it for larger corpora — more prefixes =
#: finer pruning, at the cost of more (still bounded: partitions ×
#: prefixes) state files per epoch between compactions.
DEFAULT_STATE_PREFIXES = 16


class _StateLayout(NamedTuple):
    """One cross-batch accumulator family's on-disk layout, declared once.

    Under ``state_dir``, the ``keys`` dir holds the candidate-key rows
    (deduped on ``key_cols``) and the ``items`` dir one payload row per
    id (deduped on ``id_col``), both as ``batch_id=<epoch>/pfx=<k>/``;
    the pair sink holds ``batch_id=<epoch>/`` partitions deduped on
    ``pair_cols``."""

    keys: str
    key_cols: tuple[str, ...]
    items: str
    id_col: str
    pair_cols: tuple[str, str]

    def dirs(
        self, state_dir: str, pairs_dir: str
    ) -> dict[str, tuple[str, tuple[str, ...], bool]]:
        """name → (path, dedup keys, pfx-partitioned) for every dir the
        family writes; the names are the compactor's result keys."""
        return {
            self.keys: (os.path.join(state_dir, self.keys), self.key_cols, True),
            self.items: (os.path.join(state_dir, self.items), (self.id_col,), True),
            "pairs": (pairs_dir, self.pair_cols, False),
        }


#: :func:`start_source_pair_matrix`: LSH bands, token-hash docs, doc pairs.
_TEXT_LAYOUT = _StateLayout("bands", ("doc", "band"), "docs", "doc", ("doc_a", "doc_b"))
#: :func:`start_embedding_near_dup`: LSH buckets, vectors, vector pairs.
_EMBEDDING_LAYOUT = _StateLayout(
    "buckets", ("vid", "tbl"), "vecs", "vid", ("id_a", "id_b")
)


def _pfx(*cols, n_prefixes: int):
    """The state-layout partition key: murmur3 of the join key, modded
    into ``n_prefixes`` buckets. Deterministic across sessions (fixed
    seed), and computed identically at write and prune time — equal join
    keys land in (and are pruned to) equal prefixes."""
    return F.pmod(F.hash(*cols), F.lit(n_prefixes)).cast("int")


def _state_batch_ids(spark: SparkSession, path: str) -> list[int]:
    """The COMMITTED ``batch_id=*`` partition values under ``path``,
    sorted. A partition counts once it holds a visible entry: a data
    file (flat layout: the pair sink) or a ``pfx=*`` sub-partition
    directory (the prefix layout). Both appear only at job commit, when
    the committer moves output out of ``_temporary``, so a crashed
    write's hidden droppings never count. Negative ids are compacted
    bases (:func:`_compact_accumulator`); the others are epochs."""
    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    ids = []
    for part in fs.listStatus(root):
        name = part.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        if any(
            is_visible_data_file(f.getPath().getName())
            for f in fs.listStatus(part.getPath())
        ):
            ids.append(int(name.removeprefix("batch_id=")))
    return sorted(ids)


def _read_prior_state(
    spark: SparkSession,
    path: str,
    epoch_id: int,
    pfx_in: list[int] | None = None,
):
    """Accumulated state strictly below ``epoch_id``, or None when no
    committed state exists yet.

    "No state yet" is an explicit filesystem probe
    (:func:`_state_batch_ids`), never a swallowed read error: a caught
    failure (corrupt file, permission) would silently shrink the epoch
    to within-batch pairs, and the exactly-once replay would make the
    shrunken pair graph sticky. Every actual read failure propagates, so
    the batch fails loudly and the checkpoint retries it.

    ``pfx_in`` prunes the scan to the named key-hash prefixes: the
    caller passes the (bounded, ≤ ``n_prefixes``) set of prefixes its
    new batch can actually collide with, and partition pruning skips
    every other state file — the scan cost tracks the shard, not the
    accumulated corpus. Compacted bases (negative ``batch_id``) always
    qualify as prior state: every folded epoch was < any live epoch."""
    if not _state_batch_ids(spark, path):
        return None  # genuine first batch: no committed state yet
    state = (
        spark.read.option("basePath", path)
        .parquet(path)
        .filter(F.col("batch_id") < epoch_id)
    )
    if pfx_in is not None:
        state = state.filter(F.col("pfx").isin([int(p) for p in pfx_in]))
    return state


def _delete_state_partition(spark: SparkSession, path: str, batch_id: int) -> None:
    jvm = spark.sparkContext._jvm
    part = jvm.org.apache.hadoop.fs.Path(
        os.path.join(path, f"batch_id={batch_id}")
    )
    fs = part.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(part, True)


def _fold_state_dir(
    spark: SparkSession,
    path: str,
    key_cols: tuple[str, ...],
    upto: int,
    partitioned: bool = False,
) -> int:
    """Fold every committed ``batch_id <= upto`` partition of one state
    dir (including prior compacted bases) into a single fresh base
    partition, then delete the inputs. Returns the number of partitions
    folded (0 = already compact, nothing to do).

    Crash safety is the SUPERSET INVARIANT: the new base (a fresh
    ``batch_id`` below every existing id — base ids descend
    monotonically, so the write target is never also an input) commits
    BEFORE any input is deleted, so at every instant the visible union
    of partitions covers the true accumulated state, with at worst
    duplicate rows — which every reader of these dirs tolerates (the
    candidate joins ``distinct()``/``dropDuplicates`` their outputs, the
    pair sink's readers dedup on the pair key). A crash mid-fold leaves
    extra partitions, never missing rows, and the next fold completes
    the cleanup idempotently.

    The key-only ``dropDuplicates`` is lossless under the accumulators'
    same-payload-per-id re-delivery contract: a key present under two
    epochs carries identical payload columns by contract, so keeping
    either copy preserves the state's content.
    """
    ids = [i for i in _state_batch_ids(spark, path) if i <= upto]
    if len(ids) <= 1:
        return 0
    new_base = min(min(ids), 0) - 1
    compacted = (
        spark.read.option("basePath", path)
        .parquet(path)
        .filter(F.col("batch_id") <= upto)
        .drop("batch_id")
        .dropDuplicates(list(key_cols))
    )
    writer = compacted.write.mode("overwrite")
    if partitioned:
        writer = writer.partitionBy("pfx")
    writer.parquet(os.path.join(path, f"batch_id={new_base}"))
    for i in ids:
        _delete_state_partition(spark, path, i)
    return len(ids)


def _compact_accumulator(
    spark: SparkSession,
    layout: _StateLayout,
    state_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
) -> dict[str, int]:
    """Shared body of the two accumulator-state compactors: fold every
    dir of ``layout`` up to the checkpoint's last COMMITTED epoch (dir
    name → partitions folded). Run on a QUIESCENT stream (between drains
    / while the query is stopped), like any maintenance op: folding is
    restricted to committed epochs so a crashed in-flight epoch's
    partial partitions are left for its replay to overwrite, but
    deleting a folded partition out from under a concurrently running
    batch's open scan would fail that batch (it would retry — correct,
    just wasteful)."""
    dirs = layout.dirs(state_dir, pairs_dir)
    committed = _committed_batch_ids(checkpoint_dir)
    if not committed:
        return {name: 0 for name in dirs}
    upto = max(committed)
    return {
        name: _fold_state_dir(spark, path, keys, upto, partitioned=part)
        for name, (path, keys, part) in dirs.items()
    }


def compact_pair_matrix_state(
    spark: SparkSession, state_dir: str, pairs_dir: str, checkpoint_dir: str
) -> dict[str, int]:
    """Compact :func:`start_source_pair_matrix`'s accumulated state+sink:
    fold the per-epoch ``batch_id=*`` partitions of bands/docs state and
    the pair sink into one base partition each (dir name → partitions
    folded). The OPTIMIZE rung for accumulator state: without it a
    long-running stream accretes one small parquet partition per epoch
    forever — per-epoch file listing grows O(epochs) — while after a
    fold the listing is O(1) + epochs since the last fold.
    Content-preserving by construction (key-dedup under the same-payload
    contract) and idempotent; crash-safe via the superset invariant
    (:func:`_fold_state_dir`). Quiescent-stream maintenance, like
    ``WarehouseTable.compact_partitions``."""
    return _compact_accumulator(
        spark, _TEXT_LAYOUT, state_dir, pairs_dir, checkpoint_dir
    )


def compact_embedding_state(
    spark: SparkSession, state_dir: str, pairs_dir: str, checkpoint_dir: str
) -> dict[str, int]:
    """Compact :func:`start_embedding_near_dup`'s accumulated state+sink —
    the dense twin of :func:`compact_pair_matrix_state` (buckets/vecs
    state + the cosine pair sink), same contract."""
    return _compact_accumulator(
        spark, _EMBEDDING_LAYOUT, state_dir, pairs_dir, checkpoint_dir
    )


def _accumulate_epoch(
    epoch_id: int,
    keys_b: DataFrame,
    items_b: DataFrame,
    layout: _StateLayout,
    state_dir: str,
    pairs_dir: str,
    collide: Column,
    verify: Callable[[DataFrame], DataFrame],
    n_prefixes: int,
) -> None:
    """One micro-batch of a cross-batch pair accumulator — the epoch body
    :func:`start_source_pair_matrix` and :func:`start_embedding_near_dup`
    share.

    The family supplies its pinned shard rows: ``keys_b`` (``id_col``,
    key columns, ``pfx``) and ``items_b`` (one payload row per id,
    ``pfx``); its ``collide`` predicate over two key rows aliased ``x``
    and ``y``; and ``verify``, which maps candidates joined to both
    sides' payloads (aliased ``x``, the new member, and ``y``, its
    partner) to thresholded pair rows keyed by ``layout.pair_cols``.

    Candidates come two ways — new × new within the shard (``x < y``)
    and new × accumulated keys of strictly earlier epochs (``x != y``) —
    so every unordered pair is discovered exactly once, at the arrival
    of its LATER member. The union over epochs therefore equals the
    BATCH LSH pair graph over the same rows, which is what the oracles
    state.

    EXACTLY-ONCE: every write goes to a ``batch_id=<epoch>`` partition
    with overwrite, and prior state is read strictly below the epoch,
    which a replay cannot see differently — so a replayed epoch
    deterministically rewrites its own partitions. This is the same
    idempotent-by-batch-id contract ``merge_upsert`` provides for keyed
    event tables, chosen here because pair rows carry no event time to
    partition by.

    PRUNING: state lives under ``batch_id=<epoch>/pfx=<key-hash %
    n_prefixes>``. The key scan is pruned to the shard's own key
    prefixes; the heavy payload scan to the candidate PARTNER ids'
    prefixes (the new member is always served by ``items_b``). Per-epoch
    read cost tracks the shard's key coverage and the LSH-bounded
    candidate set, not the accumulated corpus.

    RE-DELIVERY: the guards below, and compaction's key-dedup, are
    lossless ONLY under the same-payload-per-id contract each public
    docstring states; an id re-issued with CHANGED payload is a
    different item wearing an old key and must re-key (content-hash ids
    make the contract structural). An id delivered again would (1) pair
    with its own earlier copy — the ``x != y`` guard drops that
    self-pair, which no batch pair graph contains; (2) sit in the
    payload state under two batch_ids, multiplying each of its verified
    pairs — the key-only dedup on ``pair_cols`` is lossless because the
    same id carries the same payload and so the same score; (3)
    re-collide with partners whose pair was emitted when it first
    arrived — the left-anti join against the accumulator's own sink
    below this epoch drops those, shuffling on the pair key, bounded by
    the emitted pair graph.
    """
    spark = keys_b.sparkSession
    dirs = layout.dirs(state_dir, pairs_dir)
    x_id, y_id = F.col(f"x.{layout.id_col}"), F.col(f"y.{layout.id_col}")

    def candidates(partners: DataFrame, order: Column) -> DataFrame:
        return (
            keys_b.alias("x")
            .join(partners.alias("y"), collide & order)
            .select(x_id.alias("xid"), y_id.alias("yid"))
        )

    # the shard's own key prefixes (bounded: ≤ n_prefixes values,
    # collected off the pinned frame) prune the prior key scan —
    # colliding keys are equal keys, equal keys share a prefix
    key_pfx = [r.pfx for r in keys_b.select("pfx").distinct().collect()]
    prior_keys = _read_prior_state(
        spark, dirs[layout.keys][0], epoch_id, pfx_in=key_pfx
    )
    cands = candidates(keys_b, x_id < y_id)
    if prior_keys is not None:
        cands = cands.unionByName(candidates(prior_keys, x_id != y_id))
    # pinned: the candidate set is both collected from (partner prefixes)
    # and joined through (verify) — without the pin the key joins would
    # run twice
    cands = cands.distinct().localCheckpoint(eager=True)

    partner_pfx = [
        r.pfx
        for r in cands.select(_pfx("yid", n_prefixes=n_prefixes).alias("pfx"))
        .distinct()
        .collect()
    ]
    prior_items = _read_prior_state(
        spark, dirs[layout.items][0], epoch_id, pfx_in=partner_pfx
    )
    items = items_b.drop("pfx")
    if prior_items is not None:
        items = items.unionByName(prior_items.select(items.columns))
    joined = cands.join(items.alias("x"), F.col("xid") == x_id).join(
        items.alias("y"), F.col("yid") == y_id
    )
    pair_cols = list(layout.pair_cols)
    pair_rows = verify(joined).dropDuplicates(pair_cols)
    prior_pairs = _read_prior_state(spark, pairs_dir, epoch_id)
    if prior_pairs is not None:
        pair_rows = pair_rows.join(
            prior_pairs.select(pair_cols), pair_cols, "left_anti"
        )

    frames = {"pairs": pair_rows, layout.keys: keys_b, layout.items: items_b}
    for name, frame in frames.items():
        path, _, partitioned = dirs[name]
        writer = frame.write.mode("overwrite")
        if partitioned:
            writer = writer.partitionBy("pfx")
        writer.parquet(os.path.join(path, f"batch_id={epoch_id}"))


def start_source_pair_matrix(
    source: DataFrame,
    state_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    n_prefixes: int = DEFAULT_STATE_PREFIXES,
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Cross-batch SOURCE-PAIR accumulation: the streaming twin of the
    batch ``source_dup_matrix`` on the MinHash detector.

    Each micro-batch folds MinHash signatures, LSH bands and hashed token
    sets for ITS documents only, band-collides them (the lossless size
    prune inside the join condition) within the shard and against the
    accumulated band state, verifies candidates exactly on the hashed
    token-set arrays — identical arithmetic to
    ``operators/dedup.minhash_near_dup_pairs``, so jaccard values
    hash-match the oracle — and lands ``(doc_a, doc_b, source_a,
    source_b, jaccard)`` pair rows plus its band/doc state through the
    exactly-once epoch body (:func:`_accumulate_epoch`).

    Scale shape per batch: the signature fold is one codegen stage over
    the shard; the candidate joins shuffle on (band, band_hash) — volume
    is |shard bands| × collision rate, never corpus²; state grows by
    O(|shard| × bands) rows, exactly the batch operator's index
    footprint; verify is O(|candidates| × doc size) on integer arrays.
    The source-pair MATRIX itself is an aggregation the reader runs over
    the pair sink (append-only stream, no retractions); long-running
    streams bound state file counts with
    :func:`compact_pair_matrix_state` between drains.

    RE-DELIVERY CONTRACT (same-payload-per-id): a ``doc_id`` delivered
    more than once MUST carry identical payload (text, source) on every
    delivery — the at-least-once transport retry/replay case this
    accumulator is built for (:func:`_accumulate_epoch` says why). The
    same contract backs ``WarehouseTable.merge_upsert``'s
    insert-if-absent semantics.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.dedup import (
        lsh_band_hashes,
        minhash_signatures,
        size_prune_cond,
        spread,
        token_hash_array,
    )

    collide = (
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.band_hash") == F.col("y.band_hash"))
        & size_prune_cond(F.col("x.n"), F.col("y.n"), threshold)
    )

    def verify(joined: DataFrame) -> DataFrame:
        common = F.size(F.array_intersect(F.col("x.hv"), F.col("y.hv")))
        return joined.select(
            F.least("x.doc", "y.doc").alias("doc_a"),
            F.greatest("x.doc", "y.doc").alias("doc_b"),
            F.least("x.source", "y.source").alias("source_a"),
            F.greatest("x.source", "y.source").alias("source_b"),
            (
                common.cast("double")
                / (F.size("x.hv") + F.size("y.hv") - common).cast("double")
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)

    def _batch(batch: DataFrame, epoch_id: int) -> None:
        docs_b = batch.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text", "source"
        )
        # one scan of the shard feeds signatures AND token-hash arrays;
        # eager checkpoints pin both (each is joined more than once)
        sigs = minhash_signatures(docs_b, id_col="doc_id", carry_cols=("source",))
        bands_b = (
            lsh_band_hashes(sigs)
            .select("doc", "n", "band", "band_hash")
            .withColumn("pfx", _pfx("band", "band_hash", n_prefixes=n_prefixes))
            .localCheckpoint(eager=True)
        )
        hv_b = (
            spread(docs_b)
            .select(
                F.col("doc_id").alias("doc"),
                "source",
                token_hash_array(F.col("text")).alias("hv"),
            )
            .withColumn("pfx", _pfx("doc", n_prefixes=n_prefixes))
            .localCheckpoint(eager=True)
        )
        _accumulate_epoch(
            epoch_id,
            bands_b,
            hv_b,
            _TEXT_LAYOUT,
            state_dir,
            pairs_dir,
            collide,
            verify,
            n_prefixes,
        )

    writer = source.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    return _start(writer, available_now, trigger_seconds)


def start_embedding_near_dup(
    source: DataFrame,
    state_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_prefixes: int = DEFAULT_STATE_PREFIXES,
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Cross-batch EMBEDDING near-dup accumulation: the streaming twin of
    the batch ``operators/similarity.embedding_near_dup_pairs`` and the
    dense counterpart of :func:`start_source_pair_matrix`.

    Each micro-batch computes the OR-amplified hyperplane LSH buckets
    for ITS vectors only (``similarity.lsh_table_tags``, the batch
    operator's own expression, so buckets agree bit-for-bit with any
    engine that replays the md5 plane construction), bucket-collides
    them within the shard and against the accumulated bucket state,
    verifies candidates with the exact rounded cosine on the full
    vectors, and lands ``(id_a, id_b, cos_sim)`` pair rows plus its
    bucket/vector state through the exactly-once epoch body
    (:func:`_accumulate_epoch`).

    Scale shape per batch: the bucket fold is one codegen stage over the
    shard (``n_tables`` struct expressions, one explode); candidate
    joins shuffle on (tbl, bucket) — volume is |shard buckets| ×
    collision rate, never corpus²; state grows O(|shard| × n_tables)
    bucket rows + O(|shard|) vectors per batch;
    :func:`compact_embedding_state` bounds state file counts between
    drains. ``n_planes`` MUST be passed explicitly sized for the
    eventual corpus (``similarity.planes_for_corpus``): a streaming
    accumulator cannot re-derive it later without re-bucketing all
    accumulated state.

    RE-DELIVERY CONTRACT (same-payload-per-id): a ``vec_id`` delivered
    more than once MUST carry the identical vector on every delivery —
    the transport retry/replay case (:func:`_accumulate_epoch` says why).
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.similarity import (
        cosine,
        lsh_table_tags,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.session import spread

    tags = lsh_table_tags(F.col("vec"), n_planes, n_tables, dim)
    collide = (F.col("x.tbl") == F.col("y.tbl")) & (
        F.col("x.bucket") == F.col("y.bucket")
    )

    def verify(joined: DataFrame) -> DataFrame:
        return joined.select(
            F.least("x.vid", "y.vid").alias("id_a"),
            F.greatest("x.vid", "y.vid").alias("id_b"),
            cosine(F.col("x.vec"), F.col("y.vec")).alias("cos_sim"),
        ).filter(F.col("cos_sim") >= threshold)

    def _batch(batch: DataFrame, epoch_id: int) -> None:
        vecs_b = (
            spread(batch)
            .select(
                F.col(id_col).cast("long").alias("vid"),
                F.col(vec_col).alias("vec"),
            )
            .withColumn("pfx", _pfx("vid", n_prefixes=n_prefixes))
            .localCheckpoint(eager=True)
        )
        buckets_b = (
            vecs_b.select("vid", tags.alias("tb"))
            .select("vid", "tb.tbl", "tb.bucket")
            .withColumn("pfx", _pfx("tbl", "bucket", n_prefixes=n_prefixes))
            .localCheckpoint(eager=True)
        )
        _accumulate_epoch(
            epoch_id,
            buckets_b,
            vecs_b,
            _EMBEDDING_LAYOUT,
            state_dir,
            pairs_dir,
            collide,
            verify,
            n_prefixes,
        )

    writer = source.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    return _start(writer, available_now, trigger_seconds)


def start_scd2(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Streaming SCD Type-2 build through the exactly-once parquet sink.

    Closed dimension versions land incrementally as the event stream
    drains (streaming/stateful.stateful_scd2); the open version per key
    stays in the checkpointed state store, so a restart resumes versioning
    mid-run without re-emitting closed history — the incremental form of
    the batch ``scd2_user_state`` build.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.stateful import (
        stateful_scd2,
    )

    return _start_parquet(
        stateful_scd2(source),
        out_dir,
        checkpoint_dir,
        available_now,
        trigger_seconds,
    )


def start_contract_monitor(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    checks,
    unique_key=None,
    quarantine_dir: str | None = None,
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Per-micro-batch data-contract evaluation (streaming expectations).

    The streaming twin of ``operators/expectations.check_contract``: each
    micro-batch's violation counts land as one tiny report partition
    (``batch_id=<epoch>``), so a feed's health is queryable per batch the
    moment the batch commits — the dbt-test / Delta-constraint loop run
    continuously instead of nightly. With ``quarantine_dir`` set, rows
    failing any ROW-LEVEL check are also diverted (with a ``violated``
    array naming the failed checks) for replay after upstream repair.

    Idempotence: a replayed epoch rewrites its OWN partition directory
    (mode=overwrite on ``batch_id=<epoch>``), so checkpoint recovery
    cannot double-count — the same contract as the exactly-once parquet
    sink, expressed per-partition because foreachBatch owns the write.

    Scope notes: ``unique_key`` counts duplicates WITHIN a batch (the
    transport-level contract — a double-delivered payload inside one
    poll); cross-batch identity is the dedup ladder's job
    (``start_exact_dedup``), and cross-batch uniqueness violations are
    exactly what its state detects. Row-level checks are row-local, so
    the monitor adds no shuffle beyond ``check_contract``'s one
    conditional-aggregate pass per micro-batch.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.operators.expectations import (
        check_contract,
    )

    row_checks = list(checks)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        report = check_contract(batch, row_checks, unique_key=unique_key)
        report.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={int(epoch_id)}")
        )
        if quarantine_dir is not None:
            violated = F.array_compact(
                F.array(
                    *[
                        F.when(cond, F.lit(name))
                        for name, cond in row_checks
                    ]
                )
            )
            batch.withColumn("violated", violated).filter(
                F.size("violated") > 0
            ).write.mode("overwrite").parquet(
                os.path.join(quarantine_dir, f"batch_id={int(epoch_id)}")
            )

    writer = source.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    return _start(writer, available_now, trigger_seconds)


def start_native_sessions(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark_delay: str = "0 seconds",
    available_now: bool = False,
    trigger_seconds: int | None = DEFAULT_TRIGGER_SECONDS,
) -> StreamingQuery:
    """Streaming sessionization via the BUILT-IN ``session_window``.

    The JVM-native rung beside the ``applyInPandasWithState`` operator
    (streaming/stateful.stateful_sessions): watermarked events group by
    their merging session window; append mode emits a session only once
    the watermark passes its end (start + last gap), so the sink holds
    CLOSED sessions exactly — the same contract as the stateful
    operator, with session-merge state managed by the engine instead of
    Python. Boundary semantics are the ``session_window`` ones (a gap of
    exactly ``gap`` starts a new session), matching the batch twin
    ``native_session_window`` — the pytest pins streaming == batch.

    The 0-second default watermark drops any out-of-order event across
    micro-batch boundaries (same trade, and same loud documentation, as
    stateful_heartbeat); pass a nonzero delay for out-of-order sources.
    """
    sessions = (
        source.withWatermark("ts", watermark_delay)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end_padded"),
            "n_events",
        )
    )
    return _start_parquet(
        sessions, out_dir, checkpoint_dir, available_now, trigger_seconds
    )
