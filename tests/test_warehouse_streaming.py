"""Warehouse merge semantics + streaming ingestion (reference S5-S7, T1-T5).

The core guarantees under test:
- ``merge_upsert`` is idempotent on (station_id, timestamp) — re-running a
  batch adds nothing (the reference's watermark guarantee, made exact),
- the streaming pipeline (file source → foreachBatch → merge) produces the
  same warehouse state as the batch path, survives a simulated restart
  (fresh checkpoint, same data) without double-loading, and recovers
  incrementally (new files only) with the original checkpoint.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_engineering_datawarehousingandetlpipeline_spark.sources.kafka import (
    decode_json,
    encode_json,
)
from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
    read_observations_json,
)
from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
    clean_batch,
    read_json_file_stream,
    run_available,
)
from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
    WarehouseTable,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "sample_observations.json")


def _rows(path):
    with open(path) as fh:
        return json.load(fh)


def _write_ndjson(rows, path):
    with open(path, "w") as fh:
        for row in rows:
            fh.write(json.dumps({k: None if v is None else str(v) for k, v in row.items()}) + "\n")


@pytest.fixture()
def warehouse(spark, tmp_path):
    return WarehouseTable(spark, str(tmp_path / "warehouse"))


def test_append_and_verify(spark, warehouse):
    df = read_observations_json(spark, FIXTURE)
    assert not warehouse.exists()
    n = warehouse.append(df)
    assert n == 6
    assert warehouse.exists()
    assert warehouse.count() == 6


def test_merge_upsert_is_idempotent(spark, warehouse):
    df = clean_batch(read_observations_json(spark, FIXTURE))
    first = warehouse.merge_upsert(df)
    assert first == warehouse.count() == 5  # hourly-deduped fixture
    second = warehouse.merge_upsert(df)  # exact replay → no-op
    assert second == 0
    assert warehouse.count() == 5


def test_merge_upsert_inserts_only_new_keys(spark, warehouse):
    df = clean_batch(read_observations_json(spark, FIXTURE))
    warehouse.merge_upsert(df)
    later = spark.createDataFrame(
        [
            ("100001", "2024-03-01T00:30:00Z", "9.9"),   # same (key, hour) → skipped
            ("100009", "2024-03-01T07:00:00Z", "4.2"),   # genuinely new
        ],
        schema="station_id string, timestamp string, temperature string",
    )
    added = warehouse.merge_upsert(clean_batch(later))
    assert added == 1
    assert warehouse.count() == 6


def test_max_ts_per_key_state(spark, warehouse):
    warehouse.merge_upsert(clean_batch(read_observations_json(spark, FIXTURE)))
    state = {r["station_id"]: r["max_ts"] for r in warehouse.max_ts_per_key().collect()}
    assert state["100001"].isoformat() == "2024-03-01T00:00:00"
    assert len(state) == 5


def test_compact_collapses_small_files(spark, warehouse):
    df = clean_batch(read_observations_json(spark, FIXTURE))
    # three appends of row-slices → many small files across partitions
    rows = df.collect()
    for row in rows:
        warehouse.append(
            spark.createDataFrame([row], schema=df.schema), verify=False
        )
    n_before = warehouse.data_file_count()
    assert n_before >= len(rows)
    before = sorted(map(tuple, warehouse.read().collect()))

    n_dates = warehouse.read().select(
        F.to_date(F.col("timestamp"))
    ).distinct().count()
    n_after = warehouse.compact()
    assert n_after == n_dates  # exactly one file per date partition
    assert sorted(map(tuple, warehouse.read().collect())) == before


def test_compact_partitions_bin_packs_eligible_days_only(spark, warehouse):
    """Partition-granular OPTIMIZE contract: only partitions older than
    the anchor are rewritten, each lands at its bin-packed file count
    (ceil(rows / target)), table contents are untouched, the day-window
    scan still partition-prunes (and now reads exactly the packed files),
    and a re-run is a no-op."""
    import datetime
    import re

    rows = [
        ("s1", "2024-03-01T00:10:00Z", "1.0"),
        ("s2", "2024-03-01T05:20:00Z", "2.0"),
        ("s3", "2024-03-01T09:30:00Z", "3.0"),
        ("s1", "2024-03-02T00:40:00Z", "4.0"),
        ("s2", "2024-03-02T05:50:00Z", "5.0"),
        ("s3", "2024-03-02T09:05:00Z", "6.0"),
    ]
    for row in rows:  # one file per row per partition: 3 files per day
        warehouse.append(
            clean_batch(
                spark.createDataFrame(
                    [row],
                    schema="station_id string, timestamp string, temperature string",
                )
            ),
            verify=False,
        )
    assert warehouse.data_file_count() == 6
    before_rows = sorted(map(tuple, warehouse.read().collect()))

    def day_files(day):
        d = os.path.join(warehouse.root, f"dt={day}")
        return sum(
            1 for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(".")
        )

    def day_scan(day):
        return warehouse.read().filter(F.col("dt") == day)

    assert day_files("2024-03-01") == 3

    # anchor excludes 2024-03-02 (the hot partition still being written)
    n = warehouse.compact_partitions(
        target_file_rows=2, before=datetime.date(2024, 3, 2)
    )
    assert n == 1
    assert day_files("2024-03-01") == 2  # ceil(3 rows / 2): bin-packed
    assert day_files("2024-03-02") == 3  # untouched behind the anchor
    day1 = day_scan("2024-03-01")
    # the day-window scan still partition-prunes over the rewritten layout
    plan = day1._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^]]*dt", plan)
    assert sorted(map(tuple, day1.drop("dt").collect())) == [
        r[:-1] for r in before_rows if r[4].date().isoformat() == "2024-03-01"
    ]
    assert sorted(map(tuple, warehouse.read().collect())) == before_rows

    # later maintenance run with an advanced anchor picks up day 2
    assert warehouse.compact_partitions(
        target_file_rows=2, before=datetime.date(2024, 3, 3)
    ) == 1
    assert day_files("2024-03-02") == 2
    assert sorted(map(tuple, warehouse.read().collect())) == before_rows

    # idempotent: everything already at its bin-packed count
    assert warehouse.compact_partitions(
        target_file_rows=2, before=datetime.date(2024, 3, 3)
    ) == 0

    # maintenance log: three runs recorded — one rewrite row each for the
    # first two, a NULL-partition no-op row for the replay — with the
    # before/after file counts and anchors the operator reported
    log = sorted(
        map(tuple, warehouse.maintenance_log().collect()),
        key=lambda t: (t[0], str(t[2])),
    )
    assert log == [
        (1, "compact_partitions", "2024-03-01", 3, 2, 3, "2024-03-02"),
        (2, "compact_partitions", "2024-03-02", 3, 2, 3, "2024-03-03"),
        (3, "compact_partitions", None, 0, 0, 0, "2024-03-03"),
    ]
    # the sidecar is invisible to data reads: file count and the pruned
    # day-window plan are exactly as before the log existed
    assert warehouse.data_file_count() == 4
    plan = day_scan("2024-03-01")._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^]]*dt", plan)
    assert "_maintenance" not in plan
    assert sorted(map(tuple, warehouse.read().collect())) == before_rows


def test_kafka_json_roundtrip(spark):
    df = read_observations_json(spark, FIXTURE)
    decoded = decode_json(encode_json(df))
    assert decoded.columns == df.columns
    assert sorted(map(tuple, decoded.collect())) == sorted(map(tuple, df.collect()))


def test_kafka_connector_exercised_or_skipped_with_reason(spark):
    """The real connector path (sources/kafka.py:read_stream) is the one
    reference transport with no execution evidence in this image — the
    spark-sql-kafka jars are not bundled. Probe for them: if present,
    the reader must at least construct its plan; if absent, skip LOUDLY
    so the coverage gap stays visible in every test report instead of
    silently not existing."""
    import pytest

    from data_engineering_datawarehousingandetlpipeline_spark.sources.kafka import (
        read_stream,
    )

    try:
        stream = read_stream(spark, "localhost:9092", topic="probe")
    except Exception as exc:  # connector class not on the classpath
        pytest.skip(
            "spark-sql-kafka connector jars absent in this image; the "
            f"Kafka path is exercised via the file-stream stand-in only ({exc})"
        )
    assert stream.isStreaming  # jars present: the decode plan constructed


def test_streaming_matches_batch_and_restart_is_idempotent(spark, tmp_path, warehouse):
    rows = _rows(FIXTURE)
    indir = tmp_path / "incoming"
    indir.mkdir()
    _write_ndjson(rows[:3], indir / "batch1.json")
    _write_ndjson(rows[3:], indir / "batch2.json")

    ckpt1 = str(tmp_path / "ckpt1")
    run_available(read_json_file_stream(spark, str(indir)), warehouse, ckpt1)
    assert warehouse.count() == 5  # same as the batch path

    # simulated crash-and-reprocess: NEW checkpoint, same input files —
    # every batch replays, yet the merge keeps the warehouse unchanged
    run_available(read_json_file_stream(spark, str(indir)), warehouse, str(tmp_path / "ckpt2"))
    assert warehouse.count() == 5

    # incremental recovery with the ORIGINAL checkpoint: only new files run
    _write_ndjson(
        [{"station_id": "100010", "timestamp": "2024-03-01T09:05:00Z", "temperature": "7.0",
          "station_name": "New", "latitude": "60.0", "longitude": "24.0",
          "humidity": "50", "wind_speed": "1.0"}],
        indir / "batch3.json",
    )
    run_available(read_json_file_stream(spark, str(indir)), warehouse, ckpt1)
    assert warehouse.count() == 6


def test_run_available_counts_commits_not_progress_buffer(spark, tmp_path, warehouse):
    """The drained-batch count is the checkpoint commit-log delta — exact
    past the 100-entry recentProgress cap, and on a RESUMED checkpoint it
    counts only this drain's batches even though batch ids continue from
    the prior run (the before/after diff, not lastProgress.batchId+1)."""
    rows = _rows(FIXTURE)
    indir = tmp_path / "incoming"
    indir.mkdir()
    _write_ndjson(rows[:3], indir / "batch1.json")
    ckpt = str(tmp_path / "ckpt")

    first = run_available(read_json_file_stream(spark, str(indir)), warehouse, ckpt)
    assert first >= 1
    # empty drain on the same checkpoint: nothing new → 0, so the cli's
    # telemetry wait can skip (no progress event will ever arrive)
    assert run_available(read_json_file_stream(spark, str(indir)), warehouse, ckpt) == 0
    # resumed checkpoint with one new file: exactly the new batches,
    # not (last batch id + 1) = the whole history
    _write_ndjson(rows[3:], indir / "batch2.json")
    second = run_available(read_json_file_stream(spark, str(indir)), warehouse, ckpt)
    assert 1 <= second <= first + 1
    commits = {int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}
    assert len(commits) == first + second  # the log holds the full history


def test_drained_count_is_exact_past_commit_log_retention():
    """Spark purges ``commits/`` down to minBatchesToRetain (default 100)
    entries as batches run, so a set-difference count caps at the
    retention limit on a >100-batch drain; the max-id delta is immune
    because batch ids are consecutive and the newest file survives."""
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        _drained_count,
    )

    assert _drained_count(set(), {0, 1, 2}) == 3  # fresh, short drain
    assert _drained_count({0, 1, 2}, {0, 1, 2}) == 0  # empty drain
    assert _drained_count(set(), set()) == 0
    assert _drained_count({0, 1, 2}, {0, 1, 2, 3, 4}) == 2  # resumed
    # 150-batch drain on a fresh checkpoint, purged to the last 100:
    # set difference reads 100 (the trap); the real count is 150
    purged = set(range(50, 150))
    assert len(purged - set()) == 100
    assert _drained_count(set(), purged) == 150
    # resumed AND purged: prior run ended at id 9, drain ends at 159
    # with only {60..159} retained → exactly 150 new batches
    assert _drained_count(set(range(10)), set(range(60, 160))) == 150


def test_delta_format_exercised_or_skipped_with_reason(spark, tmp_path):
    """SURVEY §1.1's warehouse-table row maps to a transactional table
    format (Delta/Iceberg); warehouse/store.py emulates MERGE/append on
    date-partitioned parquet because this image bundles no delta-spark
    jars. Probe for them: if present, a round-trip write/read must work
    (the store API is shaped for a drop-in format swap); if absent, skip
    LOUDLY so the format gap stays visible in every test report."""
    import pytest

    target = str(tmp_path / "delta_probe")
    df = spark.range(3).withColumnRenamed("id", "k")
    try:
        df.write.format("delta").save(target)
    except Exception as exc:  # DeltaCatalog / DataSource not on classpath
        pytest.skip(
            "delta-spark jars absent in this image; the warehouse emulates "
            f"MERGE/append on date-partitioned parquet instead ({exc})"
        )
    got = spark.read.format("delta").load(target)
    assert sorted(r.k for r in got.collect()) == [0, 1, 2]


def test_streaming_exact_dedup_state_survives_restart(spark, tmp_path):
    """Cross-batch dedup state must persist in the checkpoint: a shard
    landing AFTER a restart whose content was already ingested before the
    restart is dropped by the recovered state store, not re-emitted."""
    import hashlib

    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_exact_dedup,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()

    def land(rows, name):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    def drain():
        schema = T.StructType(
            [
                T.StructField("doc_id", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
            ]
        )
        query = start_exact_dedup(
            spark.readStream.schema(schema).json(str(indir)),
            str(tmp_path / "deduped"),
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        query.awaitTermination()
        return spark.read.parquet(str(tmp_path / "deduped"))

    sha = lambda s: hashlib.sha256(s.encode()).hexdigest()  # noqa: E731

    # shard 1 carries an INTRA-shard duplicate (beta twice)
    land(
        [
            {"doc_id": "1", "text": "alpha"},
            {"doc_id": "2", "text": "beta"},
            {"doc_id": "3", "text": "beta"},
        ],
        "shard1.json",
    )
    got = {r.text_hash: r.n_chars for r in drain().collect()}
    assert got == {sha("alpha"): 5, sha("beta"): 4}

    # shard 2 lands after the drain stopped: one CROSS-restart duplicate
    # (beta again) and one genuinely new content
    land(
        [
            {"doc_id": "4", "text": "beta"},
            {"doc_id": "5", "text": "gamma"},
        ],
        "shard2.json",
    )
    rows = drain().collect()
    assert len(rows) == 3  # beta NOT re-emitted after state recovery
    assert {r.text_hash for r in rows} == {sha("alpha"), sha("beta"), sha("gamma")}


def test_streaming_minhash_index_survives_restart_and_matches_batch(spark, tmp_path):
    """Cross-batch LSH-index state must persist in the checkpoint: a shard
    landing AFTER a restart whose content was already signed before the
    restart contributes NO new band buckets, while genuinely new content
    extends the index — and the accumulated index equals the batch
    banding over the same documents exactly."""
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.operators.dedup import (
        lsh_band_hashes,
        minhash_signatures,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_minhash_dedup,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()

    def land(rows, name):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    def drain():
        schema = T.StructType(
            [
                T.StructField("doc_id", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
            ]
        )
        query = start_minhash_dedup(
            spark.readStream.schema(schema).json(str(indir)),
            str(tmp_path / "index"),
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        query.awaitTermination()
        return spark.read.parquet(str(tmp_path / "index"))

    # shard 1 carries an INTRA-shard exact twin (identical band keys)
    land(
        [
            {"doc_id": "1", "text": "alpha beta gamma delta"},
            {"doc_id": "2", "text": "epsilon zeta eta theta"},
            {"doc_id": "3", "text": "alpha beta gamma delta"},
        ],
        "shard1.json",
    )
    first = drain().collect()
    assert len(first) == 32  # 16 bands × 2 distinct contents; twin dropped

    # shard 2 lands after the drain stopped: one CROSS-restart twin and
    # one genuinely new content
    land(
        [
            {"doc_id": "4", "text": "epsilon zeta eta theta"},
            {"doc_id": "5", "text": "iota kappa lambda mu"},
        ],
        "shard2.json",
    )
    got = {(r.band, r.band_hash) for r in drain().collect()}
    assert len(got) == 48  # twin's 16 buckets NOT re-emitted, 16 new ones

    # survivor-agnostic contract: the incremental index IS the batch index
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta"),
         (5, "iota kappa lambda mu")],
        "doc_id long, text string",
    )
    expected = {
        (r.band, r.band_hash)
        for r in lsh_band_hashes(minhash_signatures(batch))
        .select("band", "band_hash")
        .collect()
    }
    assert got == expected


def test_windowed_dedup_drops_within_delay_and_expires_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract: a duplicate inside the
    lateness horizon is dropped (even across a restart); once the
    watermark passes the original's event time + delay, its state is
    gone and a far-future twin is re-emitted — the bounded-state trade
    the operator documents."""
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_windowed_exact_dedup,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()

    def land(rows, name):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    def drain():
        schema = T.StructType(
            [
                T.StructField("text", T.StringType(), True),
                T.StructField("ts", T.TimestampType(), True),
            ]
        )
        query = start_windowed_exact_dedup(
            spark.readStream.schema(schema).json(str(indir)),
            str(tmp_path / "deduped"),
            str(tmp_path / "ckpt"),
            delay="1 hour",
            available_now=True,
        )
        query.awaitTermination()
        return spark.read.parquet(str(tmp_path / "deduped"))

    land(
        [
            {"text": "alpha", "ts": "2024-03-01T10:00:00.000Z"},
            {"text": "beta", "ts": "2024-03-01T10:00:00.000Z"},
        ],
        "shard1.json",
    )
    assert drain().count() == 2

    # duplicate 30 min after the original: inside the 1 h horizon, state
    # recovered from the checkpoint across the restart → dropped
    land([{"text": "alpha", "ts": "2024-03-01T10:30:00.000Z"}], "shard2.json")
    assert drain().count() == 2

    # advance the watermark far past alpha's expiry (10:00 + 1 h)...
    land([{"text": "gamma", "ts": "2024-03-01T20:00:00.000Z"}], "shard3.json")
    assert drain().count() == 3
    # ...then a far-future twin of alpha: its state has expired → re-emitted
    land([{"text": "alpha", "ts": "2024-03-01T20:00:00.000Z"}], "shard4.json")
    got = drain()
    assert got.count() == 4
    assert got.filter("n_chars = 5").count() == 3  # alpha twice + gamma


def test_windowed_minhash_index_drops_within_delay_and_expires_state(spark, tmp_path):
    """The bounded-state near-dup rung: a twin document's band buckets
    inside the lateness horizon are suppressed (across a restart); after
    the watermark passes the original's event time + delay, its bucket
    state is gone and a far-future twin re-emits its 16 buckets — the
    state-bound trade the operator documents."""
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_windowed_minhash_dedup,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()

    def land(rows, name):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    def drain():
        schema = T.StructType(
            [
                T.StructField("doc_id", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
                T.StructField("ts", T.TimestampType(), True),
            ]
        )
        query = start_windowed_minhash_dedup(
            spark.readStream.schema(schema).json(str(indir)),
            str(tmp_path / "index"),
            str(tmp_path / "ckpt"),
            delay="1 hour",
            available_now=True,
        )
        query.awaitTermination()
        return spark.read.parquet(str(tmp_path / "index"))

    land(
        [
            {"doc_id": "1", "text": "alpha beta gamma delta", "ts": "2024-03-01T10:00:00.000Z"},
            {"doc_id": "2", "text": "epsilon zeta eta theta", "ts": "2024-03-01T10:00:00.000Z"},
        ],
        "shard1.json",
    )
    assert drain().count() == 32  # 16 bands × 2 contents

    # twin 30 min later: inside the horizon, state recovered across the
    # restart → all 16 of its buckets suppressed
    land(
        [{"doc_id": "3", "text": "alpha beta gamma delta", "ts": "2024-03-01T10:30:00.000Z"}],
        "shard2.json",
    )
    assert drain().count() == 32

    # advance the watermark far past expiry, then a far-future twin:
    # its bucket state is gone → 16 buckets re-emitted (batch DISTINCT
    # compaction of the index absorbs them downstream)
    land(
        [{"doc_id": "4", "text": "iota kappa lambda mu", "ts": "2024-03-01T20:00:00.000Z"}],
        "shard3.json",
    )
    assert drain().count() == 48
    land(
        [{"doc_id": "5", "text": "alpha beta gamma delta", "ts": "2024-03-01T20:00:00.000Z"}],
        "shard4.json",
    )
    got = drain()
    assert got.count() == 64
    assert got.distinct().count() == 48  # the re-emitted twin buckets collapse


def test_heartbeat_fires_on_event_time_silence_across_restarts(spark, tmp_path):
    """The event-time timeout contract: a key with no events for the
    silence threshold emits exactly one silence row once the WATERMARK
    passes its deadline (on the first batch after — here the next
    scheduled drain), carrying its last event time and count; an active
    key stays silent-free; state survives restarts and self-cleans."""
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.stateful import (
        stateful_heartbeat,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()

    def land(rows, name):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    def drain():
        schema = T.StructType(
            [
                T.StructField("user_id", T.LongType(), True),
                T.StructField("ts", T.TimestampType(), True),
            ]
        )
        query = (
            stateful_heartbeat(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .json(str(indir)),
                silence_seconds=3600,
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "silence"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return spark.read.parquet(str(tmp_path / "silence"))

    land(
        [
            {"user_id": 1, "ts": "2024-03-01T10:00:00.000Z"},
            {"user_id": 1, "ts": "2024-03-01T10:01:00.000Z"},
            {"user_id": 2, "ts": "2024-03-01T10:05:00.000Z"},
        ],
        "shard1.json",
    )
    assert drain().count() == 0  # nothing silent yet

    # a far-future event advances the watermark past both deadlines;
    # timeouts fire on the FIRST batch after (the next drain — the
    # scheduled-cadence shape the operator documents)
    land([{"user_id": 3, "ts": "2024-03-01T20:00:00.000Z"}], "shard2.json")
    drain()
    land([{"user_id": 3, "ts": "2024-03-01T20:30:00.000Z"}], "shard3.json")
    got = {r.user_id: r for r in drain().collect()}
    assert set(got) == {1, 2}  # user 3 is still active — no alarm
    assert got[1].n_events == 2
    assert got[1].last_seen.isoformat() == "2024-03-01T10:01:00"
    assert got[1].silent_at.isoformat() == "2024-03-01T11:01:00"
    assert got[2].n_events == 1

    # the fired keys' state is gone (no re-emission), while a NEW user's
    # far-future events push the watermark past user 3's deadline — u3
    # fires exactly once on the following drain; the new user stays active
    land([{"user_id": 4, "ts": "2024-03-02T12:00:00.000Z"}], "shard4.json")
    drain()
    land([{"user_id": 4, "ts": "2024-03-02T12:30:00.000Z"}], "shard5.json")
    rows = drain().collect()
    assert sorted(r.user_id for r in rows) == [1, 2, 3]  # u3 once, u4 active


def test_merge_replace_updates_matched_and_inserts_new(spark, warehouse):
    """MERGE with update-on-match: a correction batch replaces same-key
    rows in place, inserts new keys, preserves everything else (other
    rows in the touched partition AND untouched partitions), and re-runs
    idempotently."""
    base = clean_batch(read_observations_json(spark, FIXTURE))
    warehouse.append(base)
    n0 = warehouse.count()
    keys = [tuple(r) for r in warehouse.read().select("station_id", "timestamp").collect()]

    # correction: revise ONE existing row's temperature, add one new station
    victim = warehouse.read().orderBy("station_id", "timestamp").first()
    # materialized: a real correction batch arrives from OUTSIDE the
    # table — a lazy plan over the very files the merge overwrites would
    # re-read deleted files on the idempotence replay below
    corrections = warehouse.read().filter(
        (F.col("station_id") == victim.station_id)
        & (F.col("timestamp") == victim.timestamp)
    ).withColumn("temperature", F.lit(99.5)).unionByName(
        warehouse.read().limit(1).withColumn("station_id", F.lit("999999"))
    ).localCheckpoint(eager=True)
    n = warehouse.merge_replace(corrections)
    assert n == 2
    assert warehouse.count() == n0 + 1  # one update in place, one insert
    got = warehouse.read().filter(
        (F.col("station_id") == victim.station_id)
        & (F.col("timestamp") == victim.timestamp)
    ).collect()
    assert len(got) == 1 and got[0].temperature == 99.5  # replaced, not duplicated
    # every pre-existing key is still present exactly once
    after = [tuple(r) for r in warehouse.read().select("station_id", "timestamp").collect()]
    assert sorted(after) == sorted(keys + [("999999", victim.timestamp)])

    # idempotence: replaying the correction batch changes nothing
    warehouse.merge_replace(corrections)
    assert warehouse.count() == n0 + 1


def test_merge_replace_accepts_an_external_correction_batch(spark, warehouse):
    """A correction batch built OUTSIDE the table (no derived `dt`
    column — the realistic feed shape) must merge cleanly: the original
    code only worked for batches that happened to come from
    warehouse.read(), which carries `dt` (caught by
    examples/maintenance.py)."""
    warehouse.append(clean_batch(read_observations_json(spark, FIXTURE)))
    n0 = warehouse.count()
    victim = warehouse.read().orderBy("station_id", "timestamp").first()
    external = clean_batch(
        spark.createDataFrame(
            [
                (victim.station_id, victim.timestamp.isoformat() + "Z", "77.7"),
                ("999998", "2024-03-01T06:00:00Z", "1.1"),
            ],
            schema="station_id string, timestamp string, temperature string",
        )
    )
    assert "dt" not in external.columns
    assert warehouse.merge_replace(external) == 2
    assert warehouse.count() == n0 + 1  # in-place update + one insert
    got = warehouse.read().filter(
        (F.col("station_id") == victim.station_id)
        & (F.col("timestamp") == victim.timestamp)
    ).collect()
    assert len(got) == 1 and got[0].temperature == 77.7


def test_expire_partitions_drops_only_old_days(spark, warehouse):
    import datetime

    base = clean_batch(read_observations_json(spark, FIXTURE))
    warehouse.append(base)
    days = sorted(
        r[0] for r in warehouse.read().select(F.to_date("timestamp")).distinct().collect()
    )
    anchor = days[-1]
    dropped = warehouse.expire_partitions(keep_days=0, anchor=anchor)
    assert dropped == len(days) - 1  # every day strictly before the anchor
    left = [r[0] for r in warehouse.read().select(F.to_date("timestamp")).distinct().collect()]
    assert left == [anchor]
    # replayable: same anchor again is a no-op
    assert warehouse.expire_partitions(keep_days=0, anchor=anchor) == 0


def test_streaming_scd2_versions_continue_across_restart(spark, tmp_path):
    """The open version must survive a stop/start in the checkpointed
    state: events landing after the restart extend it (not reopen at
    version 1), and the version that then closes carries the pre-restart
    valid_from and the combined event count."""
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_scd2,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()

    def land(rows, name):
        with open(indir / name, "w") as fh:
            for i, (ts, et) in enumerate(rows):
                fh.write(
                    json.dumps(
                        {"user_id": 1, "event_id": i, "ts": ts, "event_type": et}
                    )
                    + "\n"
                )

    def drain():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts timestamp, event_type string"
        ).json(str(indir))
        query = start_scd2(
            stream,
            str(tmp_path / "history"),
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        query.awaitTermination()
        return spark.read.parquet(str(tmp_path / "history"))

    land(
        [
            ("2024-01-01T00:00:00.000000Z", "a"),
            ("2024-01-01T01:00:00.000000Z", "a"),
            ("2024-01-01T02:00:00.000000Z", "b"),
        ],
        "shard1.json",
    )
    rows = drain().collect()
    assert len(rows) == 1  # v1 closed; v2 ('b') still open in state
    (v1,) = rows
    assert (v1.version, v1.state, v1.n_events) == (1, "a", 2)
    assert v1.valid_to.isoformat() == "2024-01-01T02:00:00"

    # post-restart: one more 'b' (absorbed into the recovered open v2),
    # then an 'a' that closes it
    land(
        [
            ("2024-01-01T03:00:00.000000Z", "b"),
            ("2024-01-01T04:00:00.000000Z", "a"),
        ],
        "shard2.json",
    )
    rows = {r.version: r for r in drain().collect()}
    assert set(rows) == {1, 2}  # v1 NOT re-emitted; v2 closed exactly once
    v2 = rows[2]
    assert (v2.state, v2.n_events) == ("b", 2)  # pre+post-restart events
    assert v2.valid_from.isoformat() == "2024-01-01T02:00:00"
    assert v2.valid_to.isoformat() == "2024-01-01T04:00:00"


def test_warehouse_history_example_composes(spark):
    """examples/warehouse_history.py is the warehouse-family composition
    check: streaming SCD2 == batch closed history, snapshot census over
    the full grid, and both incremental reports merge-consistent."""
    import sys as _sys

    _sys.path.insert(0, "examples")
    from warehouse_history import run_checks

    got = run_checks(spark)
    assert got["closed_versions"] > 0
    assert got["snapshot_cells"] > 0
    assert got["event_types"] == 5


def test_contract_monitor_reports_quarantines_and_replays_idempotently(
    spark, tmp_path
):
    """The streaming expectations monitor must (a) emit one report row
    per (batch, check) with exactly the crafted violation counts, (b)
    divert violating rows to quarantine with the failed checks named,
    and (c) rewrite — not duplicate — its partitions when the same epoch
    replays after a checkpoint wipe (the idempotence contract)."""
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        expectations as X,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_contract_monitor,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()
    shards = [
        [
            {"k": 1, "v": 10.0},
            {"k": 2, "v": None},   # not_null violation
            {"k": 2, "v": 20.0},   # duplicate key
        ],
        [
            {"k": 4, "v": 999.0},  # range violation
            {"k": 5, "v": 50.0},
        ],
    ]
    for i, rows in enumerate(shards):
        path = indir / f"shard{i}.json"
        with open(path, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("v", T.DoubleType(), True),
        ]
    )

    def drain(ckpt):
        query = start_contract_monitor(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(indir)),
            str(tmp_path / "log"),
            str(tmp_path / ckpt),
            checks=[X.not_null("v"), X.accepted_range("v", 0.0, 100.0)],
            unique_key=["k"],
            quarantine_dir=str(tmp_path / "bad"),
            available_now=True,
        )
        query.awaitTermination()
        return {
            (r.batch_id, r.check): r.n_violations
            for r in spark.read.parquet(str(tmp_path / "log")).collect()
        }

    got = drain("ckpt")
    assert got == {
        (0, "not_null_v"): 1,
        (0, "range_v"): 0,
        (0, "unique_k"): 1,
        (1, "not_null_v"): 0,
        (1, "range_v"): 1,
        (1, "unique_k"): 0,
    }
    bad = spark.read.parquet(str(tmp_path / "bad")).collect()
    assert {(r.batch_id, r.k, tuple(r.violated)) for r in bad} == {
        (0, 2, ("not_null_v",)),
        (1, 4, ("range_v",)),
    }

    # fresh checkpoint: both epochs replay onto the same partitions —
    # counts identical, nothing appended twice
    assert drain("ckpt2") == got


def _ts_df(spark, rows, ddl):
    """Rows with ISO-string timestamps -> DataFrame with a real ts column."""
    df = spark.createDataFrame(rows, ddl.replace("ts timestamp", "ts string"))
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_schema_evolution_widens_on_optin_and_rejects_drift(spark, tmp_path):
    """The Delta-shaped schema contract: silent type drift always fails;
    widening needs evolve_schema=True and backfills earlier files as
    NULLs on read; an old-schema producer keeps working afterwards
    (missing column -> typed NULLs); the registered schema survives a
    fresh handle; and the widening is in the maintenance audit."""
    warehouse = WarehouseTable(
        spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts"
    )
    v1 = _ts_df(spark, [(1, "2024-03-01T00:00:00", 10.0)], "k long, ts timestamp, temp double")
    warehouse.append(v1, verify=False)

    # same name, different type: always a loud failure
    drift = _ts_df(spark, [(2, "2024-03-01T01:00:00", "hot")], "k long, ts timestamp, temp string")
    with pytest.raises(ValueError, match="schema conflict"):
        warehouse.append(drift, verify=False)

    # new column without opt-in: refused; with opt-in: widened
    v2 = _ts_df(spark, [(3, "2024-03-02T00:00:00", 12.5, 55.0)], "k long, ts timestamp, temp double, humidity double")
    with pytest.raises(ValueError, match="evolve_schema=True"):
        warehouse.append(v2, verify=False)
    warehouse.append(v2, verify=False, evolve_schema=True)

    got = {r.k: (r.temp, r.humidity) for r in warehouse.read().collect()}
    assert got == {1: (10.0, None), 3: (12.5, 55.0)}

    # old-schema producer after the widening: missing column -> NULL
    warehouse.merge_upsert(
        _ts_df(spark, [(4, "2024-03-03T00:00:00", 9.0)], "k long, ts timestamp, temp double")
    )
    # fresh handle: the registry, not footer sampling, defines the schema
    again = WarehouseTable(spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts")
    # (Spark surfaces the dt partition column last on read)
    assert [f.name for f in again.read().schema.fields] == [
        "k", "ts", "temp", "humidity", "dt",
    ]
    assert again.read().filter("k = 4").first().humidity is None

    log = warehouse.maintenance_log().filter("op = 'evolve_schema'").collect()
    assert [r.partition for r in log] == ["humidity"]


def test_schema_evolution_keeps_merge_idempotent_across_widening(spark, tmp_path):
    """A replayed old-schema batch after the table widened must still be
    a no-op — the anti-join sees the registered schema's key columns."""
    warehouse = WarehouseTable(
        spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts"
    )
    batch = _ts_df(spark, [(1, "2024-03-01T00:00:00", 10.0)], "k long, ts timestamp, temp double")
    warehouse.merge_upsert(batch)
    warehouse.append(
        _ts_df(spark, [(2, "2024-03-01T02:00:00", 11.0, 60.0)], "k long, ts timestamp, temp double, humidity double"),
        verify=False,
        evolve_schema=True,
    )
    assert warehouse.merge_upsert(batch) == 0  # replay: still idempotent
    assert warehouse.count() == 2


def test_data_contracts_example_composes(spark):
    """examples/data_contracts.py is the quality-family composition
    check: batch contract -> quarantine -> streaming monitor -> schema
    evolution -> widened contract, one lifecycle."""
    import sys as _sys

    _sys.path.insert(0, "examples")
    from data_contracts import run_checks

    got = run_checks(spark)
    assert got["batch_failed_checks"] == 3
    assert got["stream_failed_checks"] == 2   # one range, one dup
    assert got["stream_quarantined"] == 1     # the -80.0 reading
    assert got["rows"] == 4
    assert got["humidity_nulls"] == 3
    assert got["evolutions"] == 1


def test_native_streaming_sessions_emit_closed_sessions_across_batches(
    spark, tmp_path
):
    """The built-in session_window rung must MERGE a session across
    micro-batches (engine-managed session state), emit a session only
    once the watermark passes its padded end, and keep a still-warm
    session in state rather than emitting it early."""
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_native_sessions,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()
    shards = [
        [
            {"user_id": 1, "ts": "2024-03-01T10:00:00"},
            {"user_id": 1, "ts": "2024-03-01T10:10:00"},
            {"user_id": 2, "ts": "2024-03-01T10:05:00"},
        ],
        [
            # merges into user 1's open session from batch 0
            {"user_id": 1, "ts": "2024-03-01T10:20:00"},
            # a fresh session too close to the final watermark to close
            {"user_id": 1, "ts": "2024-03-01T12:00:00"},
        ],
    ]
    for i, rows in enumerate(shards):
        path = indir / f"shard{i}.json"
        with open(path, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    query = start_native_sessions(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir)),
        str(tmp_path / "sessions"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    query.awaitTermination()
    got = {
        (r.user_id, r.session_start.isoformat(), r.session_end_padded.isoformat()):
        r.n_events
        for r in spark.read.parquet(str(tmp_path / "sessions")).collect()
    }
    assert got == {
        # cross-batch merged session: 10:00 + 10:10 (batch 0) + 10:20 (batch 1)
        (1, "2024-03-01T10:00:00", "2024-03-01T10:50:00"): 3,
        (2, "2024-03-01T10:05:00", "2024-03-01T10:35:00"): 1,
        # user 1's 12:00 session is NOT here: watermark (12:00) has not
        # passed its padded end (12:30) — still open in state
    }


def test_shallow_clone_is_zero_copy_and_isolated(spark, tmp_path):
    """clone() must hardlink data files (same inode, no bytes copied),
    copy sidecars, and keep the two tables fully isolated afterwards:
    appends land on one side only, the clone's compaction rewrite leaves
    the source intact, and each side's schema can evolve independently."""
    src = WarehouseTable(spark, str(tmp_path / "src"), keys=["k", "ts"], ts_col="ts")
    df = _ts_df(
        spark,
        [(1, "2024-03-01T00:00:00", 1.0), (2, "2024-03-01T01:00:00", 2.0)],
        "k long, ts timestamp, v double",
    )
    src.append(df, verify=False)
    rows = src.count()

    clone = src.clone(str(tmp_path / "dev"))
    assert clone.count() == rows
    # zero-copy proof: every data file shares an inode with the source
    src_inodes = {
        os.stat(os.path.join(dp, f)).st_ino
        for dp, dns, fns in os.walk(src.root)
        if not any(part.startswith("_") for part in dp.split(os.sep))
        for f in fns
        if f.endswith(".parquet")
    }
    clone_files = [
        os.path.join(dp, f)
        for dp, dns, fns in os.walk(clone.root)
        if "_" not in os.path.relpath(dp, clone.root).split(os.sep)[0]
        for f in fns
        if f.endswith(".parquet") and "_maintenance" not in dp
    ]
    assert clone_files and all(
        os.stat(p).st_nlink >= 2 and os.stat(p).st_ino in src_inodes
        for p in clone_files
    )

    # isolation: append to the clone only
    clone.append(
        _ts_df(spark, [(3, "2024-03-01T02:00:00", 3.0)], "k long, ts timestamp, v double"),
        verify=False,
    )
    assert clone.count() == rows + 1 and src.count() == rows

    # the clone compacts (overwrites its partition); the source survives
    import datetime

    clone.compact_partitions(target_file_rows=10, before=datetime.date(2024, 3, 2))
    assert src.count() == rows and clone.count() == rows + 1

    # independent schema evolution
    clone.append(
        _ts_df(
            spark,
            [(4, "2024-03-01T03:00:00", 4.0, "x")],
            "k long, ts timestamp, v double, tag string",
        ),
        verify=False,
        evolve_schema=True,
    )
    assert "tag" in clone.read().columns and "tag" not in src.read().columns
    assert [r.op for r in clone.maintenance_log().collect()].count("clone_from") == 1


def test_delete_where_rewrites_only_matching_partitions(spark, tmp_path):
    """Row-level DELETE: only rows matching the predicate disappear, a
    fully-matched day's partition directory is dropped, untouched days'
    files are left byte-identical (no rewrite), re-running is a no-op,
    and the run is audit-logged with the deleted count."""
    wh = WarehouseTable(spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts")
    wh.append(
        _ts_df(
            spark,
            [
                (1, "2024-03-01T00:00:00", 10.0),
                (2, "2024-03-01T01:00:00", 99.0),   # matches
                (3, "2024-03-02T00:00:00", 99.0),   # matches (whole day)
                (4, "2024-03-03T00:00:00", 20.0),   # untouched day
            ],
            "k long, ts timestamp, v double",
        ),
        verify=False,
    )
    untouched = tmp_path / "wh" / "dt=2024-03-03"
    before_stats = {
        f: os.stat(untouched / f).st_mtime_ns for f in os.listdir(untouched)
    }

    assert wh.delete_where(F.col("v") == 99.0) == 2
    assert sorted(r.k for r in wh.read().collect()) == [1, 4]
    assert not (tmp_path / "wh" / "dt=2024-03-02").exists()  # emptied day dropped
    after_stats = {
        f: os.stat(untouched / f).st_mtime_ns for f in os.listdir(untouched)
    }
    assert after_stats == before_stats  # untouched partition not rewritten

    assert wh.delete_where(F.col("v") == 99.0) == 0  # idempotent
    log = wh.maintenance_log().filter("op = 'delete_where'").collect()
    assert sorted(r.n_rows for r in log) == [0, 2]


def test_file_listing_agrees_with_the_reader_after_rewrites(spark, tmp_path):
    """The table's one file listing is the set of files Spark reads:
    after appends (one widening the schema), a delete that empties a day
    and a compaction, ``data_files()`` equals the reader's input files,
    the per-partition counts add up to ``data_file_count()``, and the
    compaction kept every row and the widened column."""
    wh = WarehouseTable(spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts")
    ddl = "k long, ts timestamp, v double"
    for k in range(4):  # one file per append: days 1 and 2 get two each
        wh.append(
            _ts_df(spark, [(k, f"2024-03-0{1 + k % 2}T0{k}:00:00", float(k))], ddl),
            verify=False,
        )
    wh.append(
        _ts_df(spark, [(4, "2024-03-01T05:00:00", 4.0, "eu")], ddl + ", region string"),
        verify=False, evolve_schema=True,
    )
    wh.append(_ts_df(spark, [(5, "2024-03-03T00:00:00", 5.0)], ddl), verify=False)
    assert wh.delete_where(F.col("k") == 5) == 1        # empties 2024-03-03
    assert wh.partition_file_counts() == {"2024-03-01": 3, "2024-03-02": 2}
    assert wh.compact() == 2

    root = os.path.abspath(wh.root)
    read = sorted(
        os.path.relpath(uri.removeprefix("file:"), root)
        for uri in wh.read().inputFiles()
    )
    assert sorted(wh.data_files()) == read
    assert wh.data_file_count() == sum(wh.partition_file_counts().values())
    assert wh.partition_file_counts() == {"2024-03-01": 1, "2024-03-02": 1}
    assert sorted((r.k, r.region) for r in wh.read().collect()) == [
        (0, None), (1, None), (2, None), (3, None), (4, "eu"),
    ]


def test_time_travel_reads_every_version_back(spark, tmp_path):
    """Opt-in time travel: append → merge_replace → delete_where each
    commit a version; read_as_of(v) returns the table exactly as it was,
    INCLUDING rows whose files a later rewrite destroyed (the retained
    hardlink mirror), and versions() lists the history."""
    wh = WarehouseTable(
        spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts",
        track_versions=True,
    )
    ddl = "k long, ts timestamp, v double"
    wh.append(_ts_df(spark, [
        (1, "2024-03-01T00:00:00", 10.0),
        (2, "2024-03-01T01:00:00", 20.0),
        (3, "2024-03-02T00:00:00", 30.0),
    ], ddl), verify=False)                                  # v1
    wh.merge_replace(_ts_df(spark, [
        (2, "2024-03-01T01:00:00", 99.0),                   # correction
    ], ddl))                                                # v2
    wh.delete_where(F.col("k") == 1)                        # v3

    hist = {r.version: r.op for r in wh.versions().collect()}
    assert hist == {1: "append", 2: "merge_replace", 3: "delete_where"}

    def snap(v):
        return sorted(
            (r.k, r.v) for r in wh.read_as_of(v).select("k", "v").collect()
        )

    assert snap(1) == [(1, 10.0), (2, 20.0), (3, 30.0)]     # pre-correction
    assert snap(2) == [(1, 10.0), (2, 99.0), (3, 30.0)]     # post-correction
    assert snap(3) == [(2, 99.0), (3, 30.0)]                # post-delete
    assert snap(3) == sorted((r.k, r.v) for r in wh.read().select("k", "v").collect())


def test_time_travel_survives_compaction_and_vacuum_invalidates(spark, tmp_path):
    """compact_partitions rewrites files but old versions stay readable
    through the retained mirror; vacuum_versions drops old manifests and
    their unreferenced retained files, after which time travel to them
    fails loudly (the Delta VACUUM contract)."""
    import pytest as _pytest

    wh = WarehouseTable(
        spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts",
        track_versions=True,
    )
    ddl = "k long, ts timestamp, v double"
    for k in range(4):  # 4 appends → 4 files in one partition → v1..v4
        wh.append(_ts_df(
            spark, [(k, "2024-03-01T00:00:00", float(k))], ddl
        ), verify=False)
    import datetime
    wh.compact_partitions(
        target_file_rows=1000, before=datetime.date(2024, 3, 5)
    )                                                        # v5: 1 file
    assert wh.data_file_count() == 1
    # v2 predates the compaction: its files were rewritten away, but the
    # retained mirror still holds them
    assert sorted(r.k for r in wh.read_as_of(2).collect()) == [0, 1]
    assert {r.op for r in wh.versions().collect()} >= {"append", "compact_partitions"}

    removed = wh.vacuum_versions(keep_last=1)
    assert removed > 0                                      # mirror files freed
    with _pytest.raises(ValueError, match="vacuum|does not exist"):
        wh.read_as_of(2)
    # the surviving version still reads fine
    latest = max(r.version for r in wh.versions().collect())
    assert sorted(r.k for r in wh.read_as_of(latest).collect()) == [0, 1, 2, 3]


def test_time_travel_pins_pre_evolution_schema(spark, tmp_path):
    """A version committed before a schema widening reads back WITHOUT
    the later column — the manifest pins the schema of its time."""
    wh = WarehouseTable(
        spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts",
        track_versions=True,
    )
    wh.append(_ts_df(
        spark, [(1, "2024-03-01T00:00:00", 1.0)], "k long, ts timestamp, v double"
    ), verify=False)                                         # v1
    wh.append(
        _ts_df(spark, [(2, "2024-03-01T02:00:00", 2.0, "eu")],
               "k long, ts timestamp, v double, region string"),
        verify=False, evolve_schema=True,
    )                                                        # v2
    assert "region" not in wh.read_as_of(1).columns
    assert "region" in wh.read_as_of(2).columns
    assert wh.read_as_of(2).filter("k = 1").first().region is None


def test_untracked_table_pays_no_version_cost(spark, tmp_path):
    """Default tables write no _versions sidecar and read_as_of refuses."""
    import pytest as _pytest

    wh = WarehouseTable(spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts")
    wh.append(_ts_df(
        spark, [(1, "2024-03-01T00:00:00", 1.0)], "k long, ts timestamp, v double"
    ), verify=False)
    assert not os.path.isdir(str(tmp_path / "wh" / "_versions"))
    with _pytest.raises(ValueError, match="track_versions"):
        wh.read_as_of(1)


def test_changes_between_classifies_inserts_updates_deletes(spark, tmp_path):
    """The version CDF classifies all three op kinds and drops unchanged
    keys: appended keys are inserts, replaced values updates, deleted
    keys deletes — and a key untouched across the span is absent."""
    wh = WarehouseTable(
        spark, str(tmp_path / "wh"), keys=["k"], ts_col="ts",
        track_versions=True,
    )
    ddl = "k long, ts timestamp, v double"
    wh.append(_ts_df(spark, [
        (1, "2024-03-01T00:00:00", 10.0),
        (2, "2024-03-01T01:00:00", 20.0),
        (3, "2024-03-02T00:00:00", 30.0),   # untouched throughout
    ], ddl), verify=False)                                   # v1
    wh.merge_upsert(_ts_df(spark, [
        (4, "2024-03-02T02:00:00", 40.0),                    # new key
    ], ddl))                                                 # v2
    wh.merge_replace(_ts_df(spark, [
        (2, "2024-03-01T01:00:00", 99.0),                    # value change
    ], ddl))                                                 # v3
    wh.delete_where(F.col("k") == 1)                         # v4

    feed = {
        r.k: (r.op, r.old_v, r.new_v)
        for r in wh.changes_between(1, 4, compare_cols=["v"]).collect()
    }
    assert feed == {
        1: ("delete", 10.0, None),
        2: ("update", 20.0, 99.0),
        4: ("insert", None, 40.0),
    }
    assert 3 not in feed  # unchanged key dropped


def test_restore_rolls_back_zero_copy_and_preserves_later_versions(spark, tmp_path):
    """RESTORE to an old version reshapes the live tree from the retained
    mirror (no data rewrite), re-registers that version's schema, commits
    a NEW version (history is never rewritten) — and versions after the
    restore point remain readable, so you can restore forward again."""
    import pytest as _pytest

    wh = WarehouseTable(
        spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts",
        track_versions=True,
    )
    ddl = "k long, ts timestamp, v double"
    wh.append(_ts_df(spark, [
        (1, "2024-03-01T00:00:00", 10.0),
        (2, "2024-03-02T00:00:00", 20.0),
    ], ddl), verify=False)                                   # v1
    wh.merge_replace(_ts_df(spark, [
        (2, "2024-03-02T00:00:00", 99.0),
    ], ddl))                                                 # v2
    wh.append(
        _ts_df(spark, [(3, "2024-03-03T00:00:00", 30.0, "eu")],
               "k long, ts timestamp, v double, region string"),
        verify=False, evolve_schema=True,
    )                                                        # v3 (widened)

    n_files = wh.restore(1)                                  # v4
    assert n_files == wh.data_file_count()
    assert sorted((r.k, r.v) for r in wh.read().collect()) == [
        (1, 10.0), (2, 20.0),
    ]
    assert "region" not in wh.read().columns                 # schema narrowed
    hist = {r.version: r.op for r in wh.versions().collect()}
    assert hist[4] == "restore" and len(hist) == 4           # history intact

    # the pre-restore state (v3) is still readable AND restorable forward
    assert sorted(r.k for r in wh.read_as_of(3).collect()) == [1, 2, 3]
    wh.restore(3)                                            # v5
    assert sorted(r.k for r in wh.read().collect()) == [1, 2, 3]
    assert "region" in wh.read().columns                     # schema re-widened
    assert wh.read().filter("k = 2").first().v == 99.0       # v3's correction

    # a vacuumed target refuses loudly
    wh.vacuum_versions(keep_last=1)
    with _pytest.raises(ValueError, match="vacuum|does not exist"):
        wh.restore(1)


def test_version_machinery_model_checked_op_sequence(spark, tmp_path):
    """Model check: a seeded pseudo-random sequence of mutating ops
    (append / merge_replace / delete_where / compact / compact_partitions
    / restore) against a pure-Python model of the table. After every op,
    the live read matches the model; at the end, EVERY still-vacuumed-in
    version's read_as_of matches the model's snapshot for that version.
    One deterministic sequence (seeded) so CI cost is bounded and
    failures replay exactly."""
    import datetime
    import random

    rng = random.Random(0xC0FFEE)
    wh = WarehouseTable(
        spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts",
        track_versions=True,
    )
    ddl = "k long, ts timestamp, v double"
    days = ["2024-03-01", "2024-03-02", "2024-03-03"]

    model: dict[tuple, float] = {}          # (k, ts) -> v
    snapshots: dict[int, dict] = {}         # version -> model copy
    next_key = 0

    def ts_of(k):
        return f"{days[k % len(days)]}T{k % 24:02d}:00:00"

    def commit_snapshot():
        snapshots[max(
            r.version for r in wh.versions().collect()
        )] = dict(model)

    for step in range(12):
        op = rng.choice(["append", "replace", "delete", "compact", "restore"])
        if op == "append" or not model:
            rows = []
            for _ in range(rng.randint(1, 3)):
                rows.append((next_key, ts_of(next_key), float(next_key)))
                model[(next_key, ts_of(next_key))] = float(next_key)
                next_key += 1
            wh.append(_ts_df(spark, rows, ddl), verify=False)
            commit_snapshot()
        elif op == "replace":
            k, ts = rng.choice(sorted(model))
            newv = model[(k, ts)] + 100.0
            wh.merge_replace(_ts_df(spark, [(k, ts, newv)], ddl))
            model[(k, ts)] = newv
            commit_snapshot()
        elif op == "delete":
            k, ts = rng.choice(sorted(model))
            wh.delete_where(F.col("k") == k)
            for key in [key for key in model if key[0] == k]:
                del model[key]
            commit_snapshot()
        elif op == "compact":
            if step % 2:
                # commits a version only if some day held several files;
                # otherwise the latest version's snapshot is re-recorded
                # unchanged (the model did not move)
                wh.compact()
                commit_snapshot()
            else:
                n = wh.compact_partitions(
                    target_file_rows=10_000, before=datetime.date(2024, 3, 10)
                )
                if n:   # only commits a version if something rewrote
                    commit_snapshot()
        else:  # restore to a random committed version
            target = rng.choice(sorted(snapshots))
            wh.restore(target)
            model = dict(snapshots[target])
            commit_snapshot()

        live = {
            (r.k, r.ts.isoformat()): r.v
            for r in wh.read().select("k", "ts", "v").collect()
        }
        assert live == {
            (k, ts): v for (k, ts), v in model.items()
        }, f"live/model divergence after step {step} ({op})"

    # every committed version still reads back as its exact snapshot
    for version, snap in snapshots.items():
        got = {
            (r.k, r.ts.isoformat()): r.v
            for r in wh.read_as_of(version).select("k", "ts", "v").collect()
        }
        assert got == {(k, ts): v for (k, ts), v in snap.items()}, (
            f"version {version} drifted"
        )


def test_check_constraints_enforced_on_write(spark, tmp_path):
    """Delta-shaped CHECK constraints: registration proves existing data
    complies (and refuses otherwise); violating appends and corrections
    are rejected whole with the table unchanged; NULL predicate results
    pass (SQL CHECK tri-state); constraints survive a fresh handle and
    can be dropped."""
    import pytest as _pytest

    wh = WarehouseTable(spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts")
    ddl = "k long, ts timestamp, v double"
    wh.append(_ts_df(spark, [
        (1, "2024-03-01T00:00:00", 10.0),
        (2, "2024-03-01T01:00:00", 20.0),
    ], ddl), verify=False)

    # cannot register a constraint the existing data violates
    with _pytest.raises(ValueError, match="existing data"):
        wh.add_constraint("v_small", "v < 15")
    wh.add_constraint("v_positive", "v >= 0")
    wh.add_constraint("k_known", "k < 1000")

    # violating append: rejected whole, nothing lands
    with _pytest.raises(ValueError, match="v_positive"):
        wh.append(_ts_df(spark, [
            (3, "2024-03-01T02:00:00", 5.0),
            (4, "2024-03-01T03:00:00", -1.0),     # violator
        ], ddl), verify=False)
    assert wh.count() == 2

    # violating correction feed: rejected too
    with _pytest.raises(ValueError, match="v_positive"):
        wh.merge_replace(_ts_df(spark, [(1, "2024-03-01T00:00:00", -9.0)], ddl))
    assert wh.read().filter("k = 1").first().v == 10.0

    # NULL predicate result is NOT a violation (SQL CHECK tri-state)
    wh.append(_ts_df(spark, [(5, "2024-03-01T04:00:00", None)], ddl), verify=False)
    assert wh.count() == 3

    # constraints persist across handles; dropping re-opens the door
    fresh = WarehouseTable(spark, str(tmp_path / "wh"), keys=["k", "ts"], ts_col="ts")
    assert set(fresh.constraints()) == {"v_positive", "k_known"}
    fresh.drop_constraint("v_positive")
    fresh.append(_ts_df(spark, [(6, "2024-03-01T05:00:00", -2.0)], ddl), verify=False)
    assert fresh.count() == 4
    ops = [r.op for r in fresh.maintenance_log().collect()]
    assert "add_constraint" in ops and "drop_constraint" in ops


def test_stream_source_tails_appends_exactly_once(spark, tmp_path):
    """The warehouse is a streaming SOURCE, not just a sink: downstream
    streams tail appended rows incrementally, each checkpoint its own
    cursor, and a restart delivers nothing twice."""
    wh = WarehouseTable(spark, str(tmp_path / "wh"))
    base = clean_batch(read_observations_json(spark, FIXTURE))
    wh.append(base.filter(F.col("station_id") != "100005"))

    out: list = []

    def drain(ckpt):
        q = (
            wh.stream_source(maxFilesPerTrigger=1)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda bdf, _id: out.extend(
                (r["station_id"], r["timestamp"]) for r in bdf.collect()
            ))
            .start()
        )
        q.awaitTermination(120)

    ckpt = str(tmp_path / "ckpt")
    drain(ckpt)
    first = sorted(out)
    assert first == sorted(
        (r["station_id"], r["timestamp"]) for r in wh.read().collect()
    )

    # second append: the SAME checkpoint sees only the new rows
    out.clear()
    wh.append(base.filter(F.col("station_id") == "100005"))
    drain(ckpt)
    assert [s for s, _ in out] == ["100005"]

    # replay from the same checkpoint with no new data: nothing re-emitted
    out.clear()
    drain(ckpt)
    assert out == []

    # a second, independent consumer gets the full table from ITS cursor
    out.clear()
    drain(str(tmp_path / "ckpt2"))
    assert len(out) == wh.count()


def test_stream_source_guards_the_append_only_contract(spark, tmp_path):
    wh = WarehouseTable(spark, str(tmp_path / "wh"), track_versions=True)

    with pytest.raises(ValueError, match="registered schema"):
        wh.stream_source()  # nothing appended yet

    df = clean_batch(read_observations_json(spark, FIXTURE))
    wh.append(df)
    wh.stream_source()  # append-only history: fine

    wh.merge_replace(df.withColumn("temperature", F.col("temperature") + 1))
    with pytest.raises(ValueError, match="merge_replace"):
        wh.stream_source()
    # the documented idempotent-sink escape hatch still works
    assert wh.stream_source(enforce_append_only=False) is not None


def test_version_commit_detects_concurrent_writer(spark, tmp_path):
    """Optimistic concurrency on the version log: when two writers race
    to the same version slot, the loser raises instead of silently
    overwriting the winner's manifest (Delta's commit-conflict protocol,
    scoped honestly — plain parquet cannot roll the loser's data back)."""
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        ConcurrentWriteError,
    )

    wh = WarehouseTable(spark, str(tmp_path / "wh"), track_versions=True)
    df = clean_batch(read_observations_json(spark, FIXTURE))
    wh.append(df)  # v1

    # this writer computes its next version (2), then a rival lands v2
    # in the race window before the commit
    next_version = (wh._latest_version() or 0) + 1
    assert next_version == 2
    rival = wh._manifest_path(2)
    with open(rival, "w") as fh:
        json.dump({"version": 2, "op": "append", "files": [], "schema": None}, fh)

    with pytest.raises(ConcurrentWriteError, match="version 2"):
        wh._claim_version(
            {"version": next_version, "op": "append", "files": ["x"], "schema": None}
        )

    # the winner's manifest is intact — not last-write-win clobbered
    assert wh._manifest(2)["files"] == []
    # no orphaned temp manifests left behind by the losing commit
    leftovers = [f for f in os.listdir(wh._versions_dir()) if ".tmp" in f]
    assert leftovers == []


def test_merge_replace_and_delete_complete_on_a_microbatch_thread(spark, tmp_path):
    """Regression: driver-blocking Observation.get never completed when
    merge_replace's multi-branch observed plan ran on a foreachBatch
    micro-batch thread (caught by examples/medallion_fanout.py's gold
    consumer — the pipeline hung forever, no error). The mutation ops
    must work from ANY execution context, so their row-count contracts
    now ride checkpointed block counts instead of observation metrics."""
    wh = WarehouseTable(spark, str(tmp_path / "wh"))
    df = clean_batch(read_observations_json(spark, FIXTURE))
    wh.append(df)  # table must EXIST so merge_replace takes the full path

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "b.json").write_text(
        '{"station_id": "100001", "timestamp": "2024-03-01T00:00:00Z", '
        '"temperature": "99.0"}\n'
    )
    results: list = []

    def sink(batch, _id):
        cleaned = clean_batch(batch)
        results.append(("replaced", wh.merge_replace(cleaned)))
        results.append(
            ("deleted", wh.delete_where(F.col("station_id") == "100005"))
        )

    q = (
        read_json_file_stream(spark, str(indir))
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(sink)
        .start()
    )
    assert q.awaitTermination(300), "foreachBatch mutation hung (deadlock class)"
    assert q.exception() is None
    assert ("replaced", 1) in results and ("deleted", 1) in results
    temps = {
        r["station_id"]: r["temperature"] for r in wh.read().collect()
    }
    assert temps["100001"] == 99.0     # replaced through the stream
    assert "100005" not in temps        # deleted through the stream


def test_exclusive_writer_serializes_and_breaks_stale_locks(spark, tmp_path):
    """The advisory writer lock: a second writer fails fast while the
    lock is held, re-acquisition works after release, and a crashed
    writer's stale lock is broken instead of wedging the table forever."""
    from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
        ConcurrentWriteError,
    )

    root = str(tmp_path / "wh")
    writer_a = WarehouseTable(spark, root)
    writer_b = WarehouseTable(spark, root)  # a second process in spirit
    df = clean_batch(read_observations_json(spark, FIXTURE))

    with writer_a.exclusive_writer():
        writer_a.append(df)
        with pytest.raises(ConcurrentWriteError, match="locked by"):
            with writer_b.exclusive_writer():
                pass
    assert not os.path.exists(os.path.join(root, "_lock"))

    # released: the other writer acquires and mutates normally
    with writer_b.exclusive_writer():
        assert writer_b.delete_where(F.col("station_id") == "100005") == 1

    # crashed writer: lock dir left behind, owner mtime far in the past
    lock = os.path.join(root, "_lock")
    os.mkdir(lock)
    owner = os.path.join(lock, "owner.json")
    with open(owner, "w") as fh:
        json.dump({"pid": 1}, fh)
    old = 1_000_000_000
    os.utime(owner, (old, old))
    with writer_a.exclusive_writer():  # stale → broken → acquired
        pass
    assert not os.path.exists(lock)

    # a FRESH foreign lock is respected even after the stale dance
    os.mkdir(lock)
    with open(owner, "w") as fh:
        json.dump({"pid": 2}, fh)
    with pytest.raises(ConcurrentWriteError, match="locked by"):
        with writer_a.exclusive_writer():
            pass
    # the sidecar never leaks into scans
    assert "_lock" not in {f.rsplit("/", 1)[-1] for f in writer_a.read().inputFiles()}


def test_contract_monitor_empty_batch_reports_all_passed(spark, tmp_path):
    """An EMPTY micro-batch (zero-row shard — an idle poll in production)
    must land a report partition whose every check row says
    n_violations=0 / passed=True, never NULLs (SUM over zero rows is
    NULL; operators/expectations coalesces it away)."""
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.operators import (
        expectations as X,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_contract_monitor,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()
    (indir / "empty.json").write_text("")  # a zero-row shard
    os.utime(indir / "empty.json", (1_700_000_000, 1_700_000_000))

    schema = T.StructType([
        T.StructField("k", T.LongType(), True),
        T.StructField("v", T.DoubleType(), True),
    ])
    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    out = tmp_path / "reports"
    query = start_contract_monitor(
        source,
        str(out),
        str(tmp_path / "ckpt"),
        checks=[X.not_null("k"), X.accepted_range("v", 0.0, 100.0)],
        unique_key=["k"],
        available_now=True,
    )
    query.awaitTermination()

    rows = spark.read.option("basePath", str(out)).parquet(str(out)).collect()
    assert len(rows) == 3  # 2 row checks + the uniqueness check
    for r in rows:
        assert r.n_violations == 0 and r.passed, r


def test_streaming_dup_matrix_accumulates_across_restart(spark, tmp_path):
    """The cross-batch source-pair accumulator must (a) discover a pair
    whose members arrive in DIFFERENT drains (state survives restart),
    (b) never re-emit a pair on replay/late drains (exactly-once
    batch_id partitions), and (c) end with the batch MinHash pair graph
    over everything that landed."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_source_pair_matrix,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")

    def land(rows, name):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    def drain():
        schema = T.StructType(
            [
                T.StructField("doc_id", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
                T.StructField("source", T.StringType(), True),
            ]
        )
        query = start_source_pair_matrix(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(indir)),
            str(tmp_path / "state"),
            pairs_dir,
            str(tmp_path / "ckpt"),
            available_now=True,
        )
        query.awaitTermination()
        return spark.read.option("basePath", pairs_dir).parquet(pairs_dir)

    # drain 1: an intra-shard twin (src0 × src1)
    land(
        [
            {"doc_id": "1", "text": "alpha beta gamma delta", "source": "src0"},
            {"doc_id": "2", "text": "alpha beta gamma delta", "source": "src1"},
            {"doc_id": "3", "text": "epsilon zeta eta theta", "source": "src0"},
        ],
        "shard1.json",
    )
    first = {(r.doc_a, r.doc_b) for r in drain().collect()}
    assert first == {(1, 2)}

    # drain 2 (a RESTART: fresh query, same checkpoint): a twin of a doc
    # from drain 1 — the pair spans the restart boundary
    land(
        [
            {"doc_id": "4", "text": "epsilon zeta eta theta", "source": "src2"},
            {"doc_id": "5", "text": "iota kappa lambda mu", "source": "src2"},
        ],
        "shard2.json",
    )
    second = drain()
    got = {(r.doc_a, r.doc_b) for r in second.collect()}
    assert got == {(1, 2), (3, 4)}  # cross-restart pair found, (1,2) not re-emitted
    assert second.count() == 2  # no duplicate rows in the sink

    # (c) accumulated pair set == batch detector over everything landed
    batch_docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta theta"),
            (4, "epsilon zeta eta theta"),
            (5, "iota kappa lambda mu"),
        ],
        "doc_id long, text string",
    )
    expect = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(batch_docs, threshold=0.9).collect()
    }
    assert got == expect

    # per-pair jaccard rides the sink for the matrix aggregation
    j = {(r.doc_a, r.doc_b): r.jaccard for r in second.collect()}
    assert j[(1, 2)] == 1.0 and j[(3, 4)] == 1.0

def _srcpair_drain(spark, tmp_path, indir, pairs_dir):
    """One availableNow drain of the source-pair accumulator (the restart
    test's harness, shared by the failure-mode tests below)."""
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_source_pair_matrix,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    query = start_source_pair_matrix(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir)),
        str(tmp_path / "state"),
        pairs_dir,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    query.awaitTermination()
    return spark.read.option("basePath", pairs_dir).parquet(pairs_dir)


def test_streaming_dup_matrix_fails_loudly_on_corrupt_state(spark, tmp_path):
    """A NON-missing-path state-read failure must fail the batch (so the
    checkpoint retries it), never silently degrade to within-batch pairs.

    The r14 draft's first-batch probe caught bare ``Exception`` around the
    prior-state read, so a corrupt state partition shrank that epoch's
    pair graph with no error surfaced — and the exactly-once replay made
    the shrunken partition sticky (r14 verdict, "what's wrong" #1; ADVICE
    r15 medium). The narrowed probe checks path existence explicitly via
    the filesystem and lets every actual read error propagate: this test
    corrupts the committed bands state, lands a shard whose twin sits in
    that state, and asserts the drain RAISES and commits nothing for the
    failed epoch."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")

    with open(indir / "shard1.json", "w") as fh:
        fh.write(json.dumps(
            {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"}
        ) + "\n")
    assert _srcpair_drain(spark, tmp_path, indir, pairs_dir).count() == 0

    # corrupt EVERY committed bands-state data file (visible files only:
    # the probe rightly ignores hidden committer droppings; data files
    # sit under batch_id=*/pfx=*/ since the r16 pruned-state layout)
    bands_dir = tmp_path / "state" / "bands"
    corrupted = 0
    for part in bands_dir.glob("batch_id=*/**/*"):
        if part.is_file() and not part.name.startswith(("_", ".")):
            part.write_bytes(b"this is not a parquet file")
            corrupted += 1
    assert corrupted > 0, "no committed state files found to corrupt"

    with open(indir / "shard2.json", "w") as fh:
        fh.write(json.dumps(
            {"doc_id": "2", "text": "alpha beta gamma delta", "source": "s1"}
        ) + "\n")
    with pytest.raises(StreamingQueryException):
        _srcpair_drain(spark, tmp_path, indir, pairs_dir)

    # the failed epoch committed NO pairs partition: the (1, 2) twin pair
    # is neither present (it could not be verified against corrupt state)
    # nor silently replaced by an under-reported within-batch-only row
    remaining = (
        spark.read.option("basePath", pairs_dir).parquet(pairs_dir).collect()
    )
    assert remaining == []


def test_streaming_dup_matrix_treats_crashed_first_write_as_no_state(
    spark, tmp_path
):
    """The one case the old broad except was FOR — "no committed state
    yet" — must keep working when the state root EXISTS but holds only a
    crashed first write's hidden committer droppings (``_temporary``), so
    the explicit probe must look for visible data files, not bare
    directory existence."""
    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")

    for sub in ("bands", "docs"):
        droppings = tmp_path / "state" / sub / "batch_id=0" / "_temporary"
        droppings.mkdir(parents=True)
        (droppings / "part-00000").write_bytes(b"uncommitted")

    with open(indir / "shard1.json", "w") as fh:
        fh.write(json.dumps(
            {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"}
        ) + "\n")
        fh.write(json.dumps(
            {"doc_id": "2", "text": "alpha beta gamma delta", "source": "s1"}
        ) + "\n")
    got = {
        (r.doc_a, r.doc_b)
        for r in _srcpair_drain(spark, tmp_path, indir, pairs_dir).collect()
    }
    assert got == {(1, 2)}


def test_streaming_dup_matrix_ignores_redelivered_doc(spark, tmp_path):
    """A doc_id re-delivered in a later shard must not pair with its own
    earlier copy (no doc_a == doc_b self-pair — ADVICE r15), and a later
    true twin must still yield its pair exactly once even though the
    re-delivered doc now sits in the state under two batch_ids."""
    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")

    def land(name, rows):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    land("shard1.json", [
        {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"},
    ])
    assert _srcpair_drain(spark, tmp_path, indir, pairs_dir).count() == 0

    # the SAME doc lands again: without the x.doc != y.doc guard the
    # cross join emits (1, 1) with jaccard 1.0
    land("shard2.json", [
        {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"},
    ])
    assert _srcpair_drain(spark, tmp_path, indir, pairs_dir).count() == 0

    # a genuine twin arrives: doc 1 is in state twice (batch 0 AND 1),
    # but least/greatest + per-batch distinct keep the pair single
    land("shard3.json", [
        {"doc_id": "6", "text": "alpha beta gamma delta", "source": "s2"},
    ])
    rows = _srcpair_drain(spark, tmp_path, indir, pairs_dir).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 6)]

    # doc 1 re-delivered AFTER its pair was emitted: the new arrival
    # re-collides with doc 6 in the accumulated index, and without the
    # anti-join against the exactly-once pair sink the (1, 6) pair would
    # land a second time under this epoch's partition
    land("shard4.json", [
        {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"},
    ])
    rows = _srcpair_drain(spark, tmp_path, indir, pairs_dir).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 6)]


def test_streaming_embedding_near_dup_accumulates_across_restart(spark, tmp_path):
    """The embedding-side cross-batch accumulator (r15, the dense twin of
    the source-pair matrix) must (a) discover a pair whose members arrive
    in DIFFERENT drains, (b) never re-emit a pair on replay/late drains
    (exactly-once batch_id partitions), and (c) end with the batch LSH
    pair graph over everything that landed."""
    import pandas as pd
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        start_embedding_near_dup,
    )

    dim, n_planes, n_tables, threshold = 8, 4, 2, 0.9
    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    schema = T.StructType([
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ])

    def vec(axis, eps=0.0):
        v = [0.0] * dim
        v[axis] = 1.0
        v[(axis + 1) % dim] = eps
        return v

    def land(rows, name):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["vec_id", "embedding"]), schema
        ).coalesce(1).write.mode("append").parquet(str(indir))
        # one file per land() call → one micro-batch per new file

    def drain():
        query = start_embedding_near_dup(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir)),
            str(tmp_path / "state"),
            pairs_dir,
            str(tmp_path / "ckpt"),
            threshold=threshold,
            n_planes=n_planes,
            n_tables=n_tables,
            dim=dim,
            available_now=True,
        )
        query.awaitTermination()
        return spark.read.option("basePath", pairs_dir).parquet(pairs_dir)

    # drain 1: an intra-shard twin (1, 2) plus a loner on another axis
    land([(1, vec(0)), (2, vec(0, eps=0.01)), (3, vec(3))], "s1")
    first = {(r.id_a, r.id_b) for r in drain().collect()}
    assert first == {(1, 2)}

    # drain 2 (a RESTART: fresh query, same checkpoint): a twin of doc 3
    # from drain 1 — the pair spans the restart boundary — plus a loner
    land([(4, vec(3, eps=0.01)), (5, vec(6))], "s2")
    second = drain()
    got = {(r.id_a, r.id_b) for r in second.collect()}
    assert got == {(1, 2), (3, 4)}
    assert second.count() == 2  # (1, 2) not re-emitted

    # (c) accumulated pair set == batch detector over everything landed
    batch = spark.createDataFrame(
        pd.DataFrame(
            [(1, vec(0)), (2, vec(0, eps=0.01)), (3, vec(3)),
             (4, vec(3, eps=0.01)), (5, vec(6))],
            columns=["vec_id", "embedding"],
        ),
        schema,
    )
    expect = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            batch, threshold=threshold, n_planes=n_planes,
            n_tables=n_tables, dim=dim,
        ).collect()
    }
    assert got == expect

    # verified cosine rides the sink, rounded identically to the batch op
    sims = {(r.id_a, r.id_b): r.cos_sim for r in second.collect()}
    assert sims[(1, 2)] >= threshold and sims[(3, 4)] >= threshold

    # vec 3 re-delivered AFTER its pair was emitted: it re-collides with
    # vec 4 in the accumulated index; the anti-join against the
    # exactly-once pair sink must keep the pair union duplicate-free
    land([(3, vec(3))], "s3")
    third = drain()
    assert sorted((r.id_a, r.id_b) for r in third.collect()) == [(1, 2), (3, 4)]


def _state_partition_names(root):
    return sorted(
        p.name for p in root.glob("batch_id=*")
        if any(
            f.is_file() and not f.name.startswith(("_", "."))
            for f in p.glob("**/*")
        )
    )


def test_streaming_dup_matrix_compaction_preserves_pairs(spark, tmp_path):
    """compact_pair_matrix_state (r16): folding the per-epoch state +
    pair partitions into one base each must (a) preserve the pair graph
    a LATER drain accumulates against — a twin arriving after the fold
    still finds its partner through the compacted index — (b) leave
    exactly one base partition per dir, (c) be idempotent, and (d) the
    final pair set must equal the batch detector over everything landed
    (compacted ≡ uncompacted)."""
    from data_engineering_datawarehousingandetlpipeline_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        compact_pair_matrix_state,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")

    def land(name, rows):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    # two drains → two epochs of state (an intra-batch twin in the first)
    land("shard1.json", [
        {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"},
        {"doc_id": "2", "text": "alpha beta gamma delta", "source": "s1"},
    ])
    _srcpair_drain(spark, tmp_path, indir, pairs_dir)
    land("shard2.json", [
        {"doc_id": "3", "text": "epsilon zeta eta theta", "source": "s0"},
    ])
    _srcpair_drain(spark, tmp_path, indir, pairs_dir)

    folded = compact_pair_matrix_state(
        spark, str(tmp_path / "state"), pairs_dir, str(tmp_path / "ckpt")
    )
    assert folded["bands"] == 2 and folded["docs"] == 2, folded
    # exactly one (base) partition per state dir after the fold
    assert _state_partition_names(tmp_path / "state" / "bands") == ["batch_id=-1"]
    assert _state_partition_names(tmp_path / "state" / "docs") == ["batch_id=-1"]
    # idempotent: nothing left to fold
    refold = compact_pair_matrix_state(
        spark, str(tmp_path / "state"), pairs_dir, str(tmp_path / "ckpt")
    )
    assert not any(refold.values()), refold

    # a twin of doc 3 arrives AFTER the fold: the pair must be found
    # through the compacted index, exactly once
    land("shard3.json", [
        {"doc_id": "4", "text": "epsilon zeta eta theta", "source": "s2"},
    ])
    got = {
        (r.doc_a, r.doc_b)
        for r in _srcpair_drain(spark, tmp_path, indir, pairs_dir).collect()
    }
    batch_docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "epsilon zeta eta theta"), (4, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    expect = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(batch_docs, threshold=0.9).collect()
    }
    assert got == expect == {(1, 2), (3, 4)}

    # second fold absorbs the base + the new epoch (bands/docs: 2 each)
    refold = compact_pair_matrix_state(
        spark, str(tmp_path / "state"), pairs_dir, str(tmp_path / "ckpt")
    )
    assert refold["bands"] == 2 and refold["docs"] == 2, refold
    # base ids descend monotonically (fresh dir every fold — the write
    # target is never also an input, the superset-invariant precondition)
    assert _state_partition_names(tmp_path / "state" / "bands") == ["batch_id=-2"]
    # pair rows unchanged by the folds
    final = {
        (r.doc_a, r.doc_b)
        for r in spark.read.option("basePath", pairs_dir)
        .parquet(pairs_dir).collect()
    }
    assert final == expect


def test_streaming_dup_matrix_compaction_dedups_redelivered_state(
    spark, tmp_path
):
    """Key-only dedup in the fold is lossless under the same-payload
    contract: a doc_id re-delivered across epochs sits in state under
    two batch_ids; after compaction it must occupy ONE state row, and a
    later twin must still pair with it exactly once."""
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        compact_pair_matrix_state,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")

    def land(name, rows):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    land("shard1.json", [
        {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"},
    ])
    _srcpair_drain(spark, tmp_path, indir, pairs_dir)
    # the SAME doc re-delivered in a later epoch
    land("shard2.json", [
        {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"},
    ])
    _srcpair_drain(spark, tmp_path, indir, pairs_dir)

    compact_pair_matrix_state(
        spark, str(tmp_path / "state"), pairs_dir, str(tmp_path / "ckpt")
    )
    docs_state = spark.read.option(
        "basePath", str(tmp_path / "state" / "docs")
    ).parquet(str(tmp_path / "state" / "docs"))
    assert docs_state.count() == 1  # one row for doc 1, not two

    land("shard3.json", [
        {"doc_id": "6", "text": "alpha beta gamma delta", "source": "s2"},
    ])
    rows = _srcpair_drain(spark, tmp_path, indir, pairs_dir).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 6)]


def test_streaming_dup_matrix_readers_tolerate_duplicate_partitions(
    spark, tmp_path
):
    """The fold's crash contract is the SUPERSET invariant: a crash
    between the base write and the input deletes leaves DUPLICATE state
    partitions, never missing rows. Simulate that window by copying the
    compacted base back in as a stale positive partition: the next drain
    must still emit a duplicate-free pair graph, and the next fold must
    clean the leftovers up."""
    import shutil

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        compact_pair_matrix_state,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")

    def land(name, rows):
        with open(indir / name, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")

    land("shard1.json", [
        {"doc_id": "1", "text": "alpha beta gamma delta", "source": "s0"},
    ])
    _srcpair_drain(spark, tmp_path, indir, pairs_dir)
    land("shard1b.json", [
        {"doc_id": "2", "text": "epsilon zeta eta theta", "source": "s1"},
    ])
    _srcpair_drain(spark, tmp_path, indir, pairs_dir)
    compact_pair_matrix_state(
        spark, str(tmp_path / "state"), pairs_dir, str(tmp_path / "ckpt")
    )
    # crashed-fold simulation: the folded input partition was never
    # deleted (batch_id=0 duplicates the batch_id=-1 base)
    for sub in ("bands", "docs"):
        root = tmp_path / "state" / sub
        shutil.copytree(root / "batch_id=-1", root / "batch_id=0")

    # twins of BOTH docs arrive: each pair must land exactly once even
    # though every prior-state row now exists twice
    land("shard2.json", [
        {"doc_id": "3", "text": "alpha beta gamma delta", "source": "s2"},
        {"doc_id": "4", "text": "epsilon zeta eta theta", "source": "s2"},
    ])
    rows = _srcpair_drain(spark, tmp_path, indir, pairs_dir).collect()
    assert sorted((r.doc_a, r.doc_b) for r in rows) == [(1, 3), (2, 4)]

    # the next fold completes the crashed cleanup idempotently
    folded = compact_pair_matrix_state(
        spark, str(tmp_path / "state"), pairs_dir, str(tmp_path / "ckpt")
    )
    assert folded["bands"] >= 2 and folded["docs"] >= 2
    assert _state_partition_names(tmp_path / "state" / "bands") == ["batch_id=-2"]


def test_prior_state_scan_prunes_to_prefixes(spark, tmp_path):
    """The r16 state layout's point: a prior-state read restricted to
    the new shard's key prefixes must PRUNE at the partition level —
    the pfx filter shows up in the scan's PartitionFilters, so state
    files outside the shard's collision set are never opened."""
    import re

    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        _read_prior_state,
    )

    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    with open(indir / "shard1.json", "w") as fh:
        for i in range(20):
            fh.write(json.dumps({
                "doc_id": str(i),
                "text": f"word{i} token{i} item{i} thing{i}",
                "source": "s0",
            }) + "\n")
    _srcpair_drain(spark, tmp_path, indir, pairs_dir)

    bands_dir = str(tmp_path / "state" / "bands")
    pruned = _read_prior_state(spark, bands_dir, 99, pfx_in=[0, 1])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^]]*pfx", plan), plan
    # and the prune is real: only the named prefixes' rows come back
    assert {r.pfx for r in pruned.select("pfx").distinct().collect()} <= {0, 1}
    full = _read_prior_state(spark, bands_dir, 99)
    assert pruned.count() < full.count()


def test_embedding_state_compaction_preserves_pairs(spark, tmp_path):
    """compact_embedding_state (r16): the dense twin of the
    source-pair fold — compacted state must serve a post-fold twin's
    pair discovery, the fold must be idempotent, and the final pair set
    must equal the batch detector (compacted ≡ uncompacted)."""
    import pandas as pd
    from pyspark.sql import types as T

    from data_engineering_datawarehousingandetlpipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.pipeline import (
        compact_embedding_state,
        start_embedding_near_dup,
    )

    dim, n_planes, n_tables, threshold = 8, 4, 2, 0.9
    indir = tmp_path / "incoming"
    indir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    schema = T.StructType([
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ])

    def vec(axis, eps=0.0):
        v = [0.0] * dim
        v[axis] = 1.0
        v[(axis + 1) % dim] = eps
        return v

    def land(rows):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["vec_id", "embedding"]), schema
        ).coalesce(1).write.mode("append").parquet(str(indir))

    def drain():
        query = start_embedding_near_dup(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(indir)),
            str(tmp_path / "state"),
            pairs_dir,
            str(tmp_path / "ckpt"),
            threshold=threshold,
            n_planes=n_planes,
            n_tables=n_tables,
            dim=dim,
            available_now=True,
        )
        query.awaitTermination()
        return spark.read.option("basePath", pairs_dir).parquet(pairs_dir)

    land([(1, vec(0)), (2, vec(0, eps=0.01))])
    drain()
    land([(3, vec(3))])
    drain()

    folded = compact_embedding_state(
        spark, str(tmp_path / "state"), pairs_dir, str(tmp_path / "ckpt")
    )
    assert folded["buckets"] == 2 and folded["vecs"] == 2, folded
    assert _state_partition_names(tmp_path / "state" / "vecs") == ["batch_id=-1"]
    refold = compact_embedding_state(
        spark, str(tmp_path / "state"), pairs_dir, str(tmp_path / "ckpt")
    )
    assert not any(refold.values()), refold

    # a twin of vec 3 arrives AFTER the fold
    land([(4, vec(3, eps=0.01))])
    got = {(r.id_a, r.id_b) for r in drain().collect()}
    batch = spark.createDataFrame(
        pd.DataFrame(
            [(1, vec(0)), (2, vec(0, eps=0.01)), (3, vec(3)),
             (4, vec(3, eps=0.01))],
            columns=["vec_id", "embedding"],
        ),
        schema,
    )
    expect = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            batch, threshold=threshold, n_planes=n_planes,
            n_tables=n_tables, dim=dim,
        ).collect()
    }
    assert got == expect == {(1, 2), (3, 4)}
