"""Stateful streaming: watermark late-data semantics + cross-batch sessions.

Micro-batch order is forced with ``maxFilesPerTrigger=1`` so the watermark
computed from batch N governs batch N+1 — the cross-batch behaviors under
test (late-row drop, session continuation) are deterministic.
"""

from __future__ import annotations

import itertools
import json
import os

from data_engineering_datawarehousingandetlpipeline_spark.streaming.stateful import (
    stateful_sessions,
    windowed_stats,
)

_MTIME = itertools.count(1_700_000_000, 60)

OBS_DDL = (
    "station_id string, timestamp timestamp, temperature double"
)
EVENTS_DDL = "user_id long, ts timestamp"


def _write(path, rows):
    with open(path, "w") as fh:
        for row in rows:
            fh.write(json.dumps(row) + "\n")
    # widely-spaced mtimes → deterministic file (and thus batch) order
    stamp = next(_MTIME)
    os.utime(path, (stamp, stamp))


def _drain_append(stream_df, name):
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_windowed_stats_drops_late_rows(spark, tmp_path):
    indir = tmp_path / "obs"
    indir.mkdir()
    _write(indir / "b1.json", [
        {"station_id": "A", "timestamp": "2024-03-01T10:00:00Z", "temperature": 1.0},
        {"station_id": "A", "timestamp": "2024-03-01T10:10:00Z", "temperature": 3.0},
        {"station_id": "A", "timestamp": "2024-03-01T12:00:00Z", "temperature": 5.0},
    ])
    # filler batch: the operative watermark lags one batch behind the
    # reported one, so a batch must run while wm=11:30 before late rows drop
    _write(indir / "b2.json", [
        {"station_id": "A", "timestamp": "2024-03-01T12:30:00Z", "temperature": 6.0},
    ])
    # 10:20 is behind the watermark (12:00 − 30 min): its window is closed
    # and finalized — the row must be dropped, not re-aggregated.
    _write(indir / "b3.json", [
        {"station_id": "A", "timestamp": "2024-03-01T10:20:00Z", "temperature": 100.0},
    ])

    source = (
        spark.readStream.schema(OBS_DDL)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    q = _drain_append(windowed_stats(source), "win_stats")

    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1

    rows = spark.sql(
        "SELECT window_start, n_obs, avg_temperature FROM win_stats"
    ).collect()
    finalized = {r["window_start"].isoformat(): r for r in rows}
    # the 10:00 window finalized WITHOUT the late 100.0 reading
    assert finalized["2024-03-01T10:00:00"]["n_obs"] == 2
    assert finalized["2024-03-01T10:00:00"]["avg_temperature"] == 2.0


def test_stateful_sessions_close_across_batches(spark, tmp_path):
    indir = tmp_path / "events"
    indir.mkdir()
    # user 1: two events in batch 1, then a 2 h gap event in batch 2 →
    # the first session must close during batch 2 (state crossed batches).
    # user 2: an in-batch gap → closes within batch 1.
    _write(indir / "b1.json", [
        {"user_id": 1, "ts": "2024-03-01T10:00:00Z"},
        {"user_id": 1, "ts": "2024-03-01T10:10:00Z"},
        {"user_id": 2, "ts": "2024-03-01T09:00:00Z"},
        {"user_id": 2, "ts": "2024-03-01T13:00:00Z"},
    ])
    _write(indir / "b2.json", [
        {"user_id": 1, "ts": "2024-03-01T12:10:00Z"},
    ])

    source = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    _drain_append(stateful_sessions(source, gap_seconds=30 * 60), "sessions")

    rows = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM sessions"
    ).collect()
    closed = {
        (r["user_id"], r["session_start"].isoformat()): r for r in rows
    }
    # user 1's first session closed by the batch-2 event
    u1 = closed[(1, "2024-03-01T10:00:00")]
    assert u1["session_end"].isoformat() == "2024-03-01T10:10:00"
    assert u1["n_events"] == 2
    # user 2's first session closed inside batch 1
    u2 = closed[(2, "2024-03-01T09:00:00")]
    assert u2["n_events"] == 1
    # open sessions (u1 @12:10, u2 @13:00) are state, not output
    assert len(rows) == 2


def test_drop_duplicates_within_watermark_across_batches(spark, tmp_path):
    """Streaming dedup (D3's modern form): replays inside the watermark
    horizon are dropped even when they arrive in a later micro-batch."""
    indir = tmp_path / "dup_events"
    indir.mkdir()
    _write(indir / "b1.json", [
        {"user_id": 1, "ts": "2024-03-01T10:00:00Z"},
        {"user_id": 2, "ts": "2024-03-01T10:01:00Z"},
    ])
    # exact replay of user 1's event in the next batch + one new event
    _write(indir / "b2.json", [
        {"user_id": 1, "ts": "2024-03-01T10:00:00Z"},
        {"user_id": 3, "ts": "2024-03-01T10:02:00Z"},
    ])

    source = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    deduped = source.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "ts"]
    )
    _drain_append(deduped, "dedup_stream")

    rows = spark.sql("SELECT user_id, ts FROM dedup_stream").collect()
    assert sorted(r["user_id"] for r in rows) == [1, 2, 3]  # replay dropped


def test_stateful_sessions_merge_within_gap(spark, tmp_path):
    indir = tmp_path / "events2"
    indir.mkdir()
    _write(indir / "b1.json", [{"user_id": 7, "ts": "2024-03-01T10:00:00Z"}])
    # within the gap → extends the open session, nothing closes
    _write(indir / "b2.json", [{"user_id": 7, "ts": "2024-03-01T10:20:00Z"}])
    # beyond the gap → closes one 2-event session spanning both batches
    _write(indir / "b3.json", [{"user_id": 7, "ts": "2024-03-01T15:00:00Z"}])

    source = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    _drain_append(stateful_sessions(source, gap_seconds=30 * 60), "sessions2")

    rows = spark.sql("SELECT * FROM sessions2").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["session_start"].isoformat() == "2024-03-01T10:00:00"
    assert r["session_end"].isoformat() == "2024-03-01T10:20:00"
    assert r["n_events"] == 2


def test_stateful_sessions_distant_straggler_closes_alone(spark, tmp_path):
    """A cross-batch event that PRECEDES the open session by more than the
    gap can never belong to it — it must close immediately as its own
    singleton session, not silently widen the open session's start."""
    indir = tmp_path / "events4"
    indir.mkdir()
    _write(indir / "b1.json", [
        {"user_id": 5, "ts": "2024-03-01T10:00:00Z"},
        {"user_id": 5, "ts": "2024-03-01T10:20:00Z"},
    ])
    # 2 h before the open session's start → own session, emitted at once
    _write(indir / "b2.json", [{"user_id": 5, "ts": "2024-03-01T08:00:00Z"}])
    # beyond the gap after 10:20 → closes the [10:00, 10:20] session
    _write(indir / "b3.json", [{"user_id": 5, "ts": "2024-03-01T15:00:00Z"}])

    source = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    _drain_append(stateful_sessions(source, gap_seconds=30 * 60), "sessions4")

    rows = spark.sql("SELECT * FROM sessions4").collect()
    got = {
        (r["session_start"].isoformat(), r["session_end"].isoformat(), r["n_events"])
        for r in rows
    }
    assert got == {
        ("2024-03-01T08:00:00", "2024-03-01T08:00:00", 1),
        ("2024-03-01T10:00:00", "2024-03-01T10:20:00", 2),
    }


def test_stateful_sessions_out_of_order_never_shrinks(spark, tmp_path):
    """A cross-batch event OLDER than the stored last_ts (events are only
    sorted within a batch) must not move the open session's end backward —
    otherwise later gap decisions are made against a corrupted bound."""
    indir = tmp_path / "events3"
    indir.mkdir()
    _write(indir / "b1.json", [{"user_id": 9, "ts": "2024-03-01T10:20:00Z"}])
    # older than last_ts, within the gap → merges, bounds widen only
    _write(indir / "b2.json", [{"user_id": 9, "ts": "2024-03-01T10:05:00Z"}])
    # 25 min after the TRUE end 10:20 (but 40 min after 10:05): with a
    # corrupted end this would close the session; correctly it extends it.
    _write(indir / "b3.json", [{"user_id": 9, "ts": "2024-03-01T10:45:00Z"}])
    # far beyond the gap → closes the one merged session
    _write(indir / "b4.json", [{"user_id": 9, "ts": "2024-03-01T15:00:00Z"}])

    source = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    _drain_append(stateful_sessions(source, gap_seconds=30 * 60), "sessions3")

    rows = spark.sql("SELECT * FROM sessions3").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["session_start"].isoformat() == "2024-03-01T10:05:00"
    assert r["session_end"].isoformat() == "2024-03-01T10:45:00"
    assert r["n_events"] == 3


def test_stateful_scd2_skips_malformed_records(spark, tmp_path):
    """NULL timestamps / attributes must be SKIPPED, not crash the query
    or drag valid_from to the int64 epoch floor (NaT microseconds); a
    NULL order value sorts as 0 instead of raising on int(NaN)."""
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.stateful import (
        stateful_scd2,
    )

    indir = tmp_path / "scd2null"
    indir.mkdir()
    _write(indir / "b1.json", [
        {"user_id": 1, "event_id": 1, "ts": "2024-03-01T10:00:00Z",
         "event_type": "a"},
        {"user_id": 1, "event_id": None, "ts": "2024-03-01T11:00:00Z",
         "event_type": "a"},
        {"user_id": 1, "event_id": 3, "ts": None, "event_type": "b"},
        {"user_id": 1, "event_id": 4, "ts": "2024-03-01T12:00:00Z",
         "event_type": None},
        {"user_id": 1, "event_id": 5, "ts": "2024-03-01T13:00:00Z",
         "event_type": "b"},
    ])
    source = spark.readStream.schema(
        "user_id long, event_id long, ts timestamp, event_type string"
    ).json(str(indir))
    _drain_append(stateful_scd2(source), "scd2null")
    rows = spark.sql("SELECT * FROM scd2null").collect()
    # only the NULL-free 'a' run closed (by the valid event_id=5 'b');
    # its bounds come from the two good 'a' rows, not the NaT row
    assert len(rows) == 1
    (v1,) = rows
    assert (v1.version, v1.state, v1.n_events) == (1, "a", 2)
    assert v1.valid_from.isoformat() == "2024-03-01T10:00:00"
    assert v1.valid_to.isoformat() == "2024-03-01T13:00:00"


# ---------------- property: micro-batch partitioning invariance ----------

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _obs_and_splits(draw):
    n = draw(st.integers(min_value=0, max_value=40))
    obs = sorted(
        (
            draw(st.integers(min_value=0, max_value=10**7)),
            i,
            draw(st.sampled_from(["a", "b", "c"])),
        )
        for i in range(n)
    )
    cuts = draw(
        st.lists(st.integers(min_value=0, max_value=n), max_size=6).map(sorted)
    )
    return obs, cuts


@settings(max_examples=200, deadline=None)
@given(_obs_and_splits())
def test_scd2_fold_is_batch_split_invariant(case):
    """ANY in-order micro-batch partitioning of a key's stream must emit
    exactly the single-batch history and land in the same open state —
    the property that makes the streaming build equal the batch build no
    matter how shards chop the stream. Also: versions dense from 1,
    intervals chain half-open, event counts conserve."""
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.stateful import (
        fold_scd2_observations,
    )

    obs, cuts = case
    one_closed, one_state = fold_scd2_observations(obs, None)

    state = None
    split_closed = []
    for lo, hi in zip([0, *cuts], [*cuts, len(obs)]):
        closed, state = fold_scd2_observations(obs[lo:hi], state)
        split_closed.extend(closed)
    assert split_closed == one_closed
    assert state == one_state

    versions = [c[0] for c in one_closed]
    assert versions == list(range(1, len(one_closed) + 1))
    for (v1, s1, a1, b1, n1), (_v2, s2, a2, _b2, _n2) in zip(
        one_closed, one_closed[1:]
    ):
        assert b1 == a2  # valid_to chains to the successor's valid_from
        assert s1 != s2
        assert a1 <= b1
    if obs:
        open_n = one_state[3]
        assert sum(c[4] for c in one_closed) + open_n == len(obs)


def test_heartbeat_alarms_equal_batch_silence_report(spark, tmp_path):
    """The streaming heartbeat replayed over the real events table with
    its watermark advanced to the anchored W must fire EXACTLY the rows
    the batch ``silence_report`` query states — the oracle-equivalence
    contract that puts a checkable surface behind the one operator that
    fires on data ABSENCE. (r7 verdict, marching order 4.)"""
    from data_engineering_datawarehousingandetlpipeline_spark.plans import (
        all_queries,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.plans.analytics import (
        SILENCE_SECONDS,
        SILENCE_WATERMARK,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.sources.readers import (
        load_table,
    )
    from data_engineering_datawarehousingandetlpipeline_spark.streaming.stateful import (
        stateful_heartbeat,
    )

    sf_dir = "/root/testdata/sf0.001"
    wm = SILENCE_WATERMARK.replace(" ", "T")
    from pyspark.sql import functions as F

    seen = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") <= F.lit(SILENCE_WATERMARK).cast("timestamp"))
        .select("user_id", "ts")
        .collect()
    )
    indir = tmp_path / "events"
    indir.mkdir()
    # batch 1: every event the watermark has seen (watermark only updates
    # AFTER a batch, so intra-batch disorder drops nothing); batch 2: a
    # sentinel at exactly W advances the watermark to W; batch 3: a second
    # sentinel event triggers the post-watermark batch where timeouts fire
    # (the sentinel user itself stays active — last_seen == W).
    _write(
        indir / "shard1.json",
        [
            {"user_id": r.user_id, "ts": r.ts.isoformat()}
            for r in seen
        ],
    )
    _write(indir / "shard2.json", [{"user_id": -1, "ts": wm}])
    _write(indir / "shard3.json", [{"user_id": -1, "ts": wm}])

    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    _drain_append(
        stateful_heartbeat(stream, silence_seconds=SILENCE_SECONDS), "hb_equiv"
    )
    fired = {
        r.user_id: r
        for r in spark.sql("SELECT * FROM hb_equiv").collect()
        if r.user_id != -1
    }

    report = {
        r.user_id: r
        for r in all_queries()["silence_report"].fn(spark, sf_dir).collect()
    }
    assert set(fired) == set(report)
    assert len(report) > 0  # non-degenerate: the anchor really cuts
    for uid, want in report.items():
        got = fired[uid]
        assert got.last_seen == want.last_seen, uid
        assert got.silent_at == want.silent_at, uid
        assert got.n_events == want.n_events, uid
