"""Stateful streaming operators: watermarked windows, custom sessions,
streaming SCD2, and event-time-timeout heartbeats.

Capabilities beyond the ingestion pipeline (SURVEY.md §2.8):

- :func:`windowed_stats` — the reference's tumbling-hour cadence (T5,
  ``dags/fmi_weather_dag.py:17``) as a *streaming* aggregation:
  ``withWatermark`` bounds state and drops late data (the reference's
  watermark store, T2, drops rows older than per-station max-ts; the
  Spark watermark generalizes that to bounded lateness with the state
  store evicting closed windows — at 100 TB/day the state size stays
  O(open windows × stations), not O(history)).
- :func:`stateful_sessions` — a custom stateful operator the built-in
  surface can't express: gap-based sessionization with cross-batch state,
  via Arrow-batched ``applyInPandasWithState``. State per key is one open
  session (constant size); closed sessions are emitted as soon as the gap
  is observed. This is the pattern any bespoke accumulating operator
  (dedup-by-key, running top-k, anomaly trackers) plugs into.
- :func:`stateful_scd2` — the Type-2 dimension build run incrementally
  (one open version per key in state; closed versions stream out).
- :func:`stateful_heartbeat` — liveness monitoring via the state store's
  EVENT-TIME TIMEOUT: fires on the absence of data, which no
  row-triggered operator can express, and replays deterministically
  because the alarm clock is the watermark, not wall time.

All run identically under ``trigger(availableNow)`` (scheduled drain) and
processing-time triggers (continuous) — the cadence is deployment config,
not operator logic.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: default session gap (seconds) — same constant the batch sessionization
#: query uses, so batch and streaming sessions agree.
DEFAULT_GAP_SECONDS = 30 * 60

SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events int"
)
#: state: open session as epoch-µs bounds + event count (constant size).
SESSION_STATE_SCHEMA = "session_start long, last_ts long, n_events int"


def windowed_stats(
    source: DataFrame,
    ts_col: str = "timestamp",
    key_col: str = "station_id",
    value_col: str = "temperature",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window aggregate with bounded-lateness watermark.

    Late rows older than ``watermark`` behind the max observed event time
    are dropped and their window's state is evicted once the window closes
    — the streaming replacement for the reference's drop-older-than-max
    filter (kafka_stream.py:269-273), with an explicit lateness bound
    instead of an implicit per-key max. The average is decimal-anchored
    (``davg``) so the result is identical under any partitioning or
    micro-batch split — which also makes it oracle-comparable.
    """
    from data_engineering_datawarehousingandetlpipeline_spark.functions.numeric import (
        davg,
    )

    return (
        source.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_obs"),
            F.round(davg(F.col(value_col), wide=True), 6).alias(f"avg_{value_col}"),
            F.max(value_col).alias(f"max_{value_col}"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_obs",
            f"avg_{value_col}",
            f"max_{value_col}",
        )
    )


def _epoch_us(pdfs: Iterator[pd.DataFrame], ts_col: str) -> list[int]:
    """Every ``ts_col`` value of the batches as epoch µs (integer math from
    here on), from datetime64 of any unit."""
    return [
        int(v) // 1_000
        for pdf in pdfs
        for v in pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]").astype("int64")
    ]


def stateful_sessions(
    events: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization with cross-batch state (custom operator).

    Each key carries exactly one open session in the state store; an event
    more than ``gap_seconds`` after the session's last event closes it
    (emitted) and opens a new one. Sessions therefore close correctly even
    when their events span many micro-batches — the property the batch
    ``lag``-window sessionization cannot provide on an unbounded stream.

    Arrow moves whole record batches into Python (``applyInPandasWithState``),
    so per-event work is a vectorized pandas pass, not row-at-a-time Python.
    """
    gap_us = int(gap_seconds) * 1_000_000

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ts_us = sorted(_epoch_us(pdfs, ts_col))
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed: list[tuple[int, int, int]] = []
        for t in ts_us:
            if last is None:
                start, last, n = t, t, 1
            elif t < start - gap_us:
                # a cross-batch straggler that PRECEDES the open session by
                # more than the gap can never belong to it; with one open
                # session of state it closes immediately as a singleton
                # (the bounded-state compromise — batch sessionization over
                # fully sorted data would have placed it in its own earlier
                # session, possibly merging with neighbors we no longer hold).
                closed.append((t, t, 1))
            elif t - last > gap_us:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                # events are sorted within a batch but a later batch can
                # deliver one older than the stored last_ts — merging must
                # never move the open session's bounds backward.
                start = min(start, t)
                last = max(last, t)
                n += 1
        state.update((start, last, n))
        if closed:
            yield pd.DataFrame(
                [
                    (
                        key[0],
                        pd.Timestamp(s, unit="us"),
                        pd.Timestamp(e, unit="us"),
                        c,
                    )
                    for s, e, c in closed
                ],
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


HEARTBEAT_OUTPUT_SCHEMA = (
    "user_id bigint, last_seen timestamp, silent_at timestamp, n_events int"
)
#: state: last observed event time (epoch µs) + running event count.
HEARTBEAT_STATE_SCHEMA = "last_ts long, n_events int"


def stateful_heartbeat(
    events: DataFrame,
    silence_seconds: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Silence detection: emit a row when a key stops sending events.

    The inverse of every other operator here — it fires on the ABSENCE of
    data, which only the state store's event-time timeout can express: no
    incoming row exists to hang the logic on. Each key's state carries
    its last event time; ``setTimeoutTimestamp(last + silence)`` arms the
    alarm, and when the WATERMARK (not wall clock — replays behave
    identically) passes it with no new event, the update function runs
    with ``hasTimedOut`` and emits ``(user, last_seen, silent_at,
    n_events)``, clearing the state. A new event before the deadline
    simply re-arms it.

    This is the heartbeat/liveness monitor an ingestion fleet runs over
    its producers (the reference polls a wall-clock scheduler instead —
    dags/fmi_weather_dag.py — which cannot replay). State is one row per
    ACTIVE key and self-cleans on silence — strictly bounded. Timeouts
    fire during the first micro-batch after the watermark passes the
    deadline; on an availableNow drain that can be the next scheduled
    drain, which is exactly the reference's hourly-cadence shape (T5).

    **Late-data trade of the ``0 seconds`` default**: the stateful
    operator only sees rows at-or-after the watermark, so with a zero
    delay ANY out-of-order event across micro-batch boundaries is
    silently dropped before ``update`` runs — undercounting ``n_events``,
    leaving ``last_seen`` at the newer (already-seen) timestamp, and — if
    a key's ONLY events arrive behind the watermark — never registering
    the key at all. The default suits in-order sources (one producer per
    key, monotone file drains); for out-of-order sources pass a nonzero
    ``watermark`` covering the expected disorder (e.g. ``"10 minutes"``),
    which delays silence alarms by the same bound — the standard
    completeness-vs-latency trade.
    """
    silence_us = int(silence_seconds) * 1_000_000

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    (
                        key[0],
                        pd.Timestamp(last, unit="us"),
                        pd.Timestamp(last + silence_us, unit="us"),
                        n,
                    )
                ],
                columns=["user_id", "last_seen", "silent_at", "n_events"],
            )
            return
        ts_us = _epoch_us(pdfs, ts_col)
        last, n = state.get if state.exists else (0, 0)
        last = max([last, *ts_us])
        n += len(ts_us)
        state.update((last, n))
        # epoch ms for the state store's alarm clock
        state.setTimeoutTimestamp((last + silence_us) // 1_000)
        return

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            HEARTBEAT_OUTPUT_SCHEMA,
            HEARTBEAT_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


SCD2_OUTPUT_SCHEMA = (
    "user_id bigint, version int, state string, valid_from timestamp, "
    "valid_to timestamp, n_events int"
)
#: state: the one OPEN version per key (constant size); valid_from in
#: epoch µs. The open version's end is always the CLOSING observation's
#: timestamp (the batch ``lead()`` semantics), so no last-seen field
#: needs persisting.
SCD2_STATE_SCHEMA = "version int, state string, valid_from long, n_events int"


def fold_scd2_observations(
    obs: list[tuple[int, int, str]],
    state: tuple[int, str | None, int | None, int] | None,
) -> tuple[list[tuple[int, str, int, int, int]], tuple]:
    """Pure run-length version fold — the whole SCD2 state machine.

    ``obs``: SORTED (ts_µs, order, attr) observations for one key;
    ``state``: the open version ``(version, attr, valid_from_µs,
    n_events)`` or None. Returns (closed versions as (version, attr,
    valid_from, valid_to, n_events), new open state). Extracted from the
    streaming closure so the batch-split-invariance property — any
    in-order micro-batch partitioning emits identical history — is
    testable without a streaming harness (hypothesis test in
    tests/test_stateful_streaming.py).
    """
    if state is not None:
        ver, cur, vf, n = state
    else:
        ver, cur, vf, n = 0, None, None, 0
    closed: list[tuple[int, str, int, int, int]] = []
    for t, _o, s in obs:
        if cur is None:
            ver, cur, vf, n = 1, s, t, 1
        elif s == cur:
            vf = min(vf, t)
            n += 1
        else:
            closed.append((ver, cur, vf, max(t, vf), n))
            ver, cur, vf, n = ver + 1, s, t, 1
    return closed, (ver, cur, vf, n)


def stateful_scd2(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    attr_col: str = "event_type",
    order_col: str | None = "event_id",
) -> DataFrame:
    """Cross-batch SCD Type-2 run-length versioning (custom operator).

    The streaming form of the batch ``scd2_user_state`` build
    (plans/analytics.py): each key's state store holds exactly ONE open
    version (attribute value, version number, interval bounds, event
    count); an observation with a different attribute CLOSES the open
    version — emitted with ``valid_to`` = the new observation's timestamp,
    the same half-open chaining the batch ``lead()`` produces — and opens
    the next. Versions therefore close correctly even when a run spans
    many micro-batches, and state is O(keys), never O(history).

    Ordering contract: events are sorted by ``(ts, order_col)`` WITHIN
    each batch — the same tiebreak the batch build uses, so same-instant
    observations version identically on both paths;
    ACROSS batches the operator relies on per-key arrival order, which is
    the transport's guarantee (a user-keyed Kafka topic preserves per-key
    order; the reference's consumer relies on the same property). A
    same-attribute straggler is absorbed into the open version with its
    bounds extended backward; a differing-attribute event always closes
    the open version at ``max(ts, open valid_from)`` so emitted intervals
    never invert even under a violated contract. Malformed records (NULL
    timestamp or NULL attribute) are SKIPPED — NaT microseconds would
    silently drag ``valid_from`` to the int64 epoch floor, and the
    required-field filter (P3) is the upstream contract that removes
    them; a NULL order value sorts as 0.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        obs: list[tuple[int, int, str]] = []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]")
            keep = ts.notna() & pdf[attr_col].notna()
            pdf = pdf[keep]
            ts_us = ts[keep].astype("int64") // 1_000
            order = (
                pdf[order_col].fillna(0)
                if order_col is not None and order_col in pdf.columns
                else [0] * len(pdf)
            )
            obs.extend(
                (int(t), int(o), s)
                for t, o, s in zip(ts_us, order, pdf[attr_col])
            )
        obs.sort()
        closed, new_state = fold_scd2_observations(
            obs, state.get if state.exists else None
        )
        state.update(new_state)
        if closed:
            yield pd.DataFrame(
                [
                    (
                        key[0],
                        v,
                        s,
                        pd.Timestamp(a, unit="us"),
                        pd.Timestamp(b, unit="us"),
                        c,
                    )
                    for v, s, a, b, c in closed
                ],
                columns=[
                    "user_id",
                    "version",
                    "state",
                    "valid_from",
                    "valid_to",
                    "n_events",
                ],
            )

    return events.groupBy(user_col).applyInPandasWithState(
        update,
        SCD2_OUTPUT_SCHEMA,
        SCD2_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
