"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY §2.11 / task brief: "applyInPandasWithState for custom
stateful operators").

``sessionize_stream`` is the cross-batch sessionizer: per-key session
state (start, last-seen, count) lives in the streaming state store and
survives micro-batch boundaries — a session that spans three batches
emits once, when a gap or a processing-time timeout closes it. The
batch-mode q51 sessionization is the same semantics over a static
frame; this is its live form. Arrival-time gap logic, no event-time
watermark — matching the engine's (and the reference's) last-writer
arrival-order model.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("session_start", LongType()),
        StructField("session_end", LongType()),
        StructField("n_events", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("count", LongType()),
    ]
)


def make_sessionizer(gap_sec: int, timeout_ms: int = 0):
    """The per-group state function. Factored out of the stream wiring
    so its logic is unit-testable with plain pandas frames + a fake
    GroupState (the streaming harness test injects batches instead)."""
    gap = gap_sec

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        closed: list[tuple[str, int, int, int]] = []
        if state.hasTimedOut:
            if state.exists:
                start, last, count = state.get
                closed.append((key[0], start, last, count))
            state.remove()
        else:
            ts_all: list[int] = []
            for pdf in pdfs:
                ts_all.extend(int(t) for t in pdf["ts"])
            ts_all.sort()
            if state.exists:
                start, last, count = state.get
            else:
                start = last = count = None
            for t in ts_all:
                if start is None:
                    start, last, count = t, t, 1
                elif t - last > gap:
                    closed.append((key[0], start, last, count))
                    start, last, count = t, t, 1
                else:
                    last, count = t, count + 1
            if start is not None:
                state.update((start, last, count))
                if timeout_ms:
                    state.setTimeoutDuration(timeout_ms)
        if closed:
            yield pd.DataFrame(
                closed, columns=["key", "session_start", "session_end", "n_events"]
            )

    return fn


def sessionize_stream(
    events: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    gap_sec: int = 30,
    timeout_ms: int = 0,
) -> DataFrame:
    """events(key, ts[long]) stream → closed sessions stream.

    Sessions close when the next event for the key arrives more than
    ``gap_sec`` after the previous one, or (with ``timeout_ms`` > 0)
    when no event arrives for that long in processing time — the idle
    flush that makes the last session of a quiet key eventually emit.
    State is per-key and bounded (three longs), so the state store
    scales with live keys, not with events.
    """
    from pyspark.sql import functions as F

    keyed = events.select(
        F.col(key_col).cast("string").alias("key"), F.col(ts_col).cast("long").alias("ts")
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_ms else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("key").applyInPandasWithState(
        make_sessionizer(gap_sec, timeout_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


# --- streaming exact dedup: emit each key's row once across batches ---

DEDUP_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("first_ts", LongType()),
        StructField("n_dups", LongType()),
    ]
)

_DEDUP_STATE = StructType(
    [
        StructField("first_ts", LongType()),
        StructField("seen", LongType()),
    ]
)


def make_deduper(emit_updates: bool = False):
    """Cross-batch exact dedup: the first arrival of a key is emitted,
    later arrivals only bump the duplicate counter (and re-emit the
    running count when ``emit_updates``). State per key is two longs —
    bounded by live keys, not traffic. This is the streaming form of
    q30's hash-groupBy dedup: at 100 TB the content hash is the key, so
    the state store holds one entry per *distinct* document."""

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        n_new = 0
        min_ts = None
        for pdf in pdfs:
            n_new += len(pdf)
            if len(pdf):
                m = int(pdf["ts"].min())
                min_ts = m if min_ts is None else min(min_ts, m)
        if n_new == 0:
            return
        if state.exists:
            first_ts, seen = state.get
            state.update((first_ts, seen + n_new))
            if emit_updates:
                yield pd.DataFrame(
                    [(key[0], first_ts, seen + n_new - 1)],
                    columns=["key", "first_ts", "n_dups"],
                )
        else:
            state.update((min_ts, n_new))
            yield pd.DataFrame(
                [(key[0], min_ts, n_new - 1)], columns=["key", "first_ts", "n_dups"]
            )

    return fn


def dedup_stream(
    events: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    emit_updates: bool = False,
) -> DataFrame:
    """events(key, ts[long]) stream → first-arrival-per-key stream.

    Unlike ``dropDuplicates`` on a stream (which needs a watermark to
    bound its state and silently re-admits keys after eviction), this
    keeps explicit per-key state and reports the duplicate count — the
    live form of the exact-dedup batch operator."""
    from pyspark.sql import functions as F

    keyed = events.select(
        F.col(key_col).cast("string").alias("key"), F.col(ts_col).cast("long").alias("ts")
    )
    return keyed.groupBy("key").applyInPandasWithState(
        make_deduper(emit_updates),
        outputStructType=DEDUP_SCHEMA,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming rate-anomaly scoring (the live form of q121) --------------


def make_anomaly_scorer():
    """Per-event-type state = the sufficient statistics (D, S, S2) of
    q121's integer z-test, merged across micro-batches — O(1) state per
    key regardless of history length. Batches deliver finalized
    (day, n) buckets (the upstream daily rollup); each batch first
    merges ALL its buckets into the stats, then tests each incoming
    bucket against the updated stats ((c·D − S)² > 4·(D·S2 − S²)) and
    emits the anomalies. One batch carrying the whole history is
    therefore exactly batch q121; incremental feeds score each bucket
    against everything seen so far (prequential semantics — a
    retroactive re-flag of old buckets is a batch job, not a stream)."""

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        rows: list[tuple[str, int]] = []
        for pdf in pdfs:
            rows.extend((str(day), int(n)) for day, n in zip(pdf["day"], pdf["n"]))
        if state.exists:
            d, s, s2 = state.get
        else:
            d = s = s2 = 0
        for _, n in rows:
            d, s, s2 = d + 1, s + n, s2 + n * n
        state.update((d, s, s2))
        out = []
        for day, n in rows:
            dev = n * d - s
            var4 = 4 * (d * s2 - s * s)
            if dev * dev > var4:
                out.append(
                    (key[0], day, n, dev * dev, var4,
                     "spike" if dev > 0 else "dip")
                )
        if out:
            yield pd.DataFrame(
                out,
                columns=["event_type", "day", "n", "dev2", "var4", "direction"],
            )

    return fn

