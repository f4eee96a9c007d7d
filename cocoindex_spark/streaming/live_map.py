"""LiveMap — the in-memory keyed map that is both an engine target and
a live view (reference: python/cocoindex/resources/live_map.py:218-313).

Producers sync INTO the map (a pipeline stage declares entries through
the normal ``App.sync_table`` reconcile, so ownership applies: an entry
exists while some live component declares it and disappears when its
declarer does — live_map.py:105-140 entry handler). Consumers either
take a snapshot DataFrame (``to_df``) to feed the next stage — the
stage-decoupling pattern ``mount_each`` consumes — or ``watch`` a
subscriber for snapshot-then-changes delivery.

Faithful semantics carried over:

- **`==` gate** (live_map.py:166-186): re-declaring an entry with an
  equal value notifies nobody — the apply path compares before it
  mutates.
- **Single active watch** (live_map.py:284-287): a second concurrent
  ``watch`` raises.
- **Seq gate** (live_map.py:288-305): the change queue is armed BEFORE
  the initial snapshot, so a change landing in between is both queued
  and snapshotted; at drain time changes with ``seq <= snapshot_seq``
  are dropped instead of re-notifying the consumer.

Spark-first shape: the map holds DRIVER-side state, exactly like the
reference holds process-local state — this is a control-plane resource
(work lists, routing tables, per-tenant configs), not a data-plane
sink. The engine only ever sends the reconciled DELTA to ``apply``,
so the collect volume is ∝ changes; the snapshot DataFrame
is parallelized back out for the consuming stage to process at scale.
"""

from __future__ import annotations

import threading
from collections import deque
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cocoindex_spark.session import local_frame
from cocoindex_spark.sinks import Target

_MISSING = object()


class LiveMapSubscriber:
    """Protocol for ``LiveMap.watch`` consumers (reference
    coco.LiveMapSubscriber): override any subset."""

    def update_all(self, live_map: "LiveMap") -> None:  # initial snapshot
        for key, value in live_map.items():
            self.update(key, value)

    def mark_ready(self) -> None:  # catch-up parity barrier
        pass

    def update(self, key: Any, value: Any) -> None:
        pass

    def delete(self, key: Any) -> None:
        pass


class _Watch:
    """Active watch handle: ``pump()`` drains queued changes to the
    subscriber (the batch-engine spelling of the reference's async
    drain loop); ``close()`` releases the single-watch slot."""

    def __init__(self, live_map: "LiveMap", subscriber: LiveMapSubscriber):
        self._map = live_map
        self._sub = subscriber

    def pump(self) -> int:
        """Deliver queued changes; returns how many were delivered
        (seq-gated duplicates are dropped, not delivered)."""
        return self._map._drain(self._sub)

    def close(self) -> None:
        self._map._close_watch()


class LiveMap(Target):
    """TableTarget-contract keyed map. ``pk`` may be multiple columns;
    the entry key is the pk value (scalar for a single pk column,
    tuple otherwise) and the entry value is the tuple of the remaining
    schema columns, in schema order."""

    def __init__(self, name: str, pk: list[str], schema: StructType):
        self.name = name
        self.pk = pk
        self.schema = schema
        self._value_cols = [f.name for f in schema.fields if f.name not in pk]
        self._entries: dict[Any, tuple] = {}
        self._lock = threading.Lock()
        self._seq = 0
        self._queue: deque | None = None
        self._watch_scan_seq: int | None = None

    # ---- engine target contract ----------------------------------------
    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """Both channels under one lock hold, upserts first; the
        version is unused."""
        ups = [] if upserts is None else upserts.select(*self.pk, *self._value_cols).collect()
        dels = [] if deletes is None else deletes.select(*self.pk).collect()
        with self._lock:
            for r in ups:
                key = self._key_of(r)
                value = tuple(r[c] for c in self._value_cols)
                prev = self._entries.get(key, _MISSING)
                if prev is _MISSING or prev != value:  # the `==` gate
                    self._entries[key] = value
                    self._seq += 1
                    self._emit((key, value, False, self._seq))
            for r in dels:
                key = self._key_of(r)
                if key in self._entries:
                    del self._entries[key]
                    self._seq += 1
                    self._emit((key, None, True, self._seq))

    def read(self, spark: SparkSession) -> DataFrame:
        return self.to_df(spark)

    # ---- live view -------------------------------------------------------
    def items(self) -> list[tuple[Any, tuple]]:
        """Snapshot (key, value) list; records the watcher's snapshot
        seq on the first scan after a watch armed its queue
        (live_map.py:274-283)."""
        with self._lock:
            snapshot = list(self._entries.items())
            if self._queue is not None and self._watch_scan_seq is None:
                self._watch_scan_seq = self._seq
        return snapshot

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Current entries as a DataFrame — the hand-off a consuming
        ``sync_table``/``mount_each`` stage reads as its source."""
        rows = [
            tuple(k if isinstance(k, tuple) else (k,)) + v
            for k, v in self.items()
        ]
        cols = list(self.pk) + self._value_cols
        out_schema = StructType([self.schema[c] for c in cols])
        return local_frame(spark, rows, out_schema)

    def watch(self, subscriber: LiveMapSubscriber) -> _Watch:
        """Arm the queue, deliver the initial snapshot, mark ready, and
        return the pump handle. One active watch at a time."""
        with self._lock:
            if self._queue is not None:
                raise RuntimeError(
                    "LiveMap supports a single active watch() at a time."
                )
            # Arm BEFORE the snapshot: a change landing in between is
            # queued AND snapshotted; the seq gate drops it at drain.
            self._queue = deque()
            self._watch_scan_seq = None
        subscriber.update_all(self)
        subscriber.mark_ready()
        return _Watch(self, subscriber)

    # ---- internals -------------------------------------------------------
    def _key_of(self, row) -> Any:
        if len(self.pk) == 1:
            return row[self.pk[0]]
        return tuple(row[c] for c in self.pk)

    def _emit(self, change: tuple) -> None:
        if self._queue is not None:
            self._queue.append(change)

    def _drain(self, subscriber: LiveMapSubscriber) -> int:
        delivered = 0
        while True:
            with self._lock:
                if not self._queue:
                    return delivered
                key, value, deleted, seq = self._queue.popleft()
                gate = self._watch_scan_seq
            if gate is not None and seq <= gate:
                continue  # already reflected in the initial snapshot
            if deleted:
                subscriber.delete(key)
            else:
                subscriber.update(key, value)
            delivered += 1

    def _close_watch(self) -> None:
        with self._lock:
            self._queue = None
            self._watch_scan_seq = None
