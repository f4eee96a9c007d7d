"""Event-driven live file watching (reference:
python/cocoindex/connectors/localfs/_source.py:198-244 — a watchdog
observer feeds per-path refresh events into the live component).

Two backends behind one interface:

- **watchdog** (import-gated; not in this container): the OS's
  inotify/FSEvents stream pushed into a queue by the observer thread.
- **snapshot diff** (always available): each ``poll()`` lists the tree
  (O(listing) — stat metadata only, no content reads) and diffs
  against the previous snapshot, emitting created/modified/deleted
  events for exactly the changed paths.

Either way the OUTPUT is an event batch, and ``watch_sync`` turns each
batch into a *partial* sync whose blast radius is the changed paths
only — deleted files ride the tombstone column — unlike
``auto_refresh`` (streaming/live.py), which re-reconciles the full
snapshot every round. At 100 TB of files the difference is a sync
proportional to the edit, not to the corpus.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from cocoindex_spark.engine.app import App, SyncStats
from cocoindex_spark.session import local_frame
from cocoindex_spark.sinks.table import TableTarget

CREATED, MODIFIED, DELETED = "created", "modified", "deleted"


@dataclass(frozen=True)
class FileEvent:
    path: str  # relative to the watch root
    kind: str  # created | modified | deleted


def scan_snapshot(root: str) -> dict[str, tuple[float, int]]:
    """path → (mtime, size) for every regular file under root."""
    out: dict[str, tuple[float, int]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            full = os.path.join(dirpath, name)
            try:
                st = os.stat(full)
            except OSError:
                continue  # vanished mid-walk: the next poll sees it
            out[os.path.relpath(full, root)] = (st.st_mtime, st.st_size)
    return out


def diff_snapshots(
    old: dict[str, tuple[float, int]], new: dict[str, tuple[float, int]]
) -> list[FileEvent]:
    events: list[FileEvent] = []
    for path, meta in new.items():
        prev = old.get(path)
        if prev is None:
            events.append(FileEvent(path, CREATED))
        elif prev != meta:
            events.append(FileEvent(path, MODIFIED))
    for path in old:
        if path not in new:
            events.append(FileEvent(path, DELETED))
    return sorted(events, key=lambda e: e.path)


def watchdog_available() -> bool:
    try:
        import watchdog.observers  # noqa: F401

        return True
    except ImportError:
        return False


class FileWatcher:
    """Drainable event source for a directory tree.

    ``poll()`` returns the events since the previous call, coalesced to
    one event per path (latest state wins — the same per-key coalescing
    rule the live sync applies to streams).
    """

    def __init__(self, root: str, backend: str | None = None):
        self.root = root
        if backend is None:
            backend = "watchdog" if watchdog_available() else "snapshot"
        if backend not in ("watchdog", "snapshot"):
            raise ValueError(f"unknown watch backend: {backend!r}")
        self.backend = backend
        self._snapshot = scan_snapshot(root)
        if backend == "watchdog":
            self._start_observer()

    # -- watchdog backend -------------------------------------------------
    def _start_observer(self) -> None:
        import queue

        from watchdog.events import FileSystemEventHandler
        from watchdog.observers import Observer

        self._queue: queue.Queue = queue.Queue()
        q = self._queue
        root = self.root

        class Handler(FileSystemEventHandler):
            def on_any_event(self, event):
                if event.is_directory:
                    return
                kind = {
                    "created": CREATED,
                    "modified": MODIFIED,
                    "deleted": DELETED,
                    "moved": MODIFIED,
                }.get(event.event_type)
                if kind:
                    q.put(FileEvent(os.path.relpath(event.src_path, root), kind))

        self._observer = Observer()
        self._observer.schedule(Handler(), root, recursive=True)
        self._observer.start()

    def stop(self) -> None:
        if self.backend == "watchdog":
            self._observer.stop()
            self._observer.join()

    def poll(self) -> list[FileEvent]:
        if self.backend == "watchdog":
            events: dict[str, FileEvent] = {}
            while not self._queue.empty():
                e = self._queue.get_nowait()
                events[e.path] = e  # latest per path wins
            return sorted(events.values(), key=lambda e: e.path)
        new = scan_snapshot(self.root)
        events_l = diff_snapshots(self._snapshot, new)
        self._snapshot = new
        return events_l


def events_to_batch(
    spark: SparkSession, root: str, events: list[FileEvent]
) -> DataFrame:
    """(path, content, tombstone) rows for a partial sync: deleted
    paths carry tombstone=True and NULL content; created/modified paths
    read their bytes (only the changed files are ever opened). A file
    deleted between the event and this read is gone, so it becomes a
    tombstone too: deleting its rows is what the next event would do."""
    rows = []
    for e in events:
        content = None
        if e.kind != DELETED:
            try:
                with open(os.path.join(root, e.path), "rb") as f:
                    content = f.read()
            except FileNotFoundError:
                pass
        rows.append((e.path, content, content is None))
    return local_frame(spark, rows, "path STRING, content BINARY, tombstone BOOLEAN")


def watch_sync(
    app: App,
    watcher: FileWatcher,
    transform: Callable[[DataFrame], DataFrame],
    target: TableTarget,
    spark: SparkSession | None = None,
    rounds: int = 1,
    sleep_sec: float = 0.0,
) -> list[SyncStats]:
    """Drive ``rounds`` watch→sync cycles: each cycle drains the
    watcher and runs ONE partial sync over exactly the changed paths
    (tombstones delete). Rounds with no events run nothing at all."""
    import time

    spark = spark or app.spark
    all_stats: list[SyncStats] = []
    for i in range(rounds):
        events = watcher.poll()
        if events:
            batch = events_to_batch(spark, watcher.root, events)
            all_stats.append(
                app.sync_table(
                    batch, ["path"], transform, target, tombstone_col="tombstone"
                )
            )
        if sleep_sec and i + 1 < rounds:
            time.sleep(sleep_sec)
    return all_stats
