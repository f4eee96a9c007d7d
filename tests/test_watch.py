"""Event-driven file watching (streaming/watch.py): snapshot-diff
events, per-event blast radius (partial sync + tombstone deletes), and
the watchdog backend gate (reference localfs/_source.py:198-244)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cocoindex_spark.engine.app import App
from cocoindex_spark.engine.function import fn
from cocoindex_spark.streaming.watch import (
    CREATED,
    DELETED,
    MODIFIED,
    FileEvent,
    FileWatcher,
    diff_snapshots,
    events_to_batch,
    watch_sync,
    watchdog_available,
)


def test_diff_snapshots_pure():
    old = {"a.txt": (1.0, 5), "b.txt": (1.0, 3)}
    new = {"a.txt": (2.0, 6), "c.txt": (1.0, 1)}
    got = diff_snapshots(old, new)
    assert got == [
        FileEvent("a.txt", MODIFIED),
        FileEvent("b.txt", DELETED),
        FileEvent("c.txt", CREATED),
    ]


def _write(root, rel, data):
    full = os.path.join(root, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    with open(full, "w") as f:
        f.write(data)


@fn(memo=True)
def _enrich(df):
    return df.select(
        "__args_fp",
        "__component_path",
        F.col("path").alias("k"),
        F.upper(F.decode(F.col("content"), "UTF-8")).alias("v"),
    )


def test_watch_sync_blast_radius(spark, tmp_state):
    """Each watch round syncs ONLY the changed paths: a 1-file edit is
    a 1-recompute partial sync; a delete rides the tombstone."""
    root = os.path.join(tmp_state, "tree")
    os.makedirs(root)
    _write(root, "a.txt", "hello")
    _write(root, "sub/b.txt", "world")

    app = App("watch", state_dir=tmp_state, spark=spark)
    target = app.target(f"{tmp_state}/out", ["k"], "k STRING, v STRING")
    watcher = FileWatcher(root, backend="snapshot")

    # The constructor snapshot saw both files — no events yet; make the
    # initial state by rewinding to an empty baseline.
    watcher._snapshot = {}
    s1 = watch_sync(app, watcher, _enrich, target, spark=spark)
    assert len(s1) == 1 and s1[0].inserts == 2
    got = {r["k"]: r["v"] for r in target.read(spark).collect()}
    assert got == {"a.txt": "HELLO", "sub/b.txt": "WORLD"}

    # idle round: no events ⇒ no sync at all (zero Spark jobs)
    assert watch_sync(app, watcher, _enrich, target, spark=spark) == []

    # one edit ⇒ one-path partial sync
    _write(root, "a.txt", "hello!")
    s2 = watch_sync(app, watcher, _enrich, target, spark=spark)
    assert len(s2) == 1 and s2[0].memo_misses == 1 and s2[0].updates == 1
    assert s2[0].deletes == 0  # partial scope: untouched paths untouched

    # delete ⇒ tombstone cascade, still single-path scope
    os.remove(os.path.join(root, "sub/b.txt"))
    s3 = watch_sync(app, watcher, _enrich, target, spark=spark)
    assert len(s3) == 1 and s3[0].deletes == 1 and s3[0].memo_misses == 0
    assert {r["k"] for r in target.read(spark).collect()} == {"a.txt"}
    app.drop()


def test_file_gone_before_batch_read_becomes_tombstone(spark, tmp_state):
    """A created or modified file deleted before the batch reads it is
    a tombstone, not a FileNotFoundError, and the partial sync deletes
    its rows."""
    root = os.path.join(tmp_state, "tree")
    os.makedirs(root)
    _write(root, "a.txt", "hello")
    _write(root, "b.txt", "world")

    app = App("watch_gone", state_dir=tmp_state, spark=spark)
    target = app.target(f"{tmp_state}/out", ["k"], "k STRING, v STRING")
    watcher = FileWatcher(root, backend="snapshot")
    watcher._snapshot = {}
    watch_sync(app, watcher, _enrich, target, spark=spark)

    _write(root, "b.txt", "world, edited")
    _write(root, "c.txt", "new")
    events = watcher.poll()
    assert events == [FileEvent("b.txt", MODIFIED), FileEvent("c.txt", CREATED)]
    os.remove(os.path.join(root, "b.txt"))
    os.remove(os.path.join(root, "c.txt"))

    batch = events_to_batch(spark, root, events)
    assert sorted(batch.collect()) == [("b.txt", None, True), ("c.txt", None, True)]
    stats = app.sync_table(batch, ["path"], _enrich, target, tombstone_col="tombstone")
    assert stats.deletes == 1
    assert {r["k"] for r in target.read(spark).collect()} == {"a.txt"}
    app.drop()


def test_watchdog_backend_gate(tmp_state):
    """The real OS-event backend constructs when watchdog is installed;
    in this container it is absent, so the gate must say so and the
    explicit backend must fail loudly (never a silent fallback)."""
    root = os.path.join(tmp_state, "tree")
    os.makedirs(root)
    if not watchdog_available():
        with pytest.raises(ImportError):
            FileWatcher(root, backend="watchdog")
        # auto-selection degrades to the snapshot differ
        assert FileWatcher(root).backend == "snapshot"
        return
    w = FileWatcher(root, backend="watchdog")
    try:
        _write(root, "x.txt", "1")
        import time

        deadline = time.monotonic() + 5
        events = []
        while time.monotonic() < deadline and not events:
            events = w.poll()
            time.sleep(0.05)
        assert FileEvent("x.txt", CREATED) in events or FileEvent("x.txt", MODIFIED) in events
    finally:
        w.stop()
