"""Crash-point matrix for ``App.sync_table`` (the reference's recovery
contract: an interrupted run converges on re-run — PAPER.md's tracking
record, processing_component.mdx:248-253; SURVEY §2.5).

Each protocol is one sync over a prepared state, crashed at:

- the entry of each phase of ``_PHASES`` (the ``_SyncRun`` methods);
- every pointer swap of the target, the tracking table and the intent
  table (its write and its retire), after the new version directory
  landed (``ManagedTable._swap_pointer``);
- on the memo-flush thread: its first write, and the memo and
  source_fp pointer swaps.

The first two kinds run on the main thread. A raise there propagates
through sync_table, whose ``finally`` joins the flush thread, so the
state it leaves is the state directory at that instant once the flush
thread has finished: the uninterrupted reference run copies the
directory at each such point. A raise on the flush thread lets the main
thread commit before sync_table re-raises it, so each of those points
is a real crashed sync.

A re-run on the same source from each crash state must leave target
rows and tracking rows (``version`` aside) equal to the reference
run's, recomputing no more than it did; a third sync must then be
all-noop (and load no content on the cheap path). A re-run is a
function of the durable state it starts from (target, tracking, intent,
memo and source_fp rows, versions aside), so each distinct
crash state is re-run once (the prepared state's re-run is the
reference run), and each distinct re-run end state gets one third
sync. Cases run on a few threads: every case has its own state root.

Every protocol but ``cold`` is small, so it commits over driver-side
frames (``_SyncRun._localize``); the distributed commit path is crashed
too, with the non-cold protocols re-run on a session whose
``spark.sql.autoBroadcastJoinThreshold`` is -1.
"""

from __future__ import annotations

import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import PurePath

import pytest
from pyspark.sql import functions as F

from cocoindex_spark.engine.app import _PHASES, App, _SyncRun
from cocoindex_spark.engine.function import fn
from cocoindex_spark.session import local_frame
from cocoindex_spark.state.store import ManagedTable

SCHEMA = "path STRING, up STRING"


@fn(memo=True)
def upcase(df):
    return df.select("__args_fp", "__component_path", "path", F.upper("text").alias("up"))


class Crash(RuntimeError):
    pass


# A sync spec: (mode, rows). full: {path: text}; cheap: {path: (rev,
# text)} behind a rev listing and a content load; partial: {path: text
# or None}, None being a tombstone.
PROTOCOLS = {
    "cold": ([], ("full", {"a": "x", "b": "y"})),
    "edit": ([("full", {"a": "x", "b": "y"})], ("full", {"a": "x2", "b": "y"})),
    "rename": ([("full", {"a": "x", "b": "y"})], ("full", {"a": "x", "c": "y"})),
    "delete": ([("full", {"a": "x", "b": "y"})], ("full", {"a": "x"})),
    "cheap_edit": (
        [("cheap", {"a": (1, "x"), "b": (1, "y")})],
        ("cheap", {"a": (2, "x2"), "b": (1, "y")}),
    ),
    "partial": (
        [("full", {"a": "x", "b": "y", "c": "z"})],
        ("partial", {"a": "x2", "b": None, "d": "w"}),
    ),
}
# Flush-thread points each protocol reaches: a sync with no memo miss
# starts no flush thread, and only the cheap path writes source_fp.
THREAD_POINTS = {
    "cold": ("flush", "swap:memo"),
    "edit": ("flush", "swap:memo"),
    "rename": ("flush", "swap:memo"),
    "delete": (),
    "cheap_edit": ("flush", "swap:memo", "swap:source_fp"),
    "partial": ("flush", "swap:memo"),
}


def _sync(app, spark, target, spec):
    mode, rows = spec
    if mode == "full":
        src = local_frame(spark, sorted(rows.items()), "path STRING, text STRING")
        return app.sync_table(src, ["path"], upcase, target)
    if mode == "partial":
        batch = local_frame(
            spark,
            [(p, t, t is None) for p, t in sorted(rows.items())],
            "path STRING, text STRING, tomb BOOLEAN",
        )
        return app.sync_table(batch, ["path"], upcase, target, tombstone_col="tomb")
    listing = local_frame(
        spark, [(p, rev) for p, (rev, _) in sorted(rows.items())], "path STRING, rev LONG"
    )
    content = local_frame(
        spark, [(p, text) for p, (_, text) in sorted(rows.items())], "path STRING, text STRING"
    )
    return app.sync_table(
        listing, ["path"], upcase, target,
        cheap_fp_cols=["rev"], load=lambda df: df.join(content, "path", "left"),
    )


def _open(spark, root):
    app = App("crash", state_dir=f"{root}/state", spark=spark)
    return app, app.target(f"{root}/t", ["path"], SCHEMA)


def _snapshot(app, spark, target):
    rows = sorted(tuple(r) for r in target.read(spark).collect())
    tracked = sorted(
        (
            r.component_path,
            r.target_path,
            r.fp,
            r.may_be_missing,
        )
        for r in app.state.tracking.read(spark).collect()
    )
    return rows, tracked


def _durable_state(spark, root):
    """Everything a re-run from ``root`` reads, versions aside."""
    app, target = _open(spark, root)
    intent = sorted(tuple(r) for r in app.state.intent.read(spark).collect())
    memo = sorted(tuple(r)[:4] for r in app.state.memo.read(spark).collect())
    sfp = sorted(tuple(r)[:3] for r in app.state.source_fp.read(spark).collect())
    return repr((_snapshot(app, spark, target), intent, memo, sfp, target.stored_contract()))


def _table_at(path: str) -> tuple[str, str]:
    """(case root, table name) of a target (``<root>/t``) or state
    table (``<root>/state/crash/<table>``) path."""
    p = PurePath(path)
    return (str(p.parent), "target") if p.name == "t" else (str(p.parents[2]), p.name)


class _Hooks:
    """Crash points over every sync of the test, keyed by case root:
    ``copies[root]`` collects a copy of the state at each main-thread
    point; ``crash[root]`` names the flush-thread point to raise at."""

    def __init__(self, m):
        self.copies: dict[str, dict[str, str]] = {}
        self.crash: dict[str, str] = {}
        self._runs: dict[str, _SyncRun] = {}
        for phase in _PHASES:
            m.setattr(_SyncRun, phase, self._entry_hook(phase, getattr(_SyncRun, phase)))
        real_swap, real_merge = ManagedTable._swap_pointer, ManagedTable.merge_apply

        def swap(table, *a, **kw):
            root, name = _table_at(table.path)
            if root in self.copies and name in ("target", "tracking", "intent"):
                n = sum(p.startswith(f"swap:{name}#") for p in self.copies[root])
                self._copy(root, f"swap:{name}#{n + 1}")
            self._raise_at(root, f"swap:{name}")
            return real_swap(table, *a, **kw)

        def merge_apply(table, *a, **kw):
            if threading.current_thread().name == "memo-flush":
                self._raise_at(_table_at(table.path)[0], "flush")
            return real_merge(table, *a, **kw)

        m.setattr(ManagedTable, "_swap_pointer", swap)
        m.setattr(ManagedTable, "merge_apply", merge_apply)

    def _entry_hook(self, phase, real):
        def entry(run):
            root = _table_at(run.target.path)[0]
            self._runs[root] = run
            if root in self.copies:
                self._copy(root, phase)
            return real(run)

        return entry

    def _copy(self, root, point):
        flush = self._runs[root].flush_thread
        if flush is not None:
            flush.join(timeout=120)
            assert not flush.is_alive()
        dst = f"{root}_at/{point.replace(':', '_').replace('#', '_')}"
        shutil.copytree(root, dst)
        self.copies[root][point] = dst

    def _raise_at(self, root, point):
        if self.crash.get(root) == point:
            del self.crash[root]
            raise Crash(point)


def _each(fn, items):
    """``fn`` over ``items`` on four threads; re-raises the first error."""
    with ThreadPoolExecutor(4) as ex:
        return list(ex.map(fn, items))


def test_crash_matrix(spark, tmp_path, monkeypatch):
    _crash_matrix(spark, tmp_path, monkeypatch, PROTOCOLS, local=True)


def test_crash_matrix_distributed_commit(spark, tmp_path, monkeypatch):
    distributed = spark.newSession()
    distributed.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    protocols = {name: p for name, p in PROTOCOLS.items() if name != "cold"}
    _crash_matrix(distributed, tmp_path, monkeypatch, protocols, local=False)


def _crash_matrix(spark, tmp_path, monkeypatch, protocols, local):
    """Every crash point of each of ``protocols``, re-run to convergence;
    every non-cold sync takes the driver-local commit iff ``local``."""
    hooks = _Hooks(monkeypatch)
    befores = {repr(before): before for before, _ in protocols.values()}
    prep = {key: f"{tmp_path}/prep{i}" for i, key in enumerate(befores)}

    def prepare(key):
        app, target = _open(spark, prep[key])
        for spec in befores[key]:
            _sync(app, spark, target, spec)

    _each(prepare, list(prep))
    start = {name: prep[repr(before)] for name, (before, _) in protocols.items()}

    def reference(name):
        root = f"{tmp_path}/{name}/ref"
        shutil.copytree(start[name], root)
        hooks.copies[root] = {}
        app, target = _open(spark, root)
        stats = _sync(app, spark, target, PROTOCOLS[name][1])
        assert hooks._runs[root].local == (local and name != "cold"), name
        crashes = hooks.copies.pop(root)
        assert set(_PHASES) <= set(crashes), name
        assert {"swap:target#1", "swap:tracking#1", "swap:intent#1", "swap:intent#2"} <= set(
            crashes
        ), name
        return name, stats, _snapshot(app, spark, target), crashes

    refs = {name: (stats, want, crashes) for name, stats, want, crashes in _each(reference, protocols)}

    def crash_flush_thread(case):
        name, point = case
        root = f"{tmp_path}/{name}/{point.replace(':', '_')}"
        shutil.copytree(start[name], root)
        hooks.crash[root] = point
        app, target = _open(spark, root)
        with pytest.raises(Crash):
            _sync(app, spark, target, PROTOCOLS[name][1])
        assert root not in hooks.crash, case
        refs[name][2][point] = root

    _each(crash_flush_thread, [(n, p) for n, points in THREAD_POINTS.items() if n in protocols for p in points])

    # One re-run per distinct crash state of each protocol.
    cases = [(n, p, root) for n, (_, _, crashes) in refs.items() for p, root in crashes.items()]
    states = _each(lambda case: _durable_state(spark, case[2]), cases)
    checked = {(n, _durable_state(spark, start[n])) for n in protocols}
    reruns = []
    for case, state in zip(cases, states):
        if (case[0], state) not in checked:
            checked.add((case[0], state))
            reruns.append(case)

    def rerun(case):
        name, point, root = case
        ref_stats, want, _ = refs[name]
        app, target = _open(spark, root)
        stats = _sync(app, spark, target, PROTOCOLS[name][1])
        assert _snapshot(app, spark, target) == want, case
        assert stats.memo_misses <= ref_stats.memo_misses, case
        return name, _durable_state(spark, root), root

    ends = {(name, end): root for name, end, root in _each(rerun, reruns)}

    def third(item):
        (name, _), root = item
        step = PROTOCOLS[name][1]
        app, target = _open(spark, root)
        stats = _sync(app, spark, target, step)
        assert (stats.inserts, stats.updates, stats.deletes, stats.memo_misses) == (
            0, 0, 0, 0,
        ), root
        if step[0] == "cheap":
            assert stats.extra["loaded"] == 0, root

    _each(third, list(ends.items()))


def _crash_at_tracking_commit(app, spark, target, spec, monkeypatch):
    """Run ``spec`` with its tracking commit raising: the sink apply
    lands, tracking and the intent stay as the sink left them."""
    import cocoindex_spark.engine.app as app_mod

    def crash(*a, **kw):
        raise Crash("tracking commit")

    with monkeypatch.context() as m:
        m.setattr(app_mod, "tracking_updates", crash)
        with pytest.raises(Crash):
            _sync(app, spark, target, spec)


def _rows(spark, target):
    return sorted(tuple(r) for r in target.read(spark).collect())


def test_interrupted_delete_converges_when_item_returns(spark, tmp_path, monkeypatch):
    """A delete whose sink apply landed but whose tracking commit did
    not must not leave a tracked row the next run trusts: when the item
    returns, it is written again."""
    app, target = _open(spark, tmp_path)
    _sync(app, spark, target, ("full", {"a": "x", "b": "y"}))
    _crash_at_tracking_commit(app, spark, target, ("full", {"a": "x"}), monkeypatch)
    assert _rows(spark, target) == [("a", "X")]

    back = _sync(app, spark, target, ("full", {"a": "x", "b": "y"}))
    assert back.updates == 1 and back.noops == 1
    assert _rows(spark, target) == [("a", "X"), ("b", "Y")]


def test_interrupted_insert_converges_when_item_leaves(spark, tmp_path, monkeypatch):
    """An insert whose sink apply landed but whose tracking commit did
    not must not stay in the target once the item leaves the source."""
    app, target = _open(spark, tmp_path)
    _sync(app, spark, target, ("full", {"a": "x"}))
    _crash_at_tracking_commit(app, spark, target, ("full", {"a": "x", "b": "y"}), monkeypatch)
    assert _rows(spark, target) == [("a", "X"), ("b", "Y")]

    gone = _sync(app, spark, target, ("full", {"a": "x"}))
    assert gone.deletes == 1 and gone.noops == 1
    assert _rows(spark, target) == [("a", "X")]


def test_partial_batch_keeps_crashed_key_marked_until_full_sync(spark, tmp_path, monkeypatch):
    """A partial batch that recovers a crashed full sync's intent but
    leaves the crashed key out of its scope keeps that key in the
    target, marked, until the next full sync deletes it."""
    app, target = _open(spark, tmp_path)
    _sync(app, spark, target, ("full", {"a": "x"}))
    _crash_at_tracking_commit(app, spark, target, ("full", {"a": "x", "b": "y"}), monkeypatch)

    batch = _sync(app, spark, target, ("partial", {"a": "x2"}))
    assert (batch.updates, batch.inserts, batch.deletes) == (1, 0, 0)
    assert app.state.intent.is_empty()
    assert _rows(spark, target) == [("a", "X2"), ("b", "Y")]
    tracked = {
        r.target_path: (r.fp, r.may_be_missing) for r in app.state.tracking.read(spark).collect()
    }
    assert tracked["t/b"] == (None, True) and tracked["t/a"][1] is False

    full = _sync(app, spark, target, ("full", {"a": "x2"}))
    assert (full.deletes, full.noops) == (1, 1)
    assert _rows(spark, target) == [("a", "X2")]
    again = _sync(app, spark, target, ("full", {"a": "x2"}))
    assert (again.inserts, again.updates, again.deletes, again.noops) == (0, 0, 0, 1)


def test_other_target_sync_keeps_crashed_intent(spark, tmp_path, monkeypatch):
    """The intent table is shared by an app's targets: a sync of target
    B after target A crashed folds A's intent into tracking rather than
    dropping it, so A's next sync still converges."""
    app, target = _open(spark, tmp_path)
    other = app.target(f"{tmp_path}/u", ["path"], SCHEMA)
    _sync(app, spark, target, ("full", {"a": "x"}))
    _crash_at_tracking_commit(app, spark, target, ("full", {"a": "x", "b": "y"}), monkeypatch)

    b = _sync(app, spark, other, ("full", {"z": "w"}))
    assert (b.inserts, b.deletes) == (1, 0)
    assert app.state.intent.is_empty()

    back = _sync(app, spark, target, ("full", {"a": "x"}))
    assert (back.deletes, back.noops) == (1, 1)
    assert _rows(spark, target) == [("a", "X")]
    assert _rows(spark, other) == [("z", "W")]
