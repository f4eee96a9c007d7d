"""Delta-sized commits: once a sync's reconcile has counted a small
change set, its commit phases run over driver-side LocalRelations
(``_SyncRun._localize``), and bucket discovery over driver-local keys
runs on the driver (``ManagedTable.touched_buckets``). A session with
``spark.sql.autoBroadcastJoinThreshold=-1`` keeps every sync on the
distributed path, and the two paths must leave the same state."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

import cocoindex_spark.engine.app as app_mod
from cocoindex_spark.engine.app import App, _SyncRun
from cocoindex_spark.engine.function import fn
from cocoindex_spark.session import local_frame
from cocoindex_spark.state.store import ManagedTable
from tests.test_local_frame import _jobs_in_group


@fn(memo=True)
def double(x):
    return x * 2


def test_call_fn_miss_then_hit_launches_fewer_jobs(spark, tmp_state):
    """A call_fn lookup and persist send one-row local frames through
    bucket discovery, which now runs on the driver. Before, the pair
    launched 5 jobs: the persist's discovery ran a ``distinct`` over the
    cached one-row frame."""
    app = App("cf", tmp_state, spark=spark)
    app.call_fn(double, 1)  # the memo table is no longer empty
    jobs = _jobs_in_group(spark, "call-fn-miss", lambda: app.call_fn(double, 21))
    jobs += _jobs_in_group(spark, "call-fn-hit", lambda: app.call_fn(double, 21))
    assert len(jobs) < 5
    assert app.call_fn(double, 21) == 42


SCHEMA = StructType([StructField("doc", LongType()), StructField("body", StringType()),
                     StructField("bucket", LongType())])


def upcase_doc(df):
    return df.select(
        "__args_fp", "__component_path", "doc",
        F.upper("text").alias("body"), (F.length("text") % 5).cast("long").alias("bucket"),
    )


def test_small_partial_sync_discovers_buckets_on_driver(spark, tmp_state, monkeypatch):
    """A 3-row partial tombstone sync (an edit, an insert, a delete) into
    a probe-laid-out table target runs its sink and tracking bucket
    discovery with no Spark job."""
    app = App("guard", tmp_state, spark=spark)
    target = app.target(os.path.join(tmp_state, "chunks"), ["doc"], SCHEMA)
    target.declare_index("lsh", "body", probe_col="bucket")

    def sync(rows):
        batch = local_frame(spark, rows, "doc LONG, text STRING, tomb BOOLEAN")
        return app.sync_table(batch, ["doc"], upcase_doc, target, tombstone_col="tomb")

    sync([(i, f"text {i}", False) for i in range(8)])

    phase = {"now": None}
    runs, discovery = [], []
    real_tb = ManagedTable.touched_buckets

    def touched_buckets(table, keys):
        if phase["now"] is None or threading.current_thread() is not threading.main_thread():
            return real_tb(table, keys)
        group = f"discovery-{len(discovery)}"
        out = []
        discovery.append(
            (phase["now"], os.path.basename(table.path),
             _jobs_in_group(spark, group, lambda: out.append(real_tb(table, keys))))
        )
        return out[0]

    def in_phase(name):
        real = getattr(_SyncRun, name)

        def run(self):
            runs.append(self)
            phase["now"] = name
            try:
                return real(self)
            finally:
                phase["now"] = None

        return run

    monkeypatch.setattr(ManagedTable, "touched_buckets", touched_buckets)
    for name in ("sink_apply", "tracking_commit"):
        monkeypatch.setattr(_SyncRun, name, in_phase(name))

    stats = sync([(1, "edited", False), (9, "new doc", False), (2, None, True)])
    assert (stats.inserts, stats.updates, stats.deletes) == (1, 1, 1)
    assert runs[0].local
    assert {(p, t) for p, t, _ in discovery} == {("sink_apply", "chunks"), ("tracking_commit", "tracking")}
    assert [jobs for _, _, jobs in discovery] == [[]] * len(discovery)
    got = {r.doc: r.body for r in target.read(spark).collect()}
    assert got[1] == "EDITED" and got[9] == "NEW DOC" and 2 not in got and len(got) == 8


# -- local vs distributed commit ----------------------------------------------

PAYLOAD_SCHEMA = (
    "k STRING, emb ARRAY<FLOAT>, raw BINARY, ts TIMESTAMP, dec DECIMAL(12,3), "
    "nothing STRING, nan DOUBLE"
)


@fn(memo=True)
def payload(df):
    """One target row per source row, keyed by the text before ':' (so a
    renamed path with the same text re-declares its old target path);
    a text containing 'bad' fails its component."""
    n = F.length("text")
    return df.select(
        "__args_fp",
        "__component_path",
        F.split("text", ":").getItem(0).alias("k"),
        F.array(n.cast("float"), F.lit(float("nan")).cast("float"), F.lit(None).cast("float")).alias("emb"),
        F.encode("text", "utf-8").alias("raw"),
        F.timestamp_micros(n.cast("long") * 1_000_003).alias("ts"),
        (n.cast("decimal(12,3)") / 7).cast("decimal(12,3)").alias("dec"),
        F.lit(None).cast("string").alias("nothing"),
        F.lit(float("nan")).alias("nan"),
        F.when(F.col("text").contains("bad"), F.lit("boom")).alias("err"),
    )


STEPS = [
    ("cold", {"a": "ka:x", "b": "kb:hello", "c": "kc:y", "d": "kd:z"}),
    ("edit", {"a": "ka:x2", "b": "kb:hello", "c": "kc:y", "d": "kd:z"}),
    ("rename with preemption", {"a": "ka:x2", "e": "kb:hello", "c": "kc:y", "d": "kd:z"}),
    ("delete", {"a": "ka:x2", "e": "kb:hello", "d": "kd:z"}),
    ("crash", {"a": "ka:x2", "e": "kb:hello", "d": "kd:zz"}),
    ("replay recovery", {"a": "ka:x2", "e": "kb:hello", "d": "kd:zz"}),
    ("failure", {"a": "ka:x3", "e": "kb:hello", "d": "kd:zz", "f": "kf:bad"}),
    ("failure cleared", {"a": "ka:x3", "e": "kb:hello", "d": "kd:zz", "f": "kf:fine"}),
]


def _state(app, spark, target):
    def rows(df, n=None):
        return sorted(repr(tuple(r)[:n]) for r in df.collect())

    return (
        rows(target.read(spark)),
        rows(app.state.tracking.read(spark), 4),
        rows(app.state.memo.read(spark), 4),
        rows(app.errors()),
    )


def _run_steps(session, root, monkeypatch):
    """Every STEPS sync on ``session``: (per-step stats and state, the
    per-sync (local, replayed upserts) of _localize)."""
    app = App("eq", os.path.join(root, "state"), spark=session)
    target = app.target(os.path.join(root, "t"), ["k"], PAYLOAD_SCHEMA)
    paths = []
    real = _SyncRun._localize

    def spy(run):
        real(run)
        paths.append((run.local, run.counts.get("__replay_upserts", 0)))

    out = []
    with monkeypatch.context() as m:
        m.setattr(_SyncRun, "_localize", spy)
        for name, rows in STEPS:
            src = local_frame(session, sorted(rows.items()), "path STRING, text STRING")

            def sync():
                return app.sync_table(
                    src, ["path"], payload, target, validate_unique=False, error_col="err"
                )

            if name == "crash":
                def crash(*a, **kw):
                    raise RuntimeError("crash in tracking commit")

                with monkeypatch.context() as c:
                    c.setattr(app_mod, "tracking_updates", crash)
                    with pytest.raises(RuntimeError, match="crash in tracking commit"):
                        sync()
                stats = None
            else:
                s = sync()
                stats = (s.memo_hits, s.memo_misses, s.inserts, s.updates, s.deletes, s.noops,
                         {k: v for k, v in s.extra.items() if k != "phase_ms"})
            out.append((name, stats, _state(app, session, target)))
    return out, paths


def test_local_and_distributed_commits_agree(spark, tmp_path, monkeypatch):
    """The same sequence (edit, rename with ownership preemption, delete,
    a crash in the tracking commit and its replayed-upsert recovery, a
    failing component and its recovery) over a payload of array<float>,
    binary, timestamp, decimal, NULL and NaN leaves identical target,
    tracking, memo and errors rows and identical SyncStats on the local
    commit path and on the distributed one."""
    distributed = spark.newSession()
    distributed.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    distributed.conf.set("spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone"))
    local_steps, local_paths = _run_steps(spark, str(tmp_path / "local"), monkeypatch)
    dist_steps, dist_paths = _run_steps(distributed, str(tmp_path / "dist"), monkeypatch)
    for got, want in zip(local_steps, dist_steps):
        assert got == want, got[0]
    # the cold build is distributed on both; every later sync is local on
    # the default session, and the recovery replayed upserts on both
    assert [p[0] for p in local_paths] == [False] + [True] * (len(STEPS) - 1)
    assert [p[0] for p in dist_paths] == [False] * len(STEPS)
    recovery = [name for name, _ in STEPS].index("replay recovery")
    assert local_paths[recovery][1] > 0 and dist_paths[recovery][1] > 0
    # the rename's target row was claimed, not deleted
    name, stats, (target_rows, *_) = local_steps[2]
    assert stats[2:5] == (1, 0, 1) and any(r.startswith("('kb', ") for r in target_rows)
