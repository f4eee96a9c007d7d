"""Delta-sized commits: once a sync's reconcile has counted a small
change set, its commit phases run over driver-side LocalRelations
(``_SyncRun._localize``), and bucket discovery over driver-local keys
runs on the driver (``ManagedTable.touched_buckets``). A session with
``spark.sql.autoBroadcastJoinThreshold=-1`` keeps every sync on the
distributed path, and the two paths must leave the same state."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

import cocoindex_spark.engine.app as app_mod
from cocoindex_spark.engine.app import App, _SyncRun
from cocoindex_spark.engine.function import fn
from cocoindex_spark.session import local_frame
from cocoindex_spark.state.store import INTENT_SCHEMA, ManagedTable, StateStore
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
    a probe-laid-out table target looks its batch up on the driver, runs
    its sink and tracking bucket discovery with no Spark job, and stays
    within its pinned total of Spark jobs."""
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

    # every job of the sync, the flush thread's included, under one group
    real_flush = _SyncRun._flush

    def flush(run, *a):
        spark.sparkContext.setJobGroup("partial-flush", "partial-flush")
        real_flush(run, *a)

    monkeypatch.setattr(_SyncRun, "_flush", flush)
    out = []
    jobs = _jobs_in_group(
        spark, "partial-sync",
        lambda: out.append(sync([(1, "edited", False), (9, "new doc", False), (2, None, True)])),
    )
    jobs += spark.sparkContext.statusTracker().getJobIdsForGroup("partial-flush")
    stats = out[0]
    assert (stats.inserts, stats.updates, stats.deletes) == (1, 1, 1)
    assert runs[0].local_in and runs[0].local
    # 14 when pinned (29 before the batch was looked up on the driver),
    # the flush thread's included: a job added back anywhere fails here
    assert len(jobs) <= 14, len(jobs)
    assert {(p, t) for p, t, _ in discovery} == {("sink_apply", "chunks"), ("tracking_commit", "tracking")}
    assert [jobs for _, _, jobs in discovery] == [[]] * len(discovery)
    got = {r.doc: r.body for r in target.read(spark).collect()}
    assert got[1] == "EDITED" and got[9] == "NEW DOC" and 2 not in got and len(got) == 8


def test_local_intent_write_is_one_job(spark, tmp_state):
    """A driver-local overwrite is written by one task with no shuffle:
    one job (the repartitioned form took two), and partitionBy still
    leaves one file in each bucket dir."""
    store = StateStore(os.path.join(tmp_state, "state"))
    rows = [(f"c/{i}", f"t/{i}") for i in range(15)]
    keys = local_frame(spark, rows, INTENT_SCHEMA)
    assert len(_jobs_in_group(spark, "intent-write", lambda: store.intent.overwrite(keys))) == 1
    assert sorted(tuple(r) for r in store.intent.read(spark).collect()) == sorted(rows)
    four = ManagedTable(os.path.join(tmp_state, "four"), ["component_path", "target_path"],
                        INTENT_SCHEMA, n_buckets=4)
    assert len(_jobs_in_group(spark, "four-write", lambda: four.overwrite(keys))) == 1
    mapping = four._pointer()
    assert len(mapping) > 1
    for path in four._bucket_paths(mapping):
        assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 1
    assert sorted(tuple(r) for r in four.read(spark).collect()) == sorted(rows)


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


FULL, PARTIAL = "full", "partial"
# Full syncs name every path; partial batches are (path, text, tombstone)
# rows synced with ``tombstone_col``.
STEPS = [
    ("cold", FULL, {"a": "ka:x", "b": "kb:hello", "c": "kc:y", "d": "kd:z"}),
    ("edit", FULL, {"a": "ka:x2", "b": "kb:hello", "c": "kc:y", "d": "kd:z"}),
    ("rename with preemption", FULL, {"a": "ka:x2", "e": "kb:hello", "c": "kc:y", "d": "kd:z"}),
    ("delete", FULL, {"a": "ka:x2", "e": "kb:hello", "d": "kd:z"}),
    ("crash", FULL, {"a": "ka:x2", "e": "kb:hello", "d": "kd:zz"}),
    ("replay recovery", FULL, {"a": "ka:x2", "e": "kb:hello", "d": "kd:zz"}),
    ("failure", FULL, {"a": "ka:x3", "e": "kb:hello", "d": "kd:zz", "f": "kf:bad"}),
    ("failure cleared", FULL, {"a": "ka:x3", "e": "kb:hello", "d": "kd:zz", "f": "kf:fine"}),
    ("batch edit, insert and delete", PARTIAL,
     [("a", "ka:x4", False), ("g", "kg:new", False), ("d", None, True)]),
    ("batch with two identical rows", PARTIAL,
     [("h", "kh:twice", False), ("h", "kh:twice", False), ("a", "ka:x4", False)]),
    ("batch failure", PARTIAL, [("f", "kf:bad again", False), ("g", "kg:newer", False)]),
    ("batch crash", PARTIAL, [("e", "kb:hello3", False), ("h", None, True)]),
    ("batch intent recovery", PARTIAL, [("e", "kb:hello3", False), ("h", None, True)]),
    ("all-tombstone batch", PARTIAL, [("a", None, True), ("f", None, True), ("zz", None, True)]),
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


def _run_steps(session, root, monkeypatch, transform=None, steps=STEPS, pk=("k",), schema=PAYLOAD_SCHEMA):
    """Every ``steps`` sync on ``session``: (per-step stats and state, the
    per-sync (driver-side reconcile inputs, driver-side commit, replayed
    upserts, tracking read scoped to the batch's buckets) of each run,
    recorded after _localize)."""
    app = App("eq", os.path.join(root, "state"), spark=session)
    target = app.target(os.path.join(root, "t"), list(pk), schema)
    paths = []
    real = _SyncRun._localize

    def spy(run):
        real(run)
        paths.append((run.local_in, run.local, run.counts.get("__replay_upserts", 0),
                      run.tracked_buckets is not None))

    out = []
    with monkeypatch.context() as m:
        m.setattr(_SyncRun, "_localize", spy)
        for name, kind, rows in steps:
            if kind == FULL:
                src = local_frame(session, sorted(rows.items()), "path STRING, text STRING")
                tomb = None
            else:
                src = local_frame(session, rows, "path STRING, text STRING, tomb BOOLEAN")
                tomb = "tomb"

            def sync():
                return app.sync_table(
                    src, ["path"], transform or payload, target,
                    validate_unique=False, error_col="err", tombstone_col=tomb,
                )

            if "crash" in name:
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
                         {k: v for k, v in s.extra.items() if k not in ("phase_ms", "buckets_written")})
            out.append((name, stats, _state(app, session, target)))
    return out, paths


def _distributed(spark, threshold="-1"):
    session = spark.newSession()
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    session.conf.set("spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone"))
    return session


def test_local_and_distributed_commits_agree(spark, tmp_path, monkeypatch):
    """The same sequence (edit, rename with ownership preemption, delete,
    a crash in the tracking commit and its replayed-upsert recovery, a
    failing component and its recovery, then partial batches: an edit
    with an insert and a tombstone, two identical rows, a failure, a
    crash and its recovery from the intent, and an all-tombstone batch)
    over a payload of array<float>, binary, timestamp, decimal, NULL and
    NaN leaves identical target, tracking, memo and errors rows and
    identical SyncStats whether the reconcile inputs and the commit are
    driver-side or distributed."""
    local_steps, local_paths = _run_steps(spark, str(tmp_path / "local"), monkeypatch)
    dist_steps, dist_paths = _run_steps(_distributed(spark), str(tmp_path / "dist"), monkeypatch)
    for got, want in zip(local_steps, dist_steps):
        assert got == want, got[0]
    # the cold build is distributed on both; every later sync (its
    # source a LocalRelation) looks its batch up and commits on the
    # driver on the default session, and the recoveries replayed upserts
    # on both
    assert [p[:2] for p in local_paths] == [(False, False)] + [(True, True)] * (len(STEPS) - 1)
    assert [p[:2] for p in dist_paths] == [(False, False)] * len(STEPS)
    # a driver-side partial batch reads only its components' tracking
    # buckets; a full sync, and every distributed sync, reads them all
    assert [p[3] for p in local_paths] == [kind == PARTIAL for _, kind, _ in STEPS]
    assert not any(p[3] for p in dist_paths)
    names = [name for name, _, _ in STEPS]
    for recovery in ("replay recovery", "batch intent recovery"):
        i = names.index(recovery)
        assert local_paths[i][2] > 0 and dist_paths[i][2] > 0, recovery
    # the rename's target row was claimed, not deleted
    name, stats, (target_rows, *_) = local_steps[2]
    assert stats[2:5] == (1, 0, 1) and any(r.startswith("('kb', ") for r in target_rows)
    # driver-side dedup: the doubled row is one miss and one insert
    stats = local_steps[names.index("batch with two identical rows")][1]
    assert stats[:5] == (1, 1, 1, 0, 0)
    # the all-tombstone batch deletes and looks nothing up
    stats = local_steps[names.index("all-tombstone batch")][1]
    assert stats[:6] == (0, 0, 0, 0, 2, 0)


@fn(memo=True)
def fan_out(df):
    """40 target rows per source row: a small batch whose transform
    output outgrows a low broadcast threshold."""
    fan = df.select("*", F.explode(F.sequence(F.lit(0), F.lit(39))).alias("i"))
    return payload(
        fan.withColumn("text", F.concat(F.col("i").cast("string"), F.lit("-"), "text"))
    ).drop("i")


FAN_STEPS = [
    ("cold", FULL, {"a": "x", "b": "y"}),
    ("batch", PARTIAL, [("a", "x2", False), ("c", "z", False), ("b", None, True)]),
]


def test_fan_out_over_a_local_batch_commits_distributed(spark, tmp_path, monkeypatch):
    """A local batch whose transform output exceeds the broadcast
    threshold still looks its batch up on the driver but commits
    distributed, and leaves the state the distributed path leaves."""
    low = _distributed(spark, str(2 << 10))
    got, got_paths = _run_steps(low, str(tmp_path / "low"), monkeypatch, fan_out, FAN_STEPS)
    want, _ = _run_steps(_distributed(spark), str(tmp_path / "dist"), monkeypatch, fan_out, FAN_STEPS)
    assert got == want
    assert [p[:2] for p in got_paths] == [(False, False), (True, False)]
    assert got[1][1][2:5] == (80, 0, 80)


# -- component-clustered buckets ----------------------------------------------

CHUNK_SCHEMA = "path STRING, chunk_idx INT, word STRING"


@fn(memo=True)
def chunk_words(df):
    """One target row per word, keyed (path, chunk_idx): a component's
    rows share their leading pk column with its key."""
    return df.select(
        "__args_fp", "__component_path", "path",
        F.posexplode(F.split("text", " ")).alias("chunk_idx", "word"),
        F.when(F.col("text").contains("bad"), F.lit("boom")).alias("err"),
    )


def _doc(i, tag="v0"):
    return " ".join(f"{tag}w{i}_{j}" for j in range(10))


def test_partial_batch_rewrites_one_bucket_per_document(spark, tmp_state):
    """A 5-document partial tombstone batch (two edits, two inserts, a
    delete) on a (path, chunk_idx) target rewrites at most 5 target
    buckets and at most 5 tracking buckets, one per document, where a
    whole-key hash spreads each document's 10 rows over ~10 of the 16."""
    app = App("clustered", tmp_state, spark=spark)
    target = app.target(os.path.join(tmp_state, "chunks"), ["path", "chunk_idx"], CHUNK_SCHEMA)
    docs = {f"d{i:02d}": _doc(i) for i in range(40)}
    src = local_frame(spark, sorted(docs.items()), "path STRING, text STRING")
    cold = app.sync_table(src, ["path"], chunk_words, target, error_col="err")
    assert target._table.bucket_columns() == ["path"]
    assert app.state.tracking.bucket_columns() == ["component_path"]
    assert cold.extra["buckets_written"]["target"] == len(target._table._pointer())
    batch = [("d00", _doc(0, "v1"), False), ("d01", _doc(1, "v1"), False),
             ("n00", _doc(100), False), ("n01", _doc(101), False), ("d02", None, True)]
    stats = app.sync_table(
        local_frame(spark, batch, "path STRING, text STRING, tomb BOOLEAN"),
        ["path"], chunk_words, target, tombstone_col="tomb", error_col="err",
    )
    assert (stats.inserts, stats.updates, stats.deletes) == (20, 20, 10)
    written = stats.extra["buckets_written"]
    assert written["target"] <= 5 and written["tracking"] <= 5 and written["memo"] <= 4, written
    docs.update({"d00": _doc(0, "v1"), "d01": _doc(1, "v1"), "n00": _doc(100), "n01": _doc(101)})
    del docs["d02"]
    want = {(p, j, w) for p, text in docs.items() for j, w in enumerate(text.split(" "))}
    assert {tuple(r) for r in target.read(spark).collect()} == want


def _to_whole_key(spark, root):
    """Rewrite every table under ``root`` as a state root written before
    bucket columns existed: data hashed on the whole key, a pointer
    with no bucket columns."""
    for dirpath, _, files in os.walk(root):
        if "_CURRENT" not in files or "/v_" in dirpath:
            continue
        ptr = os.path.join(dirpath, "_CURRENT")
        with open(ptr) as f:
            doc = json.load(f)
        if not doc.get("buckets"):
            continue
        first = os.path.join(dirpath, next(iter(doc["buckets"].values())))
        schema = spark.read.parquet(first).drop("__bucket", "__probe").schema
        key = [c for c in ("component_path", "target_path", "logic_fp", "args_fp", "state_key",
                           "path", "chunk_idx") if c in schema.names]
        t = ManagedTable(dirpath, key, schema, bucket_cols=key)
        if doc.get("probe"):
            t.probe_cols, t.probe_buckets = doc["probe"]["cols"], doc["probe"]["n"]
        t.overwrite(t.read(spark).localCheckpoint(eager=True))
        with open(ptr) as f:
            doc = json.load(f)
        del doc["bucket_cols"]
        with open(ptr, "w") as f:
            json.dump(doc, f)


LEGACY_STEPS = [
    ("cold", FULL, {"a": "x1 x2 x3", "b": "y1 y2", "c": "z1 z2 z3 z4", "d": "w1"}),
    ("edit", FULL, {"a": "x1 x9", "b": "y1 y2", "c": "z1 z2 z3 z4", "d": "w1"}),
    ("batch rename", PARTIAL, [("b", None, True), ("e", "y1 y2", False)]),
    ("batch delete and edit", PARTIAL, [("c", None, True), ("d", "w1 w2", False)]),
    ("catch-up", FULL, {"a": "x1 x9", "d": "w1 w2", "e": "y1 y2"}),
]


def test_whole_key_state_root_syncs_and_converges(spark, tmp_path, monkeypatch):
    """A state root whose tables were written before bucket columns
    existed (whole-key hashes, no bucket columns in the pointers) syncs
    an edit, a rename, a delete and a catch-up to the same target,
    tracking and memo rows as a root written clustered from the start,
    reading its whole-key tracking table whole."""
    kw = {"transform": chunk_words, "pk": ("path", "chunk_idx"), "schema": CHUNK_SCHEMA}
    want, _ = _run_steps(spark, str(tmp_path / "new"), monkeypatch, steps=LEGACY_STEPS, **kw)
    old = str(tmp_path / "old")
    _run_steps(spark, old, monkeypatch, steps=LEGACY_STEPS[:1], **kw)
    _to_whole_key(spark, old)
    tracking = StateStore(os.path.join(old, "state", "eq")).tracking
    assert tracking.bucket_columns() == ["component_path", "target_path"]
    got, paths = _run_steps(spark, old, monkeypatch, steps=LEGACY_STEPS[1:], **kw)
    assert [p[3] for p in paths] == [False] * 4
    for (name, g_stats, g_state), (_, w_stats, w_state) in zip(got, want[1:]):
        assert g_stats[:6] == w_stats[:6] and g_state == w_state, name
    assert got[-1][1][2:5] == (0, 0, 0)
