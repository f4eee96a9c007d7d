"""ManagedTable / StateStore: idempotent MERGE, atomic version swap,
crash convergence (reference: LMDB storage.rs + submit_session.rs)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import StructType

from cocoindex_spark.state.store import ManagedTable


def _schema():
    return StructType.fromDDL("k STRING, v BIGINT")


def _rows(table, spark):
    return {(r["k"], r["v"]) for r in table.read(spark).collect()}


def test_merge_upsert_and_delete(spark, tmp_state):
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema())
    assert t.read(spark).count() == 0

    t.merge_upsert(spark.createDataFrame([("a", 1), ("b", 2)], _schema()))
    assert _rows(t, spark) == {("a", 1), ("b", 2)}

    # upsert overwrites on key, keeps others
    t.merge_upsert(spark.createDataFrame([("b", 20), ("c", 3)], _schema()))
    assert _rows(t, spark) == {("a", 1), ("b", 20), ("c", 3)}

    t.delete_keys(spark.createDataFrame([("a", 0)], _schema()).select("k"))
    assert _rows(t, spark) == {("b", 20), ("c", 3)}


def test_merge_idempotent(spark, tmp_state):
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema())
    batch = spark.createDataFrame([("a", 1)], _schema())
    t.merge_upsert(batch)
    t.merge_upsert(batch)  # re-apply after simulated crash
    assert _rows(t, spark) == {("a", 1)}


def test_crash_between_write_and_swap_keeps_old_version(spark, tmp_state):
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema())
    t.overwrite(spark.createDataFrame([("a", 1)], _schema()))
    # Simulate a crash: a new version dir exists but the pointer was
    # never swapped — readers must still see the old version.
    orphan = os.path.join(t.path, "v_9999999999999999")
    spark.createDataFrame([("bad", 666)], _schema()).write.mode("overwrite").parquet(orphan)
    assert _rows(t, spark) == {("a", 1)}


def test_version_gc(spark, tmp_state):
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema())
    for i in range(8):
        t.overwrite(spark.createDataFrame([("a", i)], _schema()))
    versions = [d for d in os.listdir(t.path) if d.startswith("v_")]
    assert len(versions) <= 5  # keep window + current
    assert _rows(t, spark) == {("a", 7)}


def test_hadoop_fs_roundtrip(spark, tmp_state):
    """The Hadoop-FileSystem metadata backend, driven through the
    file:// scheme (same JVM API as hdfs/abfss): atomic write + read
    back (bytes must cross the Py4J boundary), listing, dir checks,
    sizes, recursive delete."""
    from cocoindex_spark.state.fs import HadoopFS

    root = os.path.join(tmp_state, "hfs")
    fs = HadoopFS(f"file://{root}")
    fs.makedirs(root)
    assert fs.read_text(os.path.join(root, "missing")) is None

    payload = '{"n_buckets": 8, "buckets": {"0": "v_1"}}'
    ptr = os.path.join(root, "_CURRENT")
    fs.write_atomic(ptr, payload)
    assert fs.read_text(ptr) == payload
    fs.write_atomic(ptr, payload + " ")  # overwrite path
    assert fs.read_text(ptr) == payload + " "

    fs.makedirs(os.path.join(root, "v_1"))
    assert sorted(fs.listdir(root)) == ["_CURRENT", "v_1"]
    assert fs.isdir(os.path.join(root, "v_1")) and not fs.isdir(ptr)
    assert fs.total_bytes(root) == len(payload) + 1
    fs.rmtree(os.path.join(root, "v_1"))
    assert fs.listdir(root) == ["_CURRENT"]


def test_hadoop_fs_pointer_survives_a_cut_swap(spark, tmp_state, monkeypatch):
    """A pointer swap cut between deleting the old pointer and renaming
    the new one in leaves only ``_CURRENT.tmp``: read_text returns the
    new text there (None would read as an empty table, which the next
    merge would overwrite with only its own rows), and the next write
    finishes the swap. A rename that returns false raises."""
    from cocoindex_spark.state.fs import HadoopFS

    root = os.path.join(tmp_state, "hfs")
    fs = HadoopFS(f"file://{root}")
    fs.makedirs(root)
    ptr = os.path.join(root, "_CURRENT")
    fs.write_atomic(ptr, "old")

    rename = HadoopFS._rename

    def crash_onto_pointer(self, src, dst):
        if dst.getName() == "_CURRENT":
            raise RuntimeError("crash")
        rename(self, src, dst)

    monkeypatch.setattr(HadoopFS, "_rename", crash_onto_pointer)
    with pytest.raises(RuntimeError):
        fs.write_atomic(ptr, "new")
    assert not os.path.exists(ptr)
    assert fs.read_text(ptr) == "new"

    monkeypatch.setattr(HadoopFS, "_rename", rename)
    fs.write_atomic(ptr, "newer")
    assert fs.read_text(ptr) == "newer"
    assert fs.listdir(root) == ["_CURRENT"]

    class RenameFails:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def rename(self, src, dst):
            return False

    fs._fs = RenameFails(fs._fs)
    with pytest.raises(OSError):
        fs.write_atomic(ptr, "lost")
    assert fs.read_text(ptr) == "newer"


def test_adaptive_bucket_growth(spark, tmp_state):
    """maybe_grow doubles the bucket count once the average referenced
    bucket exceeds the threshold; the count persists in the pointer,
    data survives the rehash, and scoped merges keep working under the
    new count."""
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema(), n_buckets=4)
    rows = [(f"k{i}", i) for i in range(50)]
    t.merge_upsert(spark.createDataFrame(rows, _schema()))
    assert t._meta()[0] == 4

    # no growth under a huge threshold
    assert t.maybe_grow(spark, max_bucket_bytes=1 << 40) is False
    # forced growth under a 1-byte threshold
    assert t.maybe_grow(spark, max_bucket_bytes=1) is True
    assert t._meta()[0] == 8
    assert _rows(t, spark) == set(rows)

    # a fresh handle (new process analog) sees the grown count
    t2 = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema(), n_buckets=4)
    assert t2._meta()[0] == 8
    t2.merge_upsert(spark.createDataFrame([("k1", 100), ("new", 1)], _schema()))
    got = dict(_rows(t2, spark))
    assert got["k1"] == 100 and got["new"] == 1 and len(got) == 51


def test_legacy_pointer_format(spark, tmp_state):
    """A pre-adaptive pointer (flat bucket→version map) still reads;
    the constructor bucket count applies."""
    import json

    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema(), n_buckets=4)
    t.merge_upsert(spark.createDataFrame([("a", 1), ("b", 2)], _schema()))
    ptr_path = os.path.join(t.path, "_CURRENT")
    with open(ptr_path) as f:
        doc = json.load(f)
    with open(ptr_path, "w") as f:
        json.dump(doc["buckets"], f)  # rewrite in the legacy flat format
    t2 = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema(), n_buckets=4)
    assert t2._meta()[0] == 4
    assert _rows(t2, spark) == {("a", 1), ("b", 2)}


def test_merge_apply_combined_upsert_delete(spark, tmp_state):
    """merge_apply = merge_upsert + delete_keys in ONE bucket rewrite
    (the mixed-sync path): upserts land, deleted keys vanish, a key in
    BOTH channels ends deleted (sequential semantics), untouched keys
    survive — and only one new version is published."""
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema())
    t.merge_upsert(
        spark.createDataFrame([("a", 1), ("b", 2), ("c", 3), ("d", 4)], _schema())
    )
    versions_before = set(t._pointer().values())

    t.merge_apply(
        spark.createDataFrame([("b", 20), ("e", 5), ("x", 9)], _schema()),
        spark.createDataFrame([("a", 0), ("x", 0)], _schema()).select("k"),
    )
    # b updated, e inserted, a deleted, x (both channels) deleted,
    # c/d untouched
    assert _rows(t, spark) == {("b", 20), ("c", 3), ("d", 4), ("e", 5)}
    # exactly one new version name across all rewritten buckets
    assert len(set(t._pointer().values()) - versions_before) == 1

    # idempotent re-application converges
    t.merge_apply(
        spark.createDataFrame([("b", 20), ("e", 5), ("x", 9)], _schema()),
        spark.createDataFrame([("a", 0), ("x", 0)], _schema()).select("k"),
    )
    assert _rows(t, spark) == {("b", 20), ("c", 3), ("d", 4), ("e", 5)}

    # degenerate channels: empty updates = delete_keys; empty deletes =
    # merge_upsert
    t.merge_apply(
        spark.createDataFrame([], _schema()),
        spark.createDataFrame([("e", 0)], _schema()).select("k"),
    )
    assert _rows(t, spark) == {("b", 20), ("c", 3), ("d", 4)}
    t.merge_apply(
        spark.createDataFrame([("f", 6)], _schema()),
        spark.createDataFrame([], "k STRING"),
    )
    assert _rows(t, spark) == {("b", 20), ("c", 3), ("d", 4), ("f", 6)}


def test_merge_apply_local_channels(spark, tmp_state):
    """Driver-local channels take the short merge: a key in both
    channels still ends deleted (the anti-join runs because they
    overlap), disjoint channels skip it, and small touched buckets are
    rewritten in one job with one file per bucket dir."""
    from cocoindex_spark.session import local_frame
    from tests.test_local_frame import _jobs_in_group

    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema(), n_buckets=4)
    t.merge_upsert(local_frame(spark, [("a", 1), ("b", 2), ("c", 3), ("d", 4)], _schema()))

    def keys(*ks):
        return local_frame(spark, [(k,) for k in ks], "k STRING")

    ups = local_frame(spark, [("b", 20), ("e", 5), ("x", 9)], _schema())
    assert not t._disjoint(ups, keys("a", "x"))
    t.merge_apply(ups, keys("a", "x"))
    assert _rows(t, spark) == {("b", 20), ("c", 3), ("d", 4), ("e", 5)}

    ups = local_frame(spark, [("c", 30), ("f", 6)], _schema())
    assert t._disjoint(ups, keys("b"))
    # one broadcast of the key set for the current-row anti-join, one write
    jobs = _jobs_in_group(spark, "local-merge", lambda: t.merge_apply(ups, keys("b")))
    assert len(jobs) == 2
    assert _rows(t, spark) == {("c", 30), ("d", 4), ("e", 5), ("f", 6)}
    for path in t._bucket_paths(t._pointer()):
        assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 1


def test_merge_apply_discovers_buckets_once(spark, tmp_state, monkeypatch):
    """A mixed merge runs one bucket discovery over both channels' keys,
    and none when the caller passes ``touched`` covering them."""
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema())
    t.merge_upsert(spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], _schema()))
    real, calls = ManagedTable.touched_buckets, []

    def counting(table, keys):
        calls.append(keys)
        return real(table, keys)

    monkeypatch.setattr(ManagedTable, "touched_buckets", counting)
    t.merge_apply(
        spark.createDataFrame([("b", 20), ("d", 4)], _schema()),
        spark.createDataFrame([("a", 0)], _schema()).select("k"),
    )
    assert len(calls) == 1
    assert _rows(t, spark) == {("b", 20), ("c", 3), ("d", 4)}

    ups = spark.createDataFrame([("c", 30), ("e", 5)], _schema())
    dels = spark.createDataFrame([("b", 0)], _schema()).select("k")
    touched = real(t, ups.select("k").unionByName(dels))
    calls.clear()
    t.merge_apply(ups, dels, touched=touched)
    assert calls == []
    assert _rows(t, spark) == {("c", 30), ("d", 4), ("e", 5)}


def test_merge_apply_none_channels(spark, tmp_state):
    """Either channel may be None: None deletes is a plain upsert, None
    updates a plain delete, and a delete on an empty table is a no-op
    that launches no Spark job."""
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema())
    sc = spark.sparkContext
    sc.setJobGroup("empty-delete", "empty-delete")
    try:
        t.merge_apply(None, spark.createDataFrame([("a", 0)], _schema()).select("k"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("empty-delete") == []
    assert t.is_empty()

    t.merge_apply(spark.createDataFrame([("a", 1), ("b", 2)], _schema()), None)
    t.merge_apply(None, spark.createDataFrame([("a", 0)], _schema()).select("k"))
    assert _rows(t, spark) == {("b", 2)}
    t.merge_apply(None, None)
    assert _rows(t, spark) == {("b", 2)}


def test_file_uri_table_round_trips(spark, tmp_path, monkeypatch):
    """A file:// table root is the directory Spark writes: rows and the
    target's stored contract read back, and nothing lands in cwd."""
    from cocoindex_spark.sinks.table import TableTarget

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    uri = f"file://{tmp_path}/t"
    t = TableTarget(uri, ["k"], _schema())
    t.upsert(spark.createDataFrame([("a", 1), ("b", 2)], _schema()))
    t.store_contract()

    again = TableTarget(uri, ["k"], _schema())
    assert _rows(again._table, spark) == {("a", 1), ("b", 2)}
    assert again.stored_contract() == {"pk": ["k"], "columns": [["k", "string"], ["v", "bigint"]]}
    assert os.path.exists(tmp_path / "t" / "_meta.json")
    assert os.listdir(cwd) == []


def test_clear_empties_table_and_removes_versions(spark, tmp_state):
    """clear() leaves an empty table with no version directory, and the
    table takes writes afterwards."""
    t = ManagedTable(os.path.join(tmp_state, "t"), ["k"], _schema())
    t.merge_upsert(spark.createDataFrame([("a", 1), ("b", 2)], _schema()))
    t.merge_upsert(spark.createDataFrame([("b", 20)], _schema()))
    t.clear()
    assert t.is_empty()
    assert t.read(spark).count() == 0
    assert not [d for d in os.listdir(t.path) if d.startswith("v_")]

    t.merge_upsert(spark.createDataFrame([("c", 3)], _schema()))
    assert _rows(t, spark) == {("c", 3)}


# -- bucket columns -------------------------------------------------------------


def _comp_schema():
    return StructType.fromDDL("c STRING, i BIGINT, v BIGINT")


def _comp_rows(spark, comps, v=0):
    from cocoindex_spark.session import local_frame

    return local_frame(spark, [(c, i, v) for c in comps for i in range(10)], _comp_schema())


def _rewritten(before, after):
    return {b for b in before.keys() | after.keys() if before.get(b) != after.get(b)}


def _placed_by_live_hash(t, spark):
    """True iff every row sits in the bucket the live layout hashes it to."""
    for b in t._pointer():
        keys = t.read(spark, [int(b)]).select(t.key_cols)
        if t.touched_buckets(keys) != [int(b)]:
            return False
    return True


def _strip_bucket_cols(t):
    """Rewrite the pointer as written before bucket columns existed."""
    import json

    ptr = os.path.join(t.path, "_CURRENT")
    with open(ptr) as f:
        doc = json.load(f)
    del doc["bucket_cols"]
    with open(ptr, "w") as f:
        json.dump(doc, f)


def test_clustered_merge_rewrites_one_bucket_per_component(spark, tmp_state):
    """A table bucketed on its leading key column rewrites at most k
    buckets for a merge that touches k components (10 rows each); the
    same merge on a whole-key table rewrites nearly every bucket."""
    comps = [f"comp{n}" for n in range(12)]
    clustered = ManagedTable(os.path.join(tmp_state, "cl"), ["c", "i"], _comp_schema(), bucket_cols=["c"])
    whole = ManagedTable(os.path.join(tmp_state, "wh"), ["c", "i"], _comp_schema())
    written = {}
    for name, t in (("clustered", clustered), ("whole", whole)):
        t.merge_upsert(_comp_rows(spark, comps))
        before = t._pointer()
        t.merge_apply(_comp_rows(spark, comps[:2], v=1), _comp_rows(spark, comps[2:3]).select("c", "i"))
        written[name] = len(_rewritten(before, t._pointer()))
        got = {(r.c, r.i, r.v) for r in t.read(spark).collect()}
        want = {(c, i, 1 if c in comps[:2] else 0) for c in comps if c != comps[2] for i in range(10)}
        assert got == want, name
        assert _placed_by_live_hash(t, spark), name
    assert clustered.bucket_columns() == ["c"] and whole.bucket_columns() == ["c", "i"]
    assert written["clustered"] <= 3 < written["whole"], written
    with pytest.raises(ValueError, match="leading subset"):
        ManagedTable(os.path.join(tmp_state, "bad"), ["c", "i"], _comp_schema(), bucket_cols=["i"])


def test_pointer_without_bucket_columns_hashes_the_whole_key(spark, tmp_state):
    """A pointer written before bucket columns existed reads, and merges
    keep hashing the whole key, even on a handle that declares bucket
    columns: the declaration waits for a full rewrite."""
    path = os.path.join(tmp_state, "t")
    ManagedTable(path, ["c", "i"], _comp_schema()).merge_upsert(_comp_rows(spark, ["a", "b", "c"]))
    t = ManagedTable(path, ["c", "i"], _comp_schema(), bucket_cols=["c"])
    _strip_bucket_cols(t)
    assert t.bucket_columns() == ["c", "i"]
    assert len({(r.c, r.i) for r in t.read(spark).collect()}) == 30
    t.merge_apply(_comp_rows(spark, ["a"], v=5), _comp_rows(spark, ["b"]).select("c", "i"))
    assert t.bucket_columns() == ["c", "i"]
    assert _placed_by_live_hash(t, spark)
    got = {(r.c, r.i, r.v) for r in t.read(spark).collect()}
    assert got == {("a", i, 5) for i in range(10)} | {("c", i, 0) for i in range(10)}


def test_overwrite_adopts_bucket_columns_in_its_swap(spark, tmp_state, monkeypatch):
    """A full rewrite of a whole-key table publishes the declared bucket
    columns in the same pointer swap as its data: a copy of the table
    taken just before that swap still reads the old layout intact, and
    the table after it is hashed on the new columns."""
    import shutil

    path = os.path.join(tmp_state, "t")
    ManagedTable(path, ["c", "i"], _comp_schema()).merge_upsert(_comp_rows(spark, ["a", "b", "c", "d"]))
    t = ManagedTable(path, ["c", "i"], _comp_schema(), bucket_cols=["c"])
    _strip_bucket_cols(t)
    rows = {tuple(r) for r in t.read(spark).collect()}
    real_swap, copies = ManagedTable._swap_pointer, []

    def swap(table, *a, **kw):
        copies.append(shutil.copytree(table.path, os.path.join(tmp_state, f"copy{len(copies)}")))
        return real_swap(table, *a, **kw)

    monkeypatch.setattr(ManagedTable, "_swap_pointer", swap)
    assert t.maybe_compact(spark, max_versions=0)
    monkeypatch.undo()
    assert len(copies) == 1
    old = ManagedTable(copies[0], ["c", "i"], _comp_schema(), bucket_cols=["c"])
    assert old.bucket_columns() == ["c", "i"]
    assert {tuple(r) for r in old.read(spark).collect()} == rows
    assert _placed_by_live_hash(old, spark)
    assert t.bucket_columns() == ["c"]
    assert {tuple(r) for r in t.read(spark).collect()} == rows
    assert _placed_by_live_hash(t, spark)
    assert len(t._pointer()) <= 4


def test_truncate_drops_bucket_columns(spark, tmp_state):
    """A sync infers a table target's bucket columns (its leading pk
    columns that are also key columns) and its first write records
    them; ``truncate`` (the pk-change path) drops them, and the sync
    under the new pk infers them again."""
    import json

    from pyspark.sql import functions as F

    from cocoindex_spark.engine.app import App
    from cocoindex_spark.session import local_frame

    app = App("pk", tmp_state, spark=spark)
    path = os.path.join(tmp_state, "words")
    src = local_frame(spark, [("a", "x y z"), ("b", "u v")], "doc STRING, text STRING")

    def words(df):
        return df.select(
            "__args_fp", "__component_path", "doc",
            F.posexplode(F.split("text", " ")).alias("i", "w"),
        )

    schema = "doc STRING, i INT, w STRING"
    first = app.target(path, ["doc", "i"], schema)
    app.sync_table(src, ["doc"], words, first)
    assert first._table.bucket_columns() == ["doc"]
    first.truncate()
    with open(os.path.join(path, "_CURRENT")) as f:
        assert "bucket_cols" not in json.load(f)
    assert first._table.bucket_cols is None
    second = app.target(path, ["i", "doc"], schema)
    stats = app.sync_table(src, ["doc"], words, second)
    assert stats.extra["schema_evolution"] == "destructive" and stats.inserts == 5
    assert second._table.bucket_columns() == ["i", "doc"]
    assert len(second.read(spark).collect()) == 5
