"""ContextKey DI + detect_change memo invalidation (reference:
python/cocoindex/_internal/context_keys.py:99-214; docs context.mdx
"Change detection") and the per-function memo_key= overrides /
logic_tracking modes (docs memoization_keys.mdx, function.mdx).

The scenarios mirror the reference's contract: changing a
detect_change=True value ⇒ memo miss for exactly the consumers of that
key; changing a non-detected value ⇒ still a hit; detection is
transitive through helpers; a ContextKey passed AS an argument
fingerprints as its key name (stable identity), so value rotation
alone never invalidates."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from cocoindex_spark import App, ContextKey, fn, use_context
from cocoindex_spark.engine.context import _reset_used_keys


@pytest.fixture(autouse=True)
def _fresh_keys():
    _reset_used_keys()
    yield


@pytest.fixture()
def app(spark, tmp_state):
    a = App("ctx", state_dir=tmp_state, spark=spark)
    yield a
    a.drop()


def _src(spark):
    return spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id LONG, x LONG")


def _mk_key(name: str, detect_change: bool) -> ContextKey:
    return ContextKey(f"{name}-{uuid.uuid4().hex[:8]}", detect_change=detect_change)


# ---- key basics -------------------------------------------------------


def test_key_name_unique():
    ContextKey("dup-key")
    with pytest.raises(ValueError, match="already used"):
        ContextKey("dup-key")


def test_get_type_check_and_missing(app):
    k = _mk_key("typed", False)
    app.provide(k, 42)
    assert app.use_context(k) == 42
    assert app.use_context(k.key, int) == 42
    with pytest.raises(TypeError, match="expected str"):
        app.use_context(k.key, str)
    with pytest.raises(KeyError):
        app.use_context("never-provided")


def test_use_context_outside_app_raises():
    with pytest.raises(RuntimeError, match="outside an App-managed"):
        use_context("anything")


def test_provide_with_context_manager(app):
    log = []

    class Res:
        def __enter__(self):
            log.append("open")
            return "resource"

        def __exit__(self, *exc):
            log.append("close")

    k = _mk_key("cm", False)
    assert app.provide_with(k, Res()) == "resource"
    assert app.use_context(k) == "resource"
    app.context.close()
    assert log == ["open", "close"]


# ---- sync_table invalidation (the core path) --------------------------


def _scaler(key: ContextKey):
    @fn(memo=True)
    def scale_rows(df):
        k = use_context(key)
        return df.select(
            "__args_fp",
            "__component_path",
            "id",
            (F.col("x") * F.lit(k)).cast("long").alias("y"),
        )

    return scale_rows

def test_detect_change_invalidates_sync_memo(app, spark, tmp_state):
    key = _mk_key("scale", True)
    transform = _scaler(key)
    t = app.target(f"{tmp_state}/t", ["id"], "id LONG, y LONG")
    src = _src(spark)

    app.provide(key, 2)
    cold = app.sync_table(src, ["id"], transform, t)
    assert cold.inserts == 3
    assert {r.y for r in t.read(spark).collect()} == {20, 40, 60}

    # same value re-provided: fingerprint unchanged ⇒ full memo hit
    app.provide(key, 2)
    warm = app.sync_table(src, ["id"], transform, t)
    assert warm.memo_misses == 0 and warm.inserts == 0 and warm.updates == 0

    # changed value ⇒ every consumer misses and the target rewrites
    app.provide(key, 3)
    edit = app.sync_table(src, ["id"], transform, t)
    assert edit.memo_misses == 3 and edit.updates == 3
    assert {r.y for r in t.read(spark).collect()} == {30, 60, 90}

    # back to the original value: the first snapshot's memo rows are
    # still addressed by its fingerprint — they revive as hits
    app.provide(key, 2)
    back = app.sync_table(src, ["id"], transform, t)
    assert back.memo_misses == 0 and back.updates == 3
    assert {r.y for r in t.read(spark).collect()} == {20, 40, 60}


def test_non_detected_change_keeps_memo(app, spark, tmp_state):
    key = _mk_key("conn", False)  # detect_change OFF (the default)
    seen = []

    @fn(memo=True)
    def tag_rows(df):
        seen.append(use_context(key))
        return df.select("__args_fp", "__component_path", "id", "x")

    t = app.target(f"{tmp_state}/t2", ["id"], "id LONG, x LONG")
    app.provide(key, "conn-A")
    cold = app.sync_table(_src(spark), ["id"], tag_rows, t)
    assert cold.inserts == 3

    # rotating a non-detected resource must NOT invalidate anything
    app.provide(key, "conn-B")
    warm = app.sync_table(_src(spark), ["id"], tag_rows, t)
    assert warm.memo_misses == 0 and warm.inserts == 0 and warm.updates == 0


def test_detection_is_transitive_through_helpers(app, spark, tmp_state):
    key = _mk_key("factor", True)

    def helper_reads_context():
        return use_context(key)

    @fn(memo=True)
    def via_helper(df):
        k = helper_reads_context()  # the read is one level down
        return df.select(
            "__args_fp",
            "__component_path",
            "id",
            (F.col("x") + F.lit(k)).cast("long").alias("y"),
        )

    t = app.target(f"{tmp_state}/t3", ["id"], "id LONG, y LONG")
    app.provide(key, 1)
    assert app.sync_table(_src(spark), ["id"], via_helper, t).inserts == 3
    app.provide(key, 5)
    edit = app.sync_table(_src(spark), ["id"], via_helper, t)
    assert edit.memo_misses == 3 and edit.updates == 3


# ---- call_fn (single-call memo) ----------------------------------------


def test_call_fn_context_invalidation(app):
    key = _mk_key("model", True)
    calls = []

    @fn(memo=True)
    def compute(x):
        calls.append(x)
        return x * use_context(key)

    app.provide(key, 10)
    assert app.call_fn(compute, 2) == 20
    assert app.call_fn(compute, 2) == 20
    assert calls == [2]  # second call hit

    app.provide(key, 11)  # detected change ⇒ stored fp no longer live
    assert app.call_fn(compute, 2) == 22
    assert calls == [2, 2]


def test_call_fn_context_free_entries_unaffected(app):
    key = _mk_key("other", True)
    calls = []

    @fn(memo=True)
    def plain(x):
        calls.append(x)
        return x + 1

    app.provide(key, 1)
    assert app.call_fn(plain, 5) == 6
    app.provide(key, 2)  # changes a key `plain` never reads
    assert app.call_fn(plain, 5) == 6
    assert calls == [5]


def test_context_key_as_argument_is_stable_identity(app):
    """A ContextKey rides memo keys as its NAME (context_keys.py:121
    __coco_memo_key__), so rotating the value behind a non-detected
    key never invalidates a memo keyed on the key object."""
    key = _mk_key("db", False)
    calls = []

    @fn(memo=True)
    def describe(k):
        calls.append(k.key)
        return f"uses {k.key}"

    app.provide(key, "postgres://host-a")
    first = app.call_fn(describe, key)
    app.provide(key, "postgres://host-b")  # value rotated
    second = app.call_fn(describe, key)
    assert first == second
    assert calls == [key.key]  # single execution


# ---- provide-time memo-state validation --------------------------------
# (reference context_keys.py:180-200: state_methods run per provided
# value, persisted as context_memo_states; validated before reuse)


class _CfgFile:
    """Two-level FileLike config: identity = path; state = [mtime,
    content]. mtime match ⇒ valid without content; mtime change ⇒
    content decides."""

    def __init__(self, mtime: int, content: int):
        self.mtime = mtime
        self.content = content

    def __coco_memo_key__(self):
        return "/etc/app.toml"

    def __coco_memo_state__(self, prev):
        from cocoindex_spark.fingerprint import MemoStateOutcome, is_non_existence

        if is_non_existence(prev):
            return MemoStateOutcome(state=[self.mtime, self.content])
        if self.mtime == prev[0]:
            return MemoStateOutcome(state=prev, memo_valid=True)
        return MemoStateOutcome(
            state=[self.mtime, self.content], memo_valid=self.content == prev[1]
        )


def test_provide_time_state_validation(app, spark, tmp_state):
    key = _mk_key("cfg", True)

    @fn(memo=True)
    def apply_cfg(df):
        cfg = use_context(key)
        return df.select(
            "__args_fp",
            "__component_path",
            "id",
            (F.col("x") + F.lit(cfg.content)).cast("long").alias("y"),
        )

    t = app.target(f"{tmp_state}/t", ["id"], "id LONG, y LONG")
    src = _src(spark)

    app.provide(key, _CfgFile(mtime=1, content=5))
    cold = app.sync_table(src, ["id"], apply_cfg, t)
    assert cold.memo_misses == 3 and cold.inserts == 3

    # same mtime: valid — full memo hit
    app.provide(key, _CfgFile(mtime=1, content=5))
    warm = app.sync_table(src, ["id"], apply_cfg, t)
    assert warm.memo_misses == 0 and warm.updates == 0

    # mtime refreshed, content identical: STILL a hit (cheap level) —
    # the identity fp never changed and the state fn said memo_valid
    app.provide(key, _CfgFile(mtime=2, content=5))
    refresh = app.sync_table(src, ["id"], apply_cfg, t)
    assert refresh.memo_misses == 0 and refresh.updates == 0

    # the refreshed mtime was persisted: providing it again stays cheap
    app.provide(key, _CfgFile(mtime=2, content=5))
    again = app.sync_table(src, ["id"], apply_cfg, t)
    assert again.memo_misses == 0

    # content changed: every consumer misses even though the value's
    # identity fp (the path) is unchanged — the state fn invalidated
    app.provide(key, _CfgFile(mtime=3, content=9))
    edit = app.sync_table(src, ["id"], apply_cfg, t)
    assert edit.memo_misses == 3 and edit.updates == 3
    assert {r.y for r in t.read(spark).collect()} == {19, 29, 39}


def test_provide_time_state_no_statefns_unchanged(app, spark, tmp_state):
    """Values without state methods take the plain fp path — rotation
    semantics identical to before (regression guard on App.provide)."""
    key = _mk_key("plain", True)
    transform = _scaler(key)
    t = app.target(f"{tmp_state}/t2", ["id"], "id LONG, y LONG")
    src = _src(spark)
    app.provide(key, 2)
    assert app.sync_table(src, ["id"], transform, t).memo_misses == 3
    app.provide(key, 2)
    assert app.sync_table(src, ["id"], transform, t).memo_misses == 0
    app.provide(key, 3)
    assert app.sync_table(src, ["id"], transform, t).memo_misses == 3


def test_gc_memo_sweeps_rotated_context_generations(app, spark, tmp_state):
    """gc_memo sweeps the memo generations a detect_change context
    rotation strands: their folded logic_fp no lookup addresses."""
    key = _mk_key("gcscale", detect_change=True)

    @fn(memo=True)
    def scale_rows(df):
        k = use_context(key)
        return df.select(
            "__args_fp", "__component_path", "id", (F.col("x") * F.lit(k)).cast("long").alias("y")
        )

    t = app.target(f"{tmp_state}/t", ["id"], "id LONG, y LONG")
    src = _src(spark)
    for v in (2, 3, 4):
        app.provide(key, v)
        app.sync_table(src, ["id"], scale_rows, t)

    # three context generations × 3 rows; the two rotated-away
    # generations (6 rows) are dead keys no current lookup addresses
    assert app.gc_memo(src, scale_rows) == 6
    assert app.gc_memo(src, scale_rows) == 0  # idempotent

    # the current generation survives: warm re-run is still all-hit
    warm = app.sync_table(src, ["id"], scale_rows, t)
    assert warm.memo_misses == 0 and warm.updates == 0
