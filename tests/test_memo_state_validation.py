"""Memo state validation (docs memoization_keys.mdx "Memo state
validation"; reference function.py `_call_state_methods` +
memo_fingerprint.py StateFnEntry): after a fingerprint match, state
methods on the arguments run against their stored previous states and
decide whether the cached result is reusable — the multi-level
(mtime-then-content), stateful (ETag), and async validation shapes."""

from __future__ import annotations

import pytest

from cocoindex_spark import (
    NON_EXISTENCE,
    App,
    MemoStateOutcome,
    fn,
    is_non_existence,
    register_memo_key,
)


@pytest.fixture()
def app(spark, tmp_state):
    a = App("mstate", state_dir=tmp_state, spark=spark)
    yield a
    a.drop()


class FakeFile:
    """LocalFile-style two-level validation: identity = path; state =
    [mtime, content_hash]. mtime match ⇒ valid without touching
    content; mtime change ⇒ content hash decides (the docs' example)."""

    def __init__(self, path: str, mtime: int, content: str):
        self.path = path
        self.mtime = mtime
        self.content = content
        self.content_reads = 0

    def __coco_memo_key__(self):
        return self.path  # identity only

    def __coco_memo_state__(self, prev):
        if is_non_existence(prev):
            self.content_reads += 1
            return MemoStateOutcome(state=[self.mtime, self.content])
        prev_mtime, prev_hash = prev
        if self.mtime == prev_mtime:
            return MemoStateOutcome(state=prev, memo_valid=True)
        self.content_reads += 1
        return MemoStateOutcome(
            state=[self.mtime, self.content], memo_valid=self.content == prev_hash
        )


def test_two_level_state_validation(app):
    calls = []

    @fn(memo=True)
    def summarize(file):
        calls.append(file.path)
        return f"summary of {file.content}"

    # first run: computes, stores [mtime, content]
    f1 = FakeFile("/a.txt", mtime=100, content="hello")
    assert app.call_fn(summarize, f1) == "summary of hello"
    assert calls == ["/a.txt"] and f1.content_reads == 1

    # unchanged mtime: valid WITHOUT a content read (the cheap level)
    f2 = FakeFile("/a.txt", mtime=100, content="hello")
    assert app.call_fn(summarize, f2) == "summary of hello"
    assert calls == ["/a.txt"] and f2.content_reads == 0

    # mtime changed, content identical: STILL a hit, state refreshed
    f3 = FakeFile("/a.txt", mtime=200, content="hello")
    assert app.call_fn(summarize, f3) == "summary of hello"
    assert calls == ["/a.txt"] and f3.content_reads == 1

    # next run with the refreshed mtime takes the cheap path again
    f4 = FakeFile("/a.txt", mtime=200, content="hello")
    assert app.call_fn(summarize, f4) == "summary of hello"
    assert f4.content_reads == 0

    # content actually changed: recompute
    f5 = FakeFile("/a.txt", mtime=300, content="world")
    assert app.call_fn(summarize, f5) == "summary of world"
    assert calls == ["/a.txt", "/a.txt"]


class Etagged:
    def __init__(self, key: str, etag: str):
        self.key = key
        self.etag = etag


def _etag_key(o: Etagged):
    return o.key


def _etag_state(o: Etagged, prev):
    return MemoStateOutcome(
        state=o.etag, memo_valid=(not is_non_existence(prev)) and o.etag == prev
    )


register_memo_key(Etagged, _etag_key, state_fn=_etag_state)


def test_registered_state_fn(app):
    calls = []

    @fn(memo=True)
    def fetch(obj):
        calls.append(obj.etag)
        return f"body@{obj.etag}"

    assert app.call_fn(fetch, Etagged("k", "e1")) == "body@e1"
    assert app.call_fn(fetch, Etagged("k", "e1")) == "body@e1"  # ETag match
    assert calls == ["e1"]
    assert app.call_fn(fetch, Etagged("k", "e2")) == "body@e2"  # changed
    assert calls == ["e1", "e2"]


class AsyncEtagged:
    def __init__(self, key: str, etag: str):
        self.key = key
        self.etag = etag

    def __coco_memo_key__(self):
        return self.key

    async def __coco_memo_state__(self, prev):
        return MemoStateOutcome(
            state=self.etag,
            memo_valid=(not is_non_existence(prev)) and self.etag == prev,
        )


def test_async_state_method(app):
    calls = []

    @fn(memo=True)
    def head(obj):
        calls.append(obj.etag)
        return obj.etag.upper()

    assert app.call_fn(head, AsyncEtagged("s3://b/k", "aa")) == "AA"
    assert app.call_fn(head, AsyncEtagged("s3://b/k", "aa")) == "AA"
    assert calls == ["aa"]
    assert app.call_fn(head, AsyncEtagged("s3://b/k", "bb")) == "BB"
    assert calls == ["aa", "bb"]


def test_first_run_sees_non_existence():
    seen = []

    class Probe:
        def __coco_memo_key__(self):
            return "p"

        def __coco_memo_state__(self, prev):
            seen.append(prev)
            return MemoStateOutcome(state=1)

    from cocoindex_spark.fingerprint import fp_value_with_states

    _, states = fp_value_with_states([Probe()])
    assert len(states) == 1
    states[0](NON_EXISTENCE)
    assert len(seen) == 1 and is_non_existence(seen[0])


# ---- persisted envelope (call_fn memo rows) ----------------------------


def test_memo_value_containing_envelope_marker(app):
    """A memoized value that is a dict carrying the literal key
    '__coco_memo__' round-trips: every row is persisted enveloped."""
    calls = []

    @fn()
    def produce(name):
        calls.append(name)
        return {"__coco_memo__": "user data", "x": 7}

    want = {"__coco_memo__": "user data", "x": 7}
    assert app.call_fn(produce, "k") == want
    assert app.call_fn(produce, "k") == want  # replayed, not KeyError
    assert calls == ["k"]


def test_legacy_bare_dict_with_marker_not_unwrapped(app):
    """A PRE-envelope memo row whose bare user value is a dict carrying
    __coco_memo__ == 1 and a 'v' key PLUS other keys must be returned
    intact — only the exact envelope key set unwraps."""
    import json

    from cocoindex_spark.fingerprint import fp_value_with_states

    @fn()
    def produce(name):
        raise AssertionError("must replay from memo, not re-run")

    legacy_value = {"__coco_memo__": 1, "v": "user data", "extra": 42}
    args_fp, _ = fp_value_with_states([["k"], {}])
    row = app.spark.createDataFrame(
        [(produce.logic_fp, args_fp, json.dumps(legacy_value), None, 0)],
        app.state.memo.schema,
    )
    app.state.memo.merge_upsert(row)

    assert app.call_fn(produce, "k") == legacy_value


class TupleStateFile:
    def __init__(self, path: str, mtime: int):
        self.path = path
        self.mtime = mtime

    def __coco_memo_key__(self):
        return self.path

    def __coco_memo_state__(self, prev):
        if is_non_existence(prev):
            return MemoStateOutcome(state=(self.mtime, "h"))
        return MemoStateOutcome(state=tuple(prev), memo_valid=True)


def test_tuple_state_no_redundant_upsert(app, monkeypatch):
    """A state fn returning a tuple compares JSON-canonically with its
    stored (list) form, so a pure hit does not rewrite the memo row."""

    @fn(memo=True)
    def summarize(file):
        return f"sum:{file.path}"

    assert app.call_fn(summarize, TupleStateFile("/a", 1)) == "sum:/a"

    upserts = []
    real = app.state.memo.merge_upsert
    monkeypatch.setattr(
        app.state.memo, "merge_upsert", lambda df: (upserts.append(1), real(df))[1]
    )
    assert app.call_fn(summarize, TupleStateFile("/a", 1)) == "sum:/a"
    assert upserts == []
