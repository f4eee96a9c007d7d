"""End-to-end incremental sync scenarios, mirroring the reference's
scenario-test style (tests/core/test_component_target_states.py:26-50:
build app → update → mutate source → update → assert contents AND op
counts) and the BASELINE incremental contract (warm ⇒ 0 misses; one
edit ⇒ bounded delta)."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from cocoindex_spark.engine.app import App, _keys_from_paths
from cocoindex_spark.engine.function import fn


@fn(memo=True)
def enrich(df):
    """Uppercase the text and compute its length (per-row transform)."""
    return df.select(
        "__args_fp",
        "__component_path",
        F.col("path"),
        F.upper(F.col("text")).alias("text_upper"),
        F.length(F.col("text")).alias("text_len"),
    )


def _source(spark, rows):
    return spark.createDataFrame(rows, "path STRING, text STRING")


@pytest.fixture()
def app(spark, tmp_state):
    a = App("t", state_dir=tmp_state, spark=spark)
    yield a
    a.drop()


def _target(app, tmp_state):
    return app.target(
        f"{tmp_state}/docs_out", ["path"], "path STRING, text_upper STRING, text_len INT"
    )


def _contents(target, spark):
    return {
        r["path"]: (r["text_upper"], r["text_len"]) for r in target.read(spark).collect()
    }


def test_cold_warm_edit_delete(app, spark, tmp_state):
    target = _target(app, tmp_state)
    src1 = _source(spark, [("a.md", "hello"), ("b.md", "world"), ("c.md", "spark")])

    # ---- cold: everything computed and written
    s1 = app.sync_table(src1, ["path"], enrich, target)
    assert s1.memo_misses == 3 and s1.memo_hits == 0
    assert s1.inserts == 3 and s1.deletes == 0 and s1.noops == 0
    assert _contents(target, spark) == {
        "a.md": ("HELLO", 5),
        "b.md": ("WORLD", 5),
        "c.md": ("SPARK", 5),
    }

    # ---- warm: identical source ⇒ zero recompute, all noop
    s2 = app.sync_table(src1, ["path"], enrich, target)
    assert s2.memo_misses == 0 and s2.memo_hits == 3
    assert s2.inserts == 0 and s2.updates == 0 and s2.deletes == 0 and s2.noops == 3

    # ---- edit one + add one + delete one: bounded delta
    src2 = _source(spark, [("a.md", "hello!"), ("c.md", "spark"), ("d.md", "new")])
    s3 = app.sync_table(src2, ["path"], enrich, target)
    assert s3.memo_misses == 2  # only a.md (changed) and d.md (new)
    assert s3.memo_hits == 1  # c.md unchanged
    assert s3.inserts == 1 and s3.updates == 1 and s3.deletes == 1 and s3.noops == 1
    assert _contents(target, spark) == {
        "a.md": ("HELLO!", 6),
        "c.md": ("SPARK", 5),
        "d.md": ("NEW", 3),
    }


def test_logic_change_invalidates(app, spark, tmp_state):
    target = _target(app, tmp_state)
    src = _source(spark, [("a.md", "x"), ("b.md", "y")])
    app.sync_table(src, ["path"], enrich, target)

    @fn(memo=True, version=2)
    def enrich_v2(df):
        return df.select(
            "__args_fp",
            "__component_path",
            F.col("path"),
            F.upper(F.col("text")).alias("text_upper"),
            F.length(F.col("text")).alias("text_len"),
        )

    s = app.sync_table(src, ["path"], enrich_v2, target)
    assert s.memo_misses == 2  # different logic_fp ⇒ no hits
    # Same output values ⇒ reconcile suppresses the writes as noops.
    assert s.noops == 2 and s.updates == 0


def test_one_to_many_transform(app, spark, tmp_state):
    """Chunking-shaped transform: one source row → many target rows."""
    target = app.target(
        f"{tmp_state}/chunks_out", ["path", "idx"], "path STRING, idx INT, word STRING"
    )

    @fn(memo=True)
    def split_words(df):
        return df.select(
            "__args_fp",
            "__component_path",
            "path",
            F.posexplode(F.split(F.col("text"), " ")).alias("idx", "word"),
        )

    src = _source(spark, [("a.md", "x y z"), ("b.md", "q")])
    s1 = app.sync_table(src, ["path"], split_words, target)
    assert s1.inserts == 4
    assert target.read(spark).count() == 4

    # warm: memo replays the one→many results without recompute
    s2 = app.sync_table(src, ["path"], split_words, target)
    assert s2.memo_misses == 0 and s2.noops == 4

    # shrink a.md to one word: its extra chunk rows get deleted
    src2 = _source(spark, [("a.md", "x"), ("b.md", "q")])
    s3 = app.sync_table(src2, ["path"], split_words, target)
    assert s3.deletes == 2  # idx 1 and 2 of a.md
    assert target.read(spark).count() == 2


def test_full_reprocess_recomputes(app, spark, tmp_state):
    target = _target(app, tmp_state)
    src = _source(spark, [("a.md", "x")])
    app.sync_table(src, ["path"], enrich, target)
    s = app.sync_table(src, ["path"], enrich, target, full_reprocess=True)
    assert s.memo_misses == 1  # memo bypassed
    assert s.updates == 1  # forced write-through


def test_gc_memo_sweeps_dead_entries(app, spark, tmp_state):
    """§7.4.8 memo growth: rows of vanished/edited source items are
    swept; live entries survive and the next warm run is still all-hit."""
    t = _target(app, tmp_state)
    app.sync_table(_source(spark, [("a", "x"), ("b", "y"), ("c", "z")]), ["path"], enrich, t)

    # b edited, c deleted ⇒ memo rows for old-b and c are now dead
    src2 = _source(spark, [("a", "x"), ("b", "Y2")])
    app.sync_table(src2, ["path"], enrich, t)
    assert app.gc_memo(src2, enrich) == 2
    assert app.gc_memo(src2, enrich) == 0  # idempotent

    # live entries intact: warm re-run is still zero-miss
    warm = app.sync_table(src2, ["path"], enrich, t)
    assert warm.memo_misses == 0 and warm.noops == 2


def test_ownership_preemption(app, spark, tmp_state):
    """A target path re-claimed by a new component survives the old
    owner's cleanup — the new owner's upsert wins
    (execution.rs:948-995; reference test_ownership_transfer.py)."""
    t = _target(app, tmp_state)
    src = _source(spark, [("a", "xx"), ("b", "yyy")])
    app.sync_table(src, ["path"], enrich, t)
    assert _contents(t, spark) == {"a": ("XX", 2), "b": ("YYY", 3)}

    # re-key the pipeline: component paths change, target pks identical
    st = app.sync_table(src, ["path", "text"], enrich, t)
    assert st.inserts == 2 and st.deletes == 2  # old pairs swept, new claimed
    assert _contents(t, spark) == {"a": ("XX", 2), "b": ("YYY", 3)}

    # the transfer is stable: warm re-run under the new keying is all-noop
    warm = app.sync_table(src, ["path", "text"], enrich, t)
    assert warm.memo_misses == 0 and warm.noops == 2 and warm.deletes == 0


def test_duplicate_declaration_rejected(app, spark, tmp_state):
    """Two components declaring the same target state is an error under
    validate_unique (duplicate keys rejected, execution.rs:264-303)."""
    import pytest as _pytest

    t = _target(app, tmp_state)
    # keyed by (path, text): two rows collapse to the same target pk "a"
    src = _source(spark, [("a", "x"), ("a", "longer")])
    with _pytest.raises(ValueError, match="duplicate target state"):
        app.sync_table(src, ["path", "text"], enrich, t, validate_unique=True)


def test_error_isolation_side_table(app, spark, tmp_state):
    """Failure isolation (processing_component.mdx): a failing
    component writes nothing, keeps its previous target rows, lands in
    the errors side table, is retried (not memoized), and recovers —
    clearing its error row — once the input is fixed."""
    target = _target(app, tmp_state)

    @fn(memo=True)
    def enrich_checked(df):
        err = F.when(F.col("text").contains("POISON"), F.lit("poison input"))
        return df.select(
            "__args_fp",
            "__component_path",
            F.col("path"),
            F.upper(F.col("text")).alias("text_upper"),
            F.length(F.col("text")).alias("text_len"),
            err.alias("__error"),
        )

    src1 = _source(spark, [("a.md", "good"), ("b.md", "fine")])
    s1 = app.sync_table(src1, ["path"], enrich_checked, target, error_col="__error")
    assert s1.inserts == 2 and s1.extra["errors"] == 0

    # b.md turns poisonous: it writes nothing, keeps its old row, and
    # is recorded; a.md's unchanged row no-ops normally
    src2 = _source(spark, [("a.md", "good"), ("b.md", "POISON now")])
    s2 = app.sync_table(src2, ["path"], enrich_checked, target, error_col="__error")
    assert s2.extra["errors"] == 1
    assert s2.inserts == 0 and s2.updates == 0 and s2.deletes == 0
    assert _contents(target, spark) == {"a.md": ("GOOD", 4), "b.md": ("FINE", 4)}
    errs = {r["component_path"]: r["error"] for r in app.errors(target).collect()}
    assert errs == {"t/docs_out/b.md": "poison input"}

    # unchanged poison input: retried (never memoized), still failing
    s3 = app.sync_table(src2, ["path"], enrich_checked, target, error_col="__error")
    assert s3.memo_misses == 1 and s3.extra["errors"] == 1

    # fixed input: recomputes, writes, clears the error row
    src3 = _source(spark, [("a.md", "good"), ("b.md", "healed")])
    s4 = app.sync_table(src3, ["path"], enrich_checked, target, error_col="__error")
    assert s4.extra["errors"] == 0 and s4.updates == 1
    assert _contents(target, spark)["b.md"] == ("HEALED", 6)
    assert app.errors(target).count() == 0

    # vanish while failing: the component disappears from the source —
    # its stale error row must clear too (a full sync vouches for the
    # whole prefix)
    app.sync_table(
        _source(spark, [("a.md", "good"), ("b.md", "POISON again")]),
        ["path"], enrich_checked, target, error_col="__error",
    )
    assert app.errors(target).count() == 1
    s6 = app.sync_table(
        _source(spark, [("a.md", "good")]),
        ["path"], enrich_checked, target, error_col="__error",
    )
    assert s6.deletes == 1  # b.md's old target row swept
    assert app.errors(target).count() == 0

    # recovery via memo REPLAY (content reverts to a memoized value,
    # never entering the recompute set) must also clear the error row
    app.sync_table(src2, ["path"], enrich_checked, target, error_col="__error")
    assert app.errors(target).count() == 1
    s7 = app.sync_table(src3, ["path"], enrich_checked, target, error_col="__error")
    assert s7.memo_misses == 0  # b.md 'healed' replays from memo
    assert app.errors(target).count() == 0


def test_two_level_cheap_fp(app, spark, tmp_state):
    """Two-level change detection (cheap version checked before content
    fingerprint, component.rs:86-101): a warm run loads ZERO content
    rows; a cheap-only change (touched mtime, same content) loads but
    does not recompute; a real edit recomputes exactly its row."""
    target = _target(app, tmp_state)
    content = {"a.md": "alpha", "b.md": "beta", "c.md": "gamma"}

    def listing_df(revs):
        return spark.createDataFrame(
            [(p, r) for p, r in revs.items()], "path STRING, rev LONG"
        )

    def make_load(contents):
        cdf = spark.createDataFrame(list(contents.items()), "path STRING, text STRING")

        def load(df):
            return df.join(cdf, "path", "left")

        return load

    revs = {"a.md": 1, "b.md": 1, "c.md": 1}
    kw = dict(cheap_fp_cols=["rev"], load=make_load(content))
    s1 = app.sync_table(listing_df(revs), ["path"], enrich, target, **kw)
    assert s1.memo_misses == 3 and s1.inserts == 3
    assert s1.extra["cheap_hits"] == 0 and s1.extra["loaded"] == 3

    # warm: every component replays off the cheap fp — nothing loaded
    s2 = app.sync_table(listing_df(revs), ["path"], enrich, target, **kw)
    assert s2.memo_misses == 0 and s2.noops == 3
    assert s2.extra["cheap_hits"] == 3 and s2.extra["loaded"] == 0

    # touch: rev bumps but content identical ⇒ load happens, memo still
    # hits (content fp unchanged), reconcile no-ops
    revs2 = {"a.md": 2, "b.md": 1, "c.md": 1}
    s3 = app.sync_table(listing_df(revs2), ["path"], enrich, target, **kw)
    assert s3.extra["cheap_hits"] == 2 and s3.extra["loaded"] == 1
    assert s3.memo_misses == 0 and s3.noops == 3

    # real edit: rev bump + content change ⇒ one load, one recompute
    revs3 = {"a.md": 3, "b.md": 1, "c.md": 1}
    content3 = dict(content, **{"a.md": "ALPHA EDITED"})
    s4 = app.sync_table(
        listing_df(revs3), ["path"], enrich, target,
        cheap_fp_cols=["rev"], load=make_load(content3),
    )
    assert s4.extra["loaded"] == 1 and s4.memo_misses == 1
    assert s4.updates == 1 and s4.noops == 2
    assert _contents(target, spark)["a.md"] == ("ALPHA EDITED", 12)

    # delete: component vanishes ⇒ target row swept AND its source_fp
    # map row swept (no stale cheap entry left behind)
    revs4 = {"a.md": 3, "b.md": 1}
    s5 = app.sync_table(
        listing_df(revs4), ["path"], enrich, target,
        cheap_fp_cols=["rev"], load=make_load(content3),
    )
    assert s5.deletes == 1
    sfp_paths = {
        r["component_path"] for r in app.state.source_fp.read(spark).collect()
    }
    assert sfp_paths == {"t/docs_out/a.md", "t/docs_out/b.md"}

    # returning after delete: cold for that component again
    s6 = app.sync_table(
        listing_df(revs3), ["path"], enrich, target,
        cheap_fp_cols=["rev"], load=make_load(content3),
    )
    assert s6.inserts == 1 and s6.extra["cheap_hits"] == 2


def test_two_level_cheap_fp_inline_content(app, spark, tmp_state):
    """cheap_fp_cols WITHOUT a load callable: the content columns sit in
    the source frame itself; the engine derives a pruned listing and
    joins content back for cheap-miss rows only. Same contract as the
    load-callable path: warm ⇒ zero loaded, touch ⇒ load but memo-hit,
    edit ⇒ one recompute."""
    target = _target(app, tmp_state)

    def src(rows):
        return spark.createDataFrame(rows, "path STRING, rev LONG, text STRING")

    kw = dict(cheap_fp_cols=["rev"])
    s1 = app.sync_table(
        src([("a.md", 1, "alpha"), ("b.md", 1, "beta")]), ["path"], enrich, target, **kw
    )
    assert s1.inserts == 2 and s1.extra["loaded"] == 2

    s2 = app.sync_table(
        src([("a.md", 1, "alpha"), ("b.md", 1, "beta")]), ["path"], enrich, target, **kw
    )
    assert s2.extra["loaded"] == 0 and s2.memo_misses == 0 and s2.noops == 2

    # rev touched, content identical: loads one row, memo still hits
    s3 = app.sync_table(
        src([("a.md", 2, "alpha"), ("b.md", 1, "beta")]), ["path"], enrich, target, **kw
    )
    assert s3.extra["loaded"] == 1 and s3.memo_misses == 0 and s3.noops == 2

    # real edit
    s4 = app.sync_table(
        src([("a.md", 3, "ALPHA2"), ("b.md", 1, "beta")]), ["path"], enrich, target, **kw
    )
    assert s4.extra["loaded"] == 1 and s4.memo_misses == 1 and s4.updates == 1
    assert _contents(target, spark)["a.md"] == ("ALPHA2", 6)


def test_cheap_fp_converges_after_memo_loss(app, spark, tmp_state):
    """Crash-consistency of the two-level path: the source_fp map and
    the memo are written independently, so a run may persist one
    without the other. A cheap-fp hit whose memoized result is gone
    must fall back to load + recompute (never replay nothing), and the
    reverse (memo kept, map lost) must re-load, re-fingerprint, and
    memo-hit without recompute."""
    target = _target(app, tmp_state)
    content = {"a.md": "alpha", "b.md": "beta"}
    cdf = spark.createDataFrame(list(content.items()), "path STRING, text STRING")

    def load(df):
        return df.join(cdf, "path", "left")

    listing = spark.createDataFrame([("a.md", 1), ("b.md", 1)], "path STRING, rev LONG")
    kw = dict(cheap_fp_cols=["rev"], load=load)
    app.sync_table(listing, ["path"], enrich, target, **kw)

    # memo lost (GC'd / crashed before flush), map intact
    app.state.memo.overwrite(app.state.memo.read(spark).limit(0))
    s2 = app.sync_table(listing, ["path"], enrich, target, **kw)
    assert s2.extra["cheap_hits"] == 0 and s2.extra["loaded"] == 2
    assert s2.memo_misses == 2 and s2.noops == 2  # recomputed, values unchanged
    assert _contents(target, spark)["a.md"] == ("ALPHA", 5)

    # map lost, memo intact: re-load re-derives the same content fp
    app.state.source_fp.overwrite(app.state.source_fp.read(spark).limit(0))
    s3 = app.sync_table(listing, ["path"], enrich, target, **kw)
    assert s3.extra["loaded"] == 2 and s3.memo_misses == 0 and s3.noops == 2

    # fully healed: next run back to zero loads
    s4 = app.sync_table(listing, ["path"], enrich, target, **kw)
    assert s4.extra["loaded"] == 0 and s4.extra["cheap_hits"] == 2


def test_cheap_fp_with_error_isolation(app, spark, tmp_state):
    """Two-level detection + failure isolation together: a failed
    component's (cheap_fp -> content_fp) map row IS written, but it is
    never memoized — so an unchanged cheap fp still retries it through
    the cheap-hit/memo-miss load path until it heals."""
    target = _target(app, tmp_state)

    @fn(memo=True)
    def checked(df):
        err = F.when(F.col("text").contains("POISON"), F.lit("poison"))
        return df.select(
            "__args_fp", "__component_path", F.col("path"),
            F.upper(F.col("text")).alias("text_upper"),
            F.length(F.col("text")).alias("text_len"),
            err.alias("__error"),
        )

    def mk(contents):
        cdf = spark.createDataFrame(list(contents.items()), "path STRING, text STRING")
        return lambda df: df.join(cdf, "path", "left")

    listing = spark.createDataFrame([("a.md", 1), ("b.md", 1)], "path STRING, rev LONG")
    bad = {"a.md": "fine", "b.md": "POISON"}
    kw = dict(cheap_fp_cols=["rev"], error_col="__error")

    s1 = app.sync_table(listing, ["path"], checked, target, load=mk(bad), **kw)
    assert s1.inserts == 1 and s1.extra["errors"] == 1

    # unchanged listing: b.md cheap-hits the map but has no memo row,
    # so it re-loads and retries (and fails again); a.md stays cheap
    s2 = app.sync_table(listing, ["path"], checked, target, load=mk(bad), **kw)
    assert s2.extra["cheap_hits"] == 1 and s2.extra["loaded"] == 1
    assert s2.extra["errors"] == 1 and s2.memo_misses == 1

    # healed content under the SAME rev: the stored content fp was for
    # the poisoned bytes, so the reload computes a new args_fp, misses
    # memo, recomputes cleanly, and the error clears
    good = {"a.md": "fine", "b.md": "healed"}
    s3 = app.sync_table(listing, ["path"], checked, target, load=mk(good), **kw)
    assert s3.extra["errors"] == 0 and s3.inserts == 1
    assert app.errors(target).count() == 0
    assert _contents(target, spark)["b.md"] == ("HEALED", 6)

    # fully healthy warm run: zero loads, zero recomputes
    s4 = app.sync_table(listing, ["path"], checked, target, load=mk(good), **kw)
    assert s4.extra["loaded"] == 0 and s4.memo_misses == 0 and s4.noops == 2


def test_identical_duplicate_rows_collapse(app, spark, tmp_state):
    """Two fully-identical source rows (same key AND content) are one
    component: the memo must store exactly one copy of the result, and
    warm replays must not double the desired rows."""
    target = _target(app, tmp_state)
    src = _source(spark, [("a.md", "dup"), ("a.md", "dup"), ("b.md", "solo")])
    s1 = app.sync_table(src, ["path"], enrich, target)
    assert s1.inserts == 2 and target.read(spark).count() == 2

    # warm: replay path — the memoized entry holds ONE copy, so the
    # explode yields 2 desired rows (not 3 or 4) and everything noops
    s2 = app.sync_table(src, ["path"], enrich, target)
    assert s2.memo_misses == 0 and s2.noops == 2
    assert s2.inserts == 0 and s2.updates == 0 and s2.deletes == 0
    assert _contents(target, spark) == {"a.md": ("DUP", 3), "b.md": ("SOLO", 4)}


def test_empty_source_wipes_target(app, spark, tmp_state):
    """Source shrinking to zero rows deletes every target state and
    leaves a re-populatable app (delete-all then re-insert)."""
    t = _target(app, tmp_state)
    src = _source(spark, [("a", "x"), ("b", "yy")])
    app.sync_table(src, ["path"], enrich, t)

    empty = src.limit(0)
    st = app.sync_table(empty, ["path"], enrich, t)
    assert st.deletes == 2 and st.inserts == 0 and st.noops == 0
    assert t.read(spark).count() == 0

    # back from empty: clean re-insert (memo may replay, states rewrite)
    again = app.sync_table(src, ["path"], enrich, t)
    assert again.inserts == 2
    assert _contents(t, spark) == {"a": ("X", 1), "b": ("YY", 2)}


def test_replay_rewrite_restores_target_from_memo(app, spark, tmp_state):
    """A replayed (memo-hit) component whose tracking says
    may_be_missing must REWRITE its target rows from the memoized
    payload without recomputing — the recovery path that drives the
    sink phase's bucket-scoped memo fetch (payloads deserialize for
    exactly the replayed rows reconcile marks insert/update)."""
    t = _target(app, tmp_state)
    src = _source(spark, [("a", "alpha"), ("b", "beta"), ("c", "gamma")])
    app.sync_table(src, ["path"], enrich, t)

    # Simulate a sink that may have lost component 'b' (the reference's
    # prev_may_be_missing forcing, target_state.mdx:140-144): flip the
    # tracking flag, leaving source + memo untouched.
    tr = app.state.tracking.read(spark)
    flagged = tr.withColumn(
        "may_be_missing",
        F.when(F.col("component_path").endswith("/b"), F.lit(True)).otherwise(
            F.col("may_be_missing")
        ),
    )
    app.state.tracking.overwrite(flagged)

    st = app.sync_table(src, ["path"], enrich, t)
    assert st.memo_misses == 0, "recovery must replay from memo, not recompute"
    assert st.updates == 1 and st.inserts == 0 and st.deletes == 0
    rows = {r["path"]: r["text_upper"] for r in t.read(spark).collect()}
    assert rows == {"a": "ALPHA", "b": "BETA", "c": "GAMMA"}

    st2 = app.sync_table(src, ["path"], enrich, t)
    assert st2.updates == 0 and st2.noops > 0, "recovery converges to noop"


def test_cheap_path_logic_change_reloads_everything(app, spark, tmp_state):
    """The cheap fingerprint folds the LOGIC fp (fp_col(lit(logic_fp),
    cheap cols)), so editing the transform must invalidate every
    cheap-level hit and reload all content — a stale cheap map must
    never replay results of the OLD logic."""
    t = _target(app, tmp_state)
    rows = [("a", "alpha"), ("b", "beta")]
    src = _source(spark, rows).withColumn("mtime", F.length("text"))

    def load(df):
        return df  # content rides inline; listing cols suffice here

    st = app.sync_table(
        src, ["path"], enrich, t, cheap_fp_cols=["mtime"], load=load
    )
    assert st.memo_misses == 2

    warm = app.sync_table(
        src, ["path"], enrich, t, cheap_fp_cols=["mtime"], load=load
    )
    assert warm.memo_misses == 0 and warm.extra["loaded"] == 0

    @fn(memo=True, version=2)
    def enrich_v2(df):
        return df.select(
            "__args_fp",
            "__component_path",
            F.col("path"),
            F.lower(F.col("text")).alias("text_upper"),  # changed logic
            F.length(F.col("text")).alias("text_len"),
        )

    v2 = app.sync_table(
        src, ["path"], enrich_v2, t, cheap_fp_cols=["mtime"], load=load
    )
    assert v2.extra["loaded"] == 2, "logic edit must reload every row"
    assert v2.memo_misses == 2 and v2.updates == 2
    got = {r["path"]: r["text_upper"] for r in t.read(spark).collect()}
    assert got == {"a": "alpha", "b": "beta"}  # v2 lowercases


def test_null_pk_component_keeps_positions(spark):
    """name/<NULL>/7 must encode as 'name//7', not 'name/7' — and the
    parse must round-trip (NULL, 7) for safe non-string pk types (a
    dropped NULL would shift later segments onto earlier pk columns
    and the no-scan delete mapping would sweep the wrong key)."""
    df = spark.createDataFrame(
        [(None, 7), (3, 9)], "a int, b int"
    ).withColumn("__tp", App._path_col("t", ["a", "b"]))
    paths = {r["__tp"] for r in df.collect()}
    assert paths == {"t//7", "t/3/9"}

    back = _keys_from_paths(df.select("__tp"), "t", ["a", "b"], ["int", "int"])
    got = {(r["a"], r["b"]) for r in back.collect()}
    assert got == {(None, 7), (3, 9)}


def test_non_null_paths_unchanged(spark):
    """The explicit encoding is byte-identical to the old concat_ws
    form for non-null values (tracking target_path stability)."""
    df = spark.createDataFrame([("x", 1)], "k string, v int").withColumn(
        "__tp", App._path_col("tgt", ["k", "v"])
    )
    assert df.collect()[0]["__tp"] == "tgt/x/1"


def test_schemaless_readless_delete_target_fails_clearly(spark, app):
    """An apply-only sink (no `read`) without a `schema` cannot map
    dead paths to pk values; the sync must say so up front, not
    TypeError on None subscripting."""

    class ApplyOnly:
        name = "wire"
        pk = ["k"]

        def __init__(self):
            self.upserts = []

        def upsert(self, df):
            self.upserts.append(df.collect())

        def delete(self, df):  # pragma: no cover - unreachable
            raise AssertionError("delete should not be reached")

    tgt = ApplyOnly()
    src1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    with pytest.raises(TypeError, match="declares no `schema`"):
        app.sync_table(src1, ["k"], lambda d: d, tgt)


def test_mixed_sync_converges(spark, app, tmp_state):
    """Update + delete + insert in one sync: the sink and tracking each
    take both channels in one rewrite, and a re-run is all no-op."""
    tgt = app.target(f"{tmp_state}/t", ["k"], "k STRING, v INT")
    s1 = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    app.sync_table(s1, ["k"], lambda d: d, tgt)
    # mixed sync: edit a, delete b, add d
    s2 = spark.createDataFrame([("a", 10), ("c", 3), ("d", 4)], "k string, v int")
    st = app.sync_table(s2, ["k"], lambda d: d, tgt)
    assert st.updates == 1 and st.deletes == 1 and st.inserts == 1
    got = {(r["k"], r["v"]) for r in tgt.read(spark).collect()}
    assert got == {("a", 10), ("c", 3), ("d", 4)}
    again = app.sync_table(s2, ["k"], lambda d: d, tgt)
    assert again.noops == 3 and again.inserts == again.updates == again.deletes == 0


def _slow_writes(table, seconds, monkeypatch):
    """Delay every version write of one state table by ``seconds``."""
    write = table._write_version

    def slow(*args, **kwargs):
        time.sleep(seconds)
        return write(*args, **kwargs)

    monkeypatch.setattr(table, "_write_version", slow)


def test_failed_sync_joins_memo_flush(app, spark, tmp_state, monkeypatch):
    """A sync that raises after the memo flush started still joins the
    flush thread: no state write outlives the failed call."""
    target = _target(app, tmp_state)

    def sink_down(upserts, deletes, version):
        raise RuntimeError("sink down")

    monkeypatch.setattr(target, "apply", sink_down)
    _slow_writes(app.state.memo, 2.0, monkeypatch)
    with pytest.raises(RuntimeError, match="sink down"):
        app.sync_table(_source(spark, [("a.md", "hello")]), ["path"], enrich, target)
    assert not [
        t for t in threading.enumerate() if t.name == "memo-flush" and t.is_alive()
    ]


def test_source_fp_edit_and_sweep_both_land(app, spark, tmp_state, monkeypatch):
    """A full cheap-fp sync that edits `a` and deletes `b` records a's
    new cheap fp AND sweeps b's map row. The two writes overlap in time
    here (slow memo and map writes); a second writer would swap the
    pointer from a stale snapshot and drop one of them."""
    target = _target(app, tmp_state)

    def listing(revs):
        return spark.createDataFrame(list(revs.items()), "path STRING, rev LONG")

    def loader(contents):
        cdf = spark.createDataFrame(list(contents.items()), "path STRING, text STRING")
        return lambda df: df.join(cdf, "path", "left")

    content = {"a.md": "alpha", "b.md": "beta", "c.md": "gamma"}
    app.sync_table(
        listing({"a.md": 1, "b.md": 1, "c.md": 1}), ["path"], enrich, target,
        cheap_fp_cols=["rev"], load=loader(content),
    )

    _slow_writes(app.state.memo, 5.0, monkeypatch)
    _slow_writes(app.state.source_fp, 3.0, monkeypatch)
    revs2 = {"a.md": 2, "c.md": 1}
    kw = dict(cheap_fp_cols=["rev"], load=loader(dict(content, **{"a.md": "ALPHA2"})))
    s2 = app.sync_table(listing(revs2), ["path"], enrich, target, **kw)
    assert s2.updates == 1 and s2.deletes == 1
    monkeypatch.undo()

    sfp_paths = {r["component_path"] for r in app.state.source_fp.read(spark).collect()}
    assert sfp_paths == {"t/docs_out/a.md", "t/docs_out/c.md"}
    s3 = app.sync_table(listing(revs2), ["path"], enrich, target, **kw)
    assert s3.extra["loaded"] == 0 and s3.noops == 2
