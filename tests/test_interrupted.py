"""Interrupted-run convergence (custom_target_connector.mdx:211-213:
multiple possible previous records after interrupted runs;
submit_session.rs:54-66 stage markers; SURVEY §7.4.3: kill mid-run and
re-converge). A crash between the intent write and the sink apply must
leave state that the next run rolls forward, never trusting the tracked
fingerprint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cocoindex_spark.engine.app import App
from cocoindex_spark.engine.function import fn


@fn(memo=True)
def upcase(df):
    return df.select(
        "__args_fp", "__component_path", "path", F.upper("text").alias("up")
    )


@pytest.fixture()
def app(spark, tmp_state):
    a = App("intr", state_dir=tmp_state, spark=spark)
    yield a
    a.drop()


def test_crash_between_precommit_and_sink_apply_converges(app, spark, tmp_state):
    target = app.target(f"{tmp_state}/t", ["path"], "path STRING, up STRING")
    src1 = spark.createDataFrame([("a", "x"), ("b", "y")], "path STRING, text STRING")
    app.sync_table(src1, ["path"], upcase, target)

    # Edited source; crash the run right before the sink write (after
    # the intent is durably written).
    src2 = spark.createDataFrame([("a", "x2"), ("b", "y")], "path STRING, text STRING")
    real_apply = target.apply
    target.apply = lambda *args: (_ for _ in ()).throw(RuntimeError("simulated crash"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        app.sync_table(src2, ["path"], upcase, target)
    target.apply = real_apply

    # The intent holds the changing key `a`.
    assert [r.target_path for r in app.state.intent.read(spark).collect()] == ["t/a"]
    # Sink still has the OLD value (the write never happened).
    assert {r.path: r.up for r in target.read(spark).collect()}["a"] == "X"

    # Re-run: the recovered intent marks `a` may_be_missing, which
    # forces the write through even though the memo replays the
    # transform (hits are fine — the reconcile layer is what must not
    # no-op).
    s = app.sync_table(src2, ["path"], upcase, target)
    assert s.updates >= 1
    assert {r.path: r.up for r in target.read(spark).collect()} == {"a": "X2", "b": "Y"}

    # Converged: intent retired, no state marked, next run all-noop.
    assert app.state.intent.is_empty()
    tr2 = app.state.tracking.read(spark).collect()
    assert all(not r.may_be_missing and r.fp is not None for r in tr2)
    s3 = app.sync_table(src2, ["path"], upcase, target)
    assert s3.noops == 2 and s3.updates == 0


def test_repeated_identical_sync_is_idempotent(app, spark, tmp_state):
    """Convergent roll-forward: applying the same batch any number of
    times yields identical state (processing_component.mdx:248-253)."""
    target = app.target(f"{tmp_state}/t2", ["path"], "path STRING, up STRING")
    src = spark.createDataFrame([("a", "x")], "path STRING, text STRING")
    for i in range(3):
        s = app.sync_table(src, ["path"], upcase, target)
        if i == 0:
            assert s.inserts == 1
        else:
            assert s.noops == 1 and s.inserts == 0
    assert target.read(spark).count() == 1


def test_crash_on_pure_insert_sync_converges(app, spark, tmp_state):
    """A crash at the sink of a pure-insert sync leaves NO committed
    tracking rows, and the re-run re-classifies every component as
    insert — restoring payloads from the flushed memo (0 recomputes)
    through the bucket-scoped sink fetch."""
    target = app.target(f"{tmp_state}/t2", ["path"], "path STRING, up STRING")
    src = spark.createDataFrame([("a", "x"), ("b", "y")], "path STRING, text STRING")

    real_apply = target.apply
    target.apply = lambda *args: (_ for _ in ()).throw(RuntimeError("boom"))
    with pytest.raises(RuntimeError, match="boom"):
        app.sync_table(src, ["path"], upcase, target)
    # sync_table joins the memo-flush thread on every exit, so the
    # crashed run's memo rows are durable before it raises
    assert app.state.memo.read(spark).count() == 2
    target.apply = real_apply

    # tracking commit never ran
    assert app.state.tracking.read(spark).count() == 0
    assert target.read(spark).count() == 0

    s = app.sync_table(src, ["path"], upcase, target)
    assert s.inserts == 2
    assert s.memo_misses == 0, "recovery replays the crashed run's memo"
    assert {r.path: r.up for r in target.read(spark).collect()} == {"a": "X", "b": "Y"}

    s2 = app.sync_table(src, ["path"], upcase, target)
    assert s2.noops == 2 and s2.inserts == 0
