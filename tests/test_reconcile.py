"""Reconcile classification semantics (execution.rs:917-1141):
insert/update/delete/noop, uncommitted (NULL-fp) tracked states, forced
reprocess, may_be_missing."""

from __future__ import annotations

from cocoindex_spark.engine.reconcile import reconcile
from cocoindex_spark.state.store import TRACKING_SCHEMA


def _desired(spark, rows):
    return spark.createDataFrame(
        rows, "component_path STRING, target_path STRING, fp STRING, payload STRING"
    )


def _tracked(spark, rows):
    # rows: (component_path, target_path, fp, may_be_missing, version)
    return spark.createDataFrame(rows, TRACKING_SCHEMA)


def _actions(plan):
    return {r["target_path"]: r["action"] for r in plan.actions.collect()}


def test_classification(spark):
    desired = _desired(
        spark,
        [
            ("c/1", "t/1", "fpA", "v1"),  # tracked same fp -> noop
            ("c/2", "t/2", "fpB2", "v2"),  # tracked different fp -> update
            ("c/3", "t/3", "fpC", "v3"),  # untracked -> insert
        ],
    )
    tracked = _tracked(
        spark,
        [
            ("c/1", "t/1", "fpA", False, 1),
            ("c/2", "t/2", "fpB", False, 1),
            ("c/4", "t/4", "fpD", False, 1),  # not declared -> delete
        ],
    )
    acts = _actions(reconcile(desired, tracked))
    assert acts == {"t/1": "noop", "t/2": "update", "t/3": "insert", "t/4": "delete"}


def test_uncommitted_desired_state_is_insert(spark):
    """A NULL tracked fp (folded from an interrupted run's intent: the
    state may be in the target but was never committed) is rewritten
    as an insert when still desired."""
    desired = _desired(spark, [("c/1", "t/1", "fpA", "v")])
    tracked = _tracked(spark, [("c/1", "t/1", None, True, 1)])
    assert _actions(reconcile(desired, tracked)) == {"t/1": "insert"}


def test_uncommitted_absent_state_is_delete(spark):
    """A NULL tracked fp no longer desired is deleted from the target."""
    desired = _desired(spark, [("c/1", "t/1", "fpA", "v")])
    tracked = _tracked(spark, [("c/1", "t/1", "fpA", False, 1), ("c/2", "t/2", None, True, 1)])
    assert _actions(reconcile(desired, tracked)) == {"t/1": "noop", "t/2": "delete"}


def test_may_be_missing_forces_update(spark):
    desired = _desired(spark, [("c/1", "t/1", "fpA", "v")])
    tracked = _tracked(spark, [("c/1", "t/1", "fpA", True, 1)])
    assert _actions(reconcile(desired, tracked)) == {"t/1": "update"}


def test_full_reprocess(spark):
    desired = _desired(spark, [("c/1", "t/1", "fpA", "v")])
    tracked = _tracked(spark, [("c/1", "t/1", "fpA", False, 1)])
    assert _actions(reconcile(desired, tracked, full_reprocess=True)) == {"t/1": "update"}


def test_counts(spark):
    desired = _desired(spark, [("c/1", "t/1", "fpA", "v"), ("c/2", "t/2", "fpN", "v")])
    tracked = _tracked(spark, [("c/1", "t/1", "fpA", False, 1)])
    counts = reconcile(desired, tracked).counts()
    assert counts == {"insert": 1, "update": 0, "delete": 0, "noop": 1}


def test_untracked_plan_is_all_inserts_without_a_join(spark):
    """tracked=None (tracking known empty): every desired state is an
    insert, payload columns pass through, and the plan has no join."""
    desired = _desired(spark, [("c/1", "t/1", "fpA", "v1"), ("c/2", "t/2", "fpB", "v2")])
    plan = reconcile(desired, None)
    assert _actions(plan) == {"t/1": "insert", "t/2": "insert"}
    assert plan.actions.columns == ["component_path", "target_path", "action", "fp", "payload"]
    assert "Join" not in plan.actions._jdf.queryExecution().optimizedPlan().toString()
