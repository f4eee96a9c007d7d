"""THE core operator: diff/reconcile of declared target states against
tracked states (rust/core/src/engine/execution.rs:917-1141;
docs custom_target_connector.mdx:29-68).

Spark realization (SURVEY.md §2.5): one full-outer join of the desired
DataFrame against the tracking table on (component_path, target_path),
classified into insert/update/delete/noop action rows, then applied as
idempotent MERGEs to the sink and the tracking table.

Convergence contract (the reference's roll-forward semantics,
processing_component.mdx:248-253):

- A no-op is declared only when the tracked fingerprint equals the
  desired one and ``may_be_missing`` is false
  (postgres/_target.py:870-875's suppression rule).
- ``may_be_missing=True`` forces a (re)write even when fingerprints
  match — used by full_reprocess, lossy child invalidation and
  interrupted-run recovery.
- A tracked row with a NULL ``fp`` is a state that may have reached the
  target but was never committed: it is an insert when desired and a
  delete when not.
- Re-running any phase is safe: sink apply is an idempotent MERGE, and
  every change is recorded in the state store's intent table before the
  sink is touched. A sync that finds an intent left by an interrupted
  run folds it into tracking first (``_SyncRun._recover_intent`` in
  engine/app.py), so inserts, updates and deletes all converge whatever
  the next source holds.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cocoindex_spark.session import is_local

ACTION_INSERT = "insert"
ACTION_UPDATE = "update"
ACTION_DELETE = "delete"
ACTION_NOOP = "noop"


@dataclass
class ReconcilePlan:
    """Classified action rows plus the op-count metrics the reference's
    test strategy asserts on (tests/common/target_states.py Metrics)."""

    actions: DataFrame  # component_path, target_path, action, fp, payload cols...

    def counts(self) -> dict[str, int]:
        """Per-action row counts; when the desired frame carried an
        ``__is_replay`` passthrough flag, also ``__replay_upserts`` —
        the number of insert/update rows belonging to REPLAYED (memo
        hit) components, folded into this same aggregate so callers can
        gate the sink's payload fetch on it without an extra job
        (normally 0: replays reconcile to noops). Driver-local actions
        (``session.is_local``) are counted on the driver, with no job."""
        has_flag = "__is_replay" in self.actions.columns
        replay = F.when(F.col("__is_replay"), 1).otherwise(0) if has_flag else F.lit(0)
        if is_local(self.actions):
            rows = self.actions.select("action", replay.alias("r")).collect()
            agg: dict[str, list[int]] = {}
            for action, r in rows:
                c = agg.setdefault(action, [0, 0])
                c[0] += 1
                c[1] += r
            rows = [(a, c, r) for a, (c, r) in agg.items()]
        else:
            rows = (
                self.actions.groupBy("action")
                .agg(F.count(F.lit(1)), F.sum(replay))
                .collect()
            )
        out = {ACTION_INSERT: 0, ACTION_UPDATE: 0, ACTION_DELETE: 0, ACTION_NOOP: 0}
        replay_upserts = 0
        for action, count, n_replay in rows:
            out[action] = count
            if action in (ACTION_INSERT, ACTION_UPDATE):
                replay_upserts += int(n_replay or 0)
        if has_flag:
            out["__replay_upserts"] = replay_upserts
        return out

    def changes(self) -> DataFrame:
        return self.actions.filter(F.col("action") != ACTION_NOOP)


def reconcile(
    desired: DataFrame,
    tracked: DataFrame | None = None,
    full_reprocess: bool = False,
) -> ReconcilePlan:
    """Classify desired vs tracked target states.

    desired: component_path, target_path, fp, + payload columns.
    tracked: the tracking-table schema (fp, may_be_missing);
    None when tracking is known to be empty — every desired state is
    then an insert, classified with no join (no shuffle).
    """
    payload_cols = [
        c for c in desired.columns if c not in ("component_path", "target_path", "fp")
    ]
    if tracked is None:
        insert = F.lit(ACTION_INSERT).alias("action")
        return ReconcilePlan(
            actions=desired.select("component_path", "target_path", insert, "fp", *payload_cols)
        )
    d = desired.alias("d")
    t = tracked.alias("t")
    joined = d.join(
        t,
        (F.col("d.component_path") == F.col("t.component_path"))
        & (F.col("d.target_path") == F.col("t.target_path")),
        "full_outer",
    )

    d_exists = F.col("d.target_path").isNotNull() | F.col("d.component_path").isNotNull()
    t_exists = F.col("t.target_path").isNotNull() | F.col("t.component_path").isNotNull()

    # No-op only when the fingerprint matches and the state can't be
    # missing from the sink.
    clean_noop = (F.col("t.fp") == F.col("d.fp")) & ~F.coalesce(
        F.col("t.may_be_missing"), F.lit(True)
    )
    if full_reprocess:
        clean_noop = F.lit(False)

    action = (
        F.when(d_exists & (~t_exists | F.col("t.fp").isNull()), ACTION_INSERT)
        .when(~d_exists & t_exists, ACTION_DELETE)
        .when(clean_noop, ACTION_NOOP)
        .otherwise(ACTION_UPDATE)
    )

    actions = joined.select(
        F.coalesce(F.col("d.component_path"), F.col("t.component_path")).alias("component_path"),
        F.coalesce(F.col("d.target_path"), F.col("t.target_path")).alias("target_path"),
        action.alias("action"),
        F.col("d.fp").alias("fp"),
        *[F.col(f"d.{c}").alias(c) for c in payload_cols],
    )
    return ReconcilePlan(actions=actions)


def tracking_updates(plan: ReconcilePlan, version: int) -> tuple[DataFrame, DataFrame]:
    """(upserts, delete_keys) for the tracking table after sink apply.

    Applied states record the desired fingerprint and clear
    ``may_be_missing``.
    """
    applied = plan.actions.filter(
        F.col("action").isin(ACTION_INSERT, ACTION_UPDATE)
    ).select(
        "component_path",
        "target_path",
        F.col("fp"),
        F.lit(False).alias("may_be_missing"),
        F.lit(version).cast("long").alias("version"),
    )
    deletes = plan.actions.filter(F.col("action") == ACTION_DELETE).select(
        "component_path", "target_path"
    )
    return applied, deletes

