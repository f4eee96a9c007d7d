"""App: the engine's top-level pipeline runner (reference:
python/cocoindex/_internal/app.py:184 `class App`,
rust/core/src/engine/app.rs:87).

`sync_table` is the Spark-first restatement of the reference's
canonical pipeline — mount_each over keyed source items, memoized
transform, declare target states, reconcile, apply — as ONE DataFrame
program (SURVEY.md §3.1 "Spark restatement"):

    keyed source DF
      → row fingerprints (change detection)
      → memo anti-join on (logic_fp, args_fp)        [skip unchanged]
      → transform() only over misses                  [the user fn]
      → union memo hits (replayed results)
      → reconcile full-outer join vs tracking         [§2.5]
      → MERGE into sink + tracking commit + memo flush

One sync is a `_SyncRun` whose seven phases run in order, each timed
into ``SyncStats.extra["phase_ms"]`` under its own name:

    cheap_level          leftover-intent recovery, target contract, context
                         fold; with cheap_fp_cols the listing's cheap fps
                         vs the source_fp map
    transform_reconcile  memo lookup, transform over misses, reconcile; a
                         small change set goes driver-side (below)
    stats_counts         hit/miss counts; memo + source_fp flush thread starts
    sink_apply           intent write, idempotent MERGE into the target
    tracking_commit      tracking rewrite, intent retire, errors side table
    memo_flush_wait      flush-thread join, cache release (on every exit)
    cleanup              state-table growth / compaction

Incremental contract (BASELINE.md): warm re-run ⇒ 0 transform
invocations and all-noop reconcile; single-item edit ⇒ exactly that
item recomputed; deleted item ⇒ its target rows deleted.

Every step is a distributed DataFrame op — no driver-side loop over
items, but over a batch the driver already holds (below) — so the same
program runs unchanged on a 1000-executor cluster;
state tables shard by a hash of their bucket columns and the memo join
is a plain shuffle (or broadcast when small). Tracking buckets on
``component_path`` and a table target on the leading pk columns that
are also the sync's ``key_cols`` (inferred at each sync, recorded by the
target's first write), so a sync that changes k components rewrites at
most k buckets of each; ``SyncStats.extra["buckets_written"]`` counts
the target, tracking and memo buckets a sync rewrote.

Delta-sized commits: once transform_reconcile has counted a change set
that fits ``spark.sql.autoBroadcastJoinThreshold`` (the largest
relation Spark itself broadcasts to every executor), the change rows,
the target upsert rows and the memo rows are each computed once and
pinned on the driver as LocalRelations (``_SyncRun._localize``). Every
commit write then plans over driver-side frames: its bucket discovery
runs on the driver with no Spark job, and no write re-reads the
reconcile's lineage. Cold builds, ``full_reprocess``, no-op syncs and
larger change sets keep the distributed path, which a session with the
threshold at -1 forces for every sync.

Driver-side reconcile inputs: a non-cold sync whose source is already
on the driver (``session.is_local``: a FileWatcher batch, a ``LiveMap``,
any ``local_frame``) and whose session broadcasts at all (threshold
>= 0) also builds the reconcile's inputs there
(``_SyncRun._local_lookup``). One collect of the keyed projection, which
runs no job, gives the ``__args_fp`` dedup, a partial batch's scope and
the memo keys; the memo hits come from the batch's memo buckets only;
a partial batch reads only its components' tracking buckets (bucket ids
hashed on the driver; a tracking table still hashed on its whole key,
written before bucket columns existed, is read whole until its next
full rewrite); and the reconcile's actions (keys and fingerprints, no
payload) are pinned on the driver, so their counts and every commit
filter of them run no job. The transform output stays a cache until
the size gate above admits it. The same ``reconcile``, ``_desired``,
``_tracked`` and commit phases run over these smaller inputs; the
``cheap_fp_cols`` path and distributed sources keep the distributed
plans.
"""

from __future__ import annotations

import copy
import itertools
import os
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from cocoindex_spark.engine.context import (
    ContextKey,
    ContextProvider,
    _pop_active,
    _push_active,
)
from cocoindex_spark.engine.reconcile import reconcile, tracking_updates
from cocoindex_spark.fingerprint import fp_col, fp_logic, fp_value
from cocoindex_spark.session import is_local, local_frame, to_local
from cocoindex_spark.sinks.table import TableTarget
from cocoindex_spark.state.store import StateStore


# pk types whose string cast round-trips exactly through the path
# encoding (concat_ws writes the cast, _keys_from_paths casts back).
# Floats/decimals/binary/timestamps are excluded: their string reprs
# are not guaranteed bit-exact back-casts — those targets keep the
# read-based delete mapping.
_SAFE_PK_PARSE_TYPES = {
    "string", "bigint", "int", "smallint", "tinyint", "boolean", "date",
}


def _keys_from_paths(
    paths: DataFrame, target_name: str, pk: list[str], pk_types: list[str]
) -> DataFrame:
    """Recover pk value columns from target_path strings (``__tp`` =
    ``{target_name}/{pk1}/{pk2}/...``) — the delete channel for
    apply-only wire sinks that cannot be read back. Splitting is exact
    whenever the path encoding itself is unambiguous (pk string values
    containing '/' would already collide in tracking)."""
    rest = F.expr(f"substring(__tp, {len(target_name) + 2})")
    parts = F.split(rest, "/", len(pk))
    # try_cast, not cast: a NULL pk component encodes as an EMPTY
    # segment (see App._path_col), and '' must parse back to NULL
    # rather than throw under ANSI mode.
    return paths.select(
        *[
            parts.getItem(i).try_cast(pk_types[i]).alias(col)
            for i, col in enumerate(pk)
        ]
    )


@dataclass
class SyncStats:
    """Per-sync op counts — the metrics the reference's scenario tests
    assert on (tests/common/target_states.py Metrics/AtMost)."""

    memo_hits: int = 0
    memo_misses: int = 0
    inserts: int = 0
    updates: int = 0
    deletes: int = 0
    noops: int = 0
    wall_sec: float = 0.0
    extra: dict = field(default_factory=dict)


class App:
    def __init__(self, name: str, state_dir: str, spark: SparkSession | None = None):
        self.name = name
        if spark is None:
            from cocoindex_spark.session import get_spark

            spark = get_spark(f"cocoindex-{name}")
        self.spark = spark
        self.state = StateStore(os.path.join(state_dir, name))
        self.context = ContextProvider()

    # -- context DI (reference context_keys.py; docs context.mdx) ---------
    def provide(self, key: ContextKey, value):
        """Bind a context value for this app's lifetime. With
        ``detect_change=True`` on the key, the value's fingerprint
        joins the live set and memos recorded under a DIFFERENT value
        of this key stop hitting (context.mdx "Change detection").

        Provide-time memo-state validation (reference
        context_keys.py:180-200: ``state_methods`` run per provided
        value, persisted as ``context_memo_states``): a value carrying
        state methods (``__coco_memo_state__`` / registered
        ``state_fn``) runs them here against the states stored by the
        PREVIOUS provide (persisted in the engine's user-state table).
        All-valid outcomes keep the previous effective fingerprint —
        memos keep hitting even when the cheap state (an mtime, an
        ETag) refreshed; any invalid outcome mints a new fingerprint,
        so memos that consumed the key re-run even though the value's
        identity fp (e.g. a FileLike's path) never changed."""
        if not key.detect_change:
            return self.context.provide(key, value)
        import json as _json

        from cocoindex_spark.fingerprint import (
            NON_EXISTENCE,
            fp_value_with_states,
            resolve_outcomes,
        )

        base_fp, state_fns = fp_value_with_states(["context_key", key.key, value])
        if not state_fns:
            return self.context.provide(key, value, fp=base_fp)
        stored = self.get_state("__context__", key.key)
        prev = (
            stored.get("states")
            if stored is not None and stored.get("fp") == base_fp
            else None
        )
        outcomes = resolve_outcomes(
            [
                fn_(
                    prev[i]
                    if prev is not None and i < len(prev)
                    else NON_EXISTENCE
                )
                for i, fn_ in enumerate(state_fns)
            ]
        )
        new_states = _json.loads(_json.dumps([o.state for o in outcomes]))
        valid = (
            prev is not None
            and all(o.memo_valid for o in outcomes)
        )
        if valid:
            eff = stored["eff"]
            if new_states != stored.get("states"):
                self.set_state(
                    "__context__",
                    key.key,
                    {**stored, "states": new_states},
                )
        else:
            gen = (stored.get("gen", 0) + 1) if stored is not None else 0
            eff = fp_value(["context_key_state", key.key, base_fp, gen])
            self.set_state(
                "__context__",
                key.key,
                {"fp": base_fp, "states": new_states, "eff": eff, "gen": gen},
            )
        return self.context.provide(key, value, fp=eff)

    def provide_with(self, key: ContextKey, cm):
        """provide() via a context manager, closed at app.drop()."""
        return self.context.provide_with(key, cm)

    def use_context(self, key: ContextKey | str, t: type | None = None):
        return self.context.get(key, t)

    def _transform_context_fps(self, transform, source: DataFrame) -> set[str]:
        """The context fingerprints a transform's execution reads.

        Transforms are plan builders: their ``use_context()`` calls
        depend only on code, never on row values, so ONE
        plan-construction probe over an empty slice observes exactly
        the reads the real invocation makes (including reads inside
        helpers — transitive, like the reference's call-site tracking).
        Skipped entirely when no change-detected key is provided
        (zero probe cost for context-free apps). A probe that raises
        falls back to folding EVERY live fingerprint — conservative
        over-invalidation, never staleness."""
        if not self.context.has_change_detected():
            return set()
        probe = (
            source.limit(0)
            .withColumn("__args_fp", F.lit(""))
            .withColumn("__component_path", F.lit(""))
        )
        _push_active(self.context)
        try:
            with self.context.record() as rec:
                try:
                    transform(probe)
                except Exception:
                    return set(self.context.live_fps())
            return set(rec.fps)
        finally:
            _pop_active()

    # -- helpers ----------------------------------------------------------
    @staticmethod
    def _path_col(prefix: str, cols: list[str]) -> F.Column:
        # NULL pk components encode as an EMPTY segment (concat_ws
        # would silently DROP them, shifting every later segment so
        # _keys_from_paths would parse — and delete — the wrong key).
        # With the explicit encoding a NULL non-final component still
        # round-trips for non-string safe types ('' casts back to
        # NULL); NULL strings collide with '' exactly as they already
        # do in tracking.
        parts: list[F.Column] = [F.lit(prefix)]
        for c in cols:
            parts.append(F.lit("/"))
            parts.append(F.coalesce(F.col(c).cast("string"), F.lit("")))
        return F.concat(*parts)

    def target(self, path: str, pk: list[str], schema) -> TableTarget:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        return TableTarget(path, pk, schema)

    # -- the core sync ----------------------------------------------------
    def sync_table(
        self,
        source: DataFrame,
        key_cols: list[str],
        transform: Callable[[DataFrame], DataFrame],
        target: TableTarget,
        full_reprocess: bool = False,
        partial: bool = False,
        tombstone_col: str | None = None,
        validate_unique: bool = False,
        cheap_fp_cols: list[str] | None = None,
        load: Callable[[DataFrame], DataFrame] | None = None,
        error_col: str | None = None,
    ) -> SyncStats:
        """One catch-up update (app.update_blocking analog, §3.1).

        ``transform`` maps a keyed source DataFrame to target rows; it
        must carry the target's pk columns in its output and must be
        deterministic per input row (the memo contract).

        ``partial=True`` is the live/foreachBatch mode: only components
        present in this batch are reconciled (absent keys untouched —
        live_mode.mdx:56-64); a row whose ``tombstone_col`` is true
        declares key deletion (kafka topic_as_map null-payload
        semantics, live_mode.mdx:124-144). A ``tombstone_col`` implies
        ``partial=True``.

        ``validate_unique=True`` rejects two components declaring the
        same target state in one run (the reference always errors on
        duplicate declarations, execution.rs:264-303; here it costs one
        extra aggregation job, so it's opt-in — without it the upsert
        MERGE picks an arbitrary winner among duplicates).

        ``cheap_fp_cols`` enables **two-level change detection**
        (reference: the cheap version — mtime/size/etag — is validated
        before the content fingerprint is ever computed,
        rust/core/src/engine/component.rs:86-101; data_types.mdx:37-39).
        A per-component (cheap_fp → args_fp) mapping persists in the
        state store; components whose cheap fp matches replay their
        memoized result WITHOUT touching content columns, so a warm run
        is O(listing), not O(data). With ``load`` given, ``source`` is a
        metadata-only listing and ``load`` attaches content columns to
        exactly the rows whose cheap fp missed (it must preserve its
        input columns) — at 100 TB the warm path then reads zero content
        bytes. Without ``load``, content columns may sit in ``source``
        itself; column pruning keeps them out of the cheap-hit branch's
        scan. Ignored under ``full_reprocess``.

        ``error_col`` opts into **failure isolation** (the reference's
        rule: a failed component is logged and skipped, siblings
        continue — processing_component.mdx "What happens when a
        component fails"). The transform reports per-row failures by
        emitting that column (null = ok, else the error message; the
        embedder's split-retry shape). Any component with a failed row
        writes nothing — its previous target rows stay untouched, it is
        NOT memoized (so the next run retries it), and one row per
        failing component lands in the ``errors`` side table (cleared
        on recovery). ``stats.extra['errors']`` carries the count (the
        reference's UpdateStats error counts).
        """
        run = _SyncRun(
            self, source, key_cols, transform, target,
            full_reprocess=full_reprocess, partial=partial, tombstone_col=tombstone_col,
            validate_unique=validate_unique, cheap_fp_cols=cheap_fp_cols, load=load,
            error_col=error_col,
        )
        try:
            for phase in _PHASES[:-2]:
                run.timed(phase)
        finally:
            # On every exit: a failed sync must not leave the flush
            # thread writing state after sync_table has raised.
            run.timed("memo_flush_wait")
        if run.flush_err is not None:
            raise run.flush_err
        run.timed("cleanup")
        run.stats.wall_sec = time.perf_counter() - run.t0
        return run.stats

    # -- memo GC (§7.4.8; reference: version retention execution.rs:447-452,
    #    tombstone GC Phase 5 app_store.rs:316) --------------------------
    def call_fn(self, f: Callable, *args, **kwargs):
        """Driver-side memoized invocation of an ``@fn``-decorated plain
        Python function — the call-site path of SURVEY §3.2
        (``await embed(chunk)``: function.py:440-522 memo-key pipeline →
        memo_fingerprint.py:412 fingerprint_call → LMDB
        FunctionMemoization lookup, db_schema.rs:67-70).

        The memo key is (logic_fp, canonical-args fp) — args run the
        full memo-key canonicalization (dataclasses, pydantic,
        ``__coco_memo_key__`` overrides, registered key fns,
        NotMemoKeyable poison), after the function's per-parameter
        ``memo_key=`` overrides when declared (docs
        memoization_keys.mdx "Override at the call site": callable →
        transformed value, None → excluded). A dependency edit changes
        logic_fp and so transitively invalidates callers, the
        reference's rule. The lookup is a BUCKET-SCOPED single-key read
        of the memo table (one bucket's parquet, never a table scan);
        results round-trip as JSON. Rows written here carry decl_json
        NULL, which makes them invisible to sync_table's replay path
        (it filters ``decl_json IS NOT NULL``) — the two memo
        populations share the table but never cross.

        Context change detection (context.mdx): the call runs with this
        app as the active provider and records every change-detected
        ``use_context`` read; the observed fingerprints are stored in
        an envelope next to the result (the reference's per-entry
        ``context_memo_states``, execution.rs:124-137). A hit is valid
        only while every stored fingerprint is still live — a
        re-provided value drops its old fp from the live set, so the
        entry re-executes exactly when the context it consumed changed.
        """
        import json as _json

        from cocoindex_spark.fingerprint import (
            NON_EXISTENCE,
            fp_value_with_states,
            resolve_outcomes,
        )

        logic_fp = getattr(f, "logic_fp", None) or fp_logic(f)
        bound = getattr(f, "bound_memo_args", None)
        if bound is not None and getattr(f, "memo_key", None):
            key_tree = bound(args, kwargs)
        else:
            key_tree = [list(args), kwargs]
        args_fp, state_fns = fp_value_with_states(key_tree)
        key = local_frame(
            self.spark, [(logic_fp, args_fp)], "logic_fp STRING, args_fp STRING"
        )
        bks = self.state.memo.touched_buckets(key)
        hit = (
            self.state.memo.read(self.spark, bks)
            .filter(
                (F.col("logic_fp") == logic_fp) & (F.col("args_fp") == args_fp)
            )
            .select("result_json")
            .limit(1)
            .collect()  # single-row state read
        )
        stored = _json.loads(hit[0]["result_json"]) if hit else None
        # Every row _persist writes is an envelope (the few bytes buy a
        # marker that can never be confused with user data — a user
        # value that IS a dict with these keys gets wrapped like any
        # other value). The shape check below only matters for rows
        # written by pre-envelope versions, which stored bare values:
        # it requires the EXACT envelope key set (marker + v + only the
        # optional ctx/states), so a legacy bare user dict that happens
        # to carry the marker alongside other keys is returned intact
        # rather than unwrapped.
        envelope = (
            isinstance(stored, dict)
            and stored.get("__coco_memo__") == 1
            and "v" in stored
            and set(stored) <= {"__coco_memo__", "v", "ctx", "states"}
        )

        # memo STATE validation (memoization_keys.mdx "Memo state
        # validation", reference function.py _call_state_methods):
        # after a fingerprint match, every argument-borne state method
        # runs against its stored previous state (NON_EXISTENCE on
        # first sight); the hit survives only if ALL say memo_valid.
        # States persist for the next run either way — including the
        # "state changed but result still valid" refresh (new mtime,
        # same content hash).
        new_states: list | None = None
        states_valid = True
        if state_fns:
            prev_states = (
                stored.get("states") if envelope and stored.get("states") else None
            )
            outcomes = resolve_outcomes(
                [
                    fn_(
                        prev_states[i]
                        if prev_states is not None and i < len(prev_states)
                        else NON_EXISTENCE
                    )
                    for i, fn_ in enumerate(state_fns)
                ]
            )
            new_states = [o.state for o in outcomes]
            states_valid = all(o.memo_valid for o in outcomes)

        def _persist(value, ctx_fps: list) -> None:
            if not getattr(f, "memo", True):
                return
            payload = {"__coco_memo__": 1, "v": value}
            if ctx_fps:
                payload["ctx"] = ctx_fps
            if new_states is not None:
                payload["states"] = new_states
            row = local_frame(
                self.spark,
                [(logic_fp, args_fp, _json.dumps(payload), None, 0)],
                self.state.memo.schema,
            )
            self.state.memo.merge_upsert(row)

        if stored is not None:
            value = stored["v"] if envelope else stored
            ctx_ok = (not envelope) or self.context.all_live(stored.get("ctx", []))
            if ctx_ok and states_valid:
                # Compare through a JSON round-trip: state fns may
                # return tuples or other non-JSON-canonical shapes that
                # would never equal their stored (list-ified) form and
                # force a redundant upsert on every hit.
                if state_fns and _json.loads(_json.dumps(new_states)) != (
                    stored.get("states") if envelope else None
                ):
                    # valid hit with refreshed state: persist the new
                    # state so the next run takes the cheap path
                    _persist(value, stored.get("ctx", []) if envelope else [])
                return value
            # stale context or failed state validation: re-run below
        _push_active(self.context)
        try:
            with self.context.record() as rec:
                out = f(*args, **kwargs)
        finally:
            _pop_active()
        _persist(out, sorted(rec.fps))
        return out

    # Reserved logic_fp namespace for per-transform context-fold
    # history rows living inside the memo table. Real logic fps are
    # hex digests, so the prefix cannot collide with user rows; the
    # rows carry decl_json NULL and are invisible to sync replay.
    _CTX_HIST_PREFIX = "__ctxhist__:"

    def _record_ctx_history(self, base_fp: str, folded_fp: str) -> None:
        """Remember that ``base_fp`` has synced under context snapshot
        ``folded_fp`` — the breadcrumb gc_memo needs to find (and
        sweep) the memo generations stranded by context rotation."""
        row = local_frame(
            self.spark,
            [(self._CTX_HIST_PREFIX + base_fp, folded_fp, None, None, 0)],
            self.state.memo.schema,
        )
        self.state.memo.merge_upsert(row)

    def gc_memo(self, source: DataFrame, transform: Callable) -> int:
        """Sweep memo rows of ``transform`` whose args fingerprint no
        longer occurs in ``source`` — the rows only dead keys leave
        behind (hits of live keys are never rewritten, so age-based
        pruning would evict live entries; liveness against the current
        source is the correct criterion, and it's one anti-join).

        Context rotation: memo rows written under a PREVIOUS value of a
        ``detect_change`` context key carry a different folded
        logic_fp, which no current lookup addresses — an entire dead
        generation per rotation. sync_table records every folded fp it
        writes under (``_record_ctx_history``), and the sweep removes
        every generation other than the current snapshot's, plus the
        spent history breadcrumbs. (Rotating BACK to an old value
        re-runs cold — correct, never stale.)

        Returns the number of rows swept. Distributed end-to-end; at
        100 TB the sweep shuffles only the memo table's key columns.
        """
        base_fp = getattr(transform, "logic_fp", None) or fp_logic(transform)
        logic_fp = base_fp
        ctx_fps = self._transform_context_fps(transform, source)
        if ctx_fps:
            # the same context fold sync_table applies — the sweep must
            # address the rows the CURRENT context snapshot would read
            logic_fp = fp_value(["ctx", base_fp, sorted(ctx_fps)])
        live = source.select(
            fp_col(F.lit(logic_fp), *[F.col(c) for c in source.columns]).alias("args_fp")
        ).distinct()
        memo = self.state.memo.read(self.spark)
        rows = memo.filter(F.col("logic_fp") == logic_fp)
        dead = rows.join(live, "args_fp", "left_anti").select("logic_fp", "args_fp")
        hist_key = self._CTX_HIST_PREFIX + base_fp
        stale_gen_fps = [
            r["args_fp"]
            for r in memo.filter(F.col("logic_fp") == hist_key)
            .select("args_fp")
            .collect()  # bounded: one fp per historical context snapshot
            if r["args_fp"] != logic_fp
        ]
        if stale_gen_fps:
            stale_rows = memo.filter(F.col("logic_fp").isin(stale_gen_fps)).select(
                "logic_fp", "args_fp"
            )
            stale_hist = memo.filter(
                (F.col("logic_fp") == hist_key)
                & F.col("args_fp").isin(stale_gen_fps)
            ).select("logic_fp", "args_fp")
            dead = dead.unionByName(stale_rows)
            n = dead.count()
            if n:
                self.state.memo.delete_keys(dead.unionByName(stale_hist))
            return n
        n = dead.count()
        if n:
            self.state.memo.delete_keys(dead)
        return n

    def errors(self, target: TableTarget | None = None) -> DataFrame:
        """Currently-failing components (the exception-handler /
        progress-monitoring surface: UpdateStats error counts +
        per-component messages). Scoped to one target's prefix when
        given."""
        df = self.state.errors.read(self.spark)
        if target is not None:
            df = df.filter(
                F.col("component_path").startswith(f"{self.name}/{target.name}/")
            )
        return df.select("component_path", "error")

    def children(self, target: TableTarget) -> DataFrame:
        """Current child components of a target's sync prefix (the
        ChildExistence keyspace, db_schema.rs:0xa0). In this engine's
        flat component model the child set IS the tracked component
        set, so it's derived from tracking — the reconcile deletes
        above keep it exact with zero extra write cost per sync (the
        reference needs a separate keyspace because its components can
        declare target states elsewhere in the tree)."""
        return (
            self.state.tracking.read(self.spark)
            .filter(F.col("component_path").startswith(f"{self.name}/{target.name}/"))
            .select(F.col("component_path").alias("child_key"))
            .distinct()
        )

    # -- schema evolution (target_state.mdx:140-144; SURVEY §7.4.5) -------
    def _ensure_target_contract(self, run: _SyncRun) -> str:
        """Reconcile ``run``'s target's declared (pk, schema) against
        the stored contract from previous runs.

        - pk change ⇒ **destructive**: drop rows + tracking; children
          fully re-created (child_invalidation destructive).
        - column add/remove/retype ⇒ **lossy**: keep rows, force
          ``may_be_missing=True`` on this target's tracking so every
          state is written through on the next reconcile even when its
          fingerprint matches (lossy backfill).
        """
        target, component_prefix = run.target, run.prefix
        if not hasattr(target, "schema"):
            raise TypeError(
                f"target {target.name!r} declares no `schema` — every sink "
                "needs one for the stored (pk, columns) contract, and "
                "apply-only sinks (no `read`) additionally need it to parse "
                "pk values back from the path encoding on deletes"
            )
        declared = {
            "pk": target.pk,
            "columns": [[f.name, f.dataType.simpleString()] for f in target.schema.fields],
        }
        # APPLY-ONLY wire sinks (stream-load, qdrant, turbopuffer,
        # valkey) cannot persist metadata server-side; their contract
        # lives in the engine's own user-state table instead, so schema
        # evolution still detects pk/column changes for them.
        introspectable = hasattr(target, "stored_contract")
        _ckey = f"__contract/{component_prefix}"
        if introspectable:
            stored = target.stored_contract()
            store = target.store_contract
        else:
            stored = self.get_state(_ckey, "contract")

            def store() -> None:
                self.set_state(_ckey, "contract", declared)

        if stored is None:
            store()
            return "initial"
        if stored == declared:
            return "none"
        if stored["pk"] != declared["pk"]:
            tracked_keys = (
                self.state.tracking.read(self.spark)
                .filter(F.col("component_path").startswith(component_prefix + "/"))
                .select("component_path", "target_path")
            )
            if introspectable:
                target.truncate()
            else:
                # no truncate on an apply-only sink: sweep the tracked
                # target paths through its delete channel instead —
                # parsed with the OLD contract's pk (the paths encode
                # the previous key structure), and sent through a copy
                # of the target keyed by that pk, which is the key the
                # rows were written under
                old_types = dict(stored["columns"])
                dead_keys = _keys_from_paths(
                    tracked_keys.select(F.col("target_path").alias("__tp")),
                    target.name,
                    stored["pk"],
                    [old_types[c] for c in stored["pk"]],
                )
                old_target = copy.copy(target)
                old_target.pk = stored["pk"]
                old_target.apply(None, dead_keys, run.version)
            self.state.tracking.delete_keys(tracked_keys)
            store()
            return "destructive"
        # lossy: widen may_be_missing on every tracked state of this target
        tracked = self.state.tracking.read(self.spark).filter(
            F.col("component_path").startswith(component_prefix + "/")
        )
        self.state.tracking.merge_upsert(
            tracked.withColumn("may_be_missing", F.lit(True))
        )
        store()
        return "lossy"

    # -- user state (coco.use_state, api.py:791-885) ----------------------
    def set_state(self, component_path: str, state_key: str, value) -> None:
        """Persist a per-component scratch value (survives runs; the
        reference's UserState keyspace, db_schema.rs:0x34). Values are
        JSON-serialized — the Spark analog of the reference's msgspec
        serde for persisted values (serde.py)."""
        import json

        row = local_frame(
            self.spark,
            [(component_path, state_key, json.dumps(value), int(time.time() * 1000))],
            self.state.user_state.schema,
        )
        self.state.user_state.merge_upsert(row)

    def get_state(self, component_path: str, state_key: str, default=None):
        import json

        rows = (
            self.state.user_state.read(self.spark)
            .filter(
                (F.col("component_path") == component_path)
                & (F.col("state_key") == state_key)
            )
            .select("value_json")
            .collect()
        )
        return json.loads(rows[0][0]) if rows else default

    def set_states(self, df: DataFrame, state_key: str) -> None:
        """Bulk variant: one state value per component — DF(component_path,
        value_json). Distributed MERGE, no driver loop (the per-key
        states of a 100 TB run never pass through the driver)."""
        version = int(time.time() * 1000)
        rows = df.select(
            "component_path",
            F.lit(state_key).alias("state_key"),
            F.col("value_json"),
            F.lit(version).cast("long").alias("version"),
        )
        self.state.user_state.merge_upsert(rows)

    def get_states(self, state_key: str) -> DataFrame:
        return (
            self.state.user_state.read(self.spark)
            .filter(F.col("state_key") == state_key)
            .select("component_path", "value_json")
        )

    def drop(self) -> None:
        """App drop: remove all engine state (tombstone GC analog,
        app_store.rs:316)."""
        self.context.close()
        self.state.drop()


# The phases of one sync, in run order; each names a _SyncRun method and
# a key of SyncStats.extra["phase_ms"].
_PHASES = (
    "cheap_level",
    "transform_reconcile",
    "stats_counts",
    "sink_apply",
    "tracking_commit",
    "memo_flush_wait",
    "cleanup",
)


def _cached_bytes(df: DataFrame) -> int:
    """The in-memory size a materialized cache of ``df`` reports — a
    driver-side read of the cache's accumulated statistics, no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _observed_n(obs, df: DataFrame) -> int:
    """The row count an Observation recorded while ``df``'s cache
    materialized — a driver-side read, not a job. When the optimizer
    erased the observed subtree (empty-relation propagation through a
    limit(0)/empty source drops the CollectMetrics node) the metrics row
    is absent, and the cached frame — empty or tiny in exactly those
    cases — is counted instead. The absent-row probe is the non-blocking
    JVM ``getRowOrEmpty``: ``Observation.get`` raises on PySpark 4 but
    blocks forever on 3.x (pyproject.toml pins pyspark>=4)."""
    try:
        jo = getattr(obs, "_jo", None)
        if jo is None or jo.getRowOrEmpty().isEmpty():
            return df.count()
        return int(obs.get["n"])
    except Exception:
        return df.count()


class _SyncRun:
    """One ``App.sync_table`` call: its options, the frames its phases
    hand on, and one method per phase of ``_PHASES``. Every phase runs
    on every sync and returns at once when an earlier phase left it
    nothing to do. Phases are action boundaries — lazy plan
    construction costs nothing — so a phase's time is the Spark jobs it
    ran. ``local_in`` says whether the reconcile's inputs were built on
    the driver (``_local_lookup``): then the keyed rows, the misses,
    the memo hits, a partial batch's scope and ``plan.actions`` are
    LocalRelations. ``local`` says whether the commit phases run over
    driver-side frames (``_localize``): then ``plan.actions`` holds only
    the change rows and ``upsert_rows`` the target's upserts, both
    LocalRelations. Otherwise ``upsert_rows`` is None and sink_apply
    builds the upserts as a lineage over the reconcile's caches."""

    def __init__(
        self, app: App, source, key_cols, transform, target, *,
        full_reprocess, partial, tombstone_col, validate_unique, cheap_fp_cols, load, error_col,
    ):
        self.t0 = time.perf_counter()
        self.app, self.spark, self.state = app, app.spark, app.state
        self.source, self.key_cols = source, key_cols
        self.transform, self.target = transform, target
        self.full_reprocess = full_reprocess
        self.partial = partial or tombstone_col is not None
        self.tombstone_col = tombstone_col
        self.validate_unique = validate_unique
        self.cheap_fp_cols = cheap_fp_cols or []
        self.use_cheap = bool(cheap_fp_cols) and not full_reprocess
        self.load = load
        self.error_col = error_col
        self.stats = SyncStats()
        self.phase_ms: dict[str, int] = {}
        self.stats.extra["phase_ms"] = self.phase_ms
        self.version = int(time.time() * 1000)
        self.logic_fp = getattr(transform, "logic_fp", None) or fp_logic(transform)
        self.prefix = f"{app.name}/{target.name}"
        self.failed_paths = self.flush_thread = self.flush_err = None
        self.local = self.local_in = False
        self.upsert_rows: DataFrame | None = None
        self.tracked_buckets: list[int] | None = None  # None: the whole prefix is read
        self._cached: list[DataFrame] = []
        self.target_table = getattr(target, "_table", None)
        # the state tables whose rewritten buckets the sync reports
        self.written_tables = {"tracking": app.state.tracking, "memo": app.state.memo}
        if self.target_table is not None:
            self.written_tables["target"] = self.target_table
        self.pointers_at_start = {k: t._pointer() for k, t in self.written_tables.items()}

    def timed(self, phase: str) -> None:
        t = time.perf_counter()
        getattr(self, phase)()
        self.phase_ms[phase] = int((time.perf_counter() - t) * 1000)

    def _cache(self, df: DataFrame) -> DataFrame:
        """Cache ``df`` for this sync; memo_flush_wait releases it."""
        df = df.cache()
        self._cached.append(df)
        return df

    @property
    def changed(self) -> bool:
        return bool(self.stats.inserts or self.stats.updates or self.stats.deletes)

    # ---- cheap_level --------------------------------------------------
    def cheap_level(self) -> None:
        """Leftover-intent recovery, target contract, live-mode scope,
        context fold and memo scan; with ``cheap_fp_cols``, level 1 of
        two-level change detection: the listing's cheap fps against the
        source_fp map."""
        app, spark = self.app, self.spark
        if not self.state.intent.is_empty():
            self._recover_intent()
        self.stats.extra["schema_evolution"] = app._ensure_target_contract(self)
        if self.stats.extra["schema_evolution"] == "destructive":
            # a memo entry's declared target paths encode the old pk, so
            # no replay can rebuild the dropped rows: recompute them all
            self.full_reprocess, self.use_cheap = True, False
        if self.target_table is not None:
            # One component's target rows share a bucket: hash the leading
            # pk columns that are also key columns. A full write of the
            # table (its first one included) records them.
            lead = itertools.takewhile(self.key_cols.__contains__, self.target_table.key_cols)
            self.target_table.bucket_cols = list(lead) or None
        self.batch = self.source  # with its tombstones, for _local_lookup
        if self.partial:
            self.scope_paths = self.source.select(
                app._path_col(self.prefix, self.key_cols).alias("component_path")
            ).distinct()
        if self.tombstone_col is not None:
            self.source = self.source.filter(
                ~F.coalesce(F.col(self.tombstone_col), F.lit(False))
            ).drop(self.tombstone_col)
        # Fold change-detected context reads into the memo identity:
        # memo rows written under a context snapshot carry its combined
        # fingerprint in logic_fp, so re-providing a different value
        # makes every lookup miss (and the rows GC as dead keys) while
        # an unchanged context keeps hitting — the reference's
        # "context fps match" hit condition (execution.rs memo reuse;
        # logic_registry.rs:35) expressed as one key instead of a
        # per-row fp-set check, valid because one sync shares one
        # context snapshot across all rows.
        ctx_fps = app._transform_context_fps(self.transform, self.source)
        if ctx_fps:
            base_logic_fp = self.logic_fp
            self.logic_fp = fp_value(["ctx", base_logic_fp, sorted(ctx_fps)])
            # Record the folded fp in the per-transform context history
            # (one tiny idempotent upsert, context users only): gc_memo
            # reads this to sweep rows written under PREVIOUS context
            # values, whose folded fp no current lookup can address.
            app._record_ctx_history(base_logic_fp, self.logic_fp)
        # NOT cached: each consumer needs a different column subset —
        # key-only joins (probe, hit/miss split) must keep parquet
        # column pruning and never read the json payload columns, which
        # a whole-frame cache would force into memory. Rows without
        # decl metadata (written before the column existed) are
        # invisible here — they recompute once and converge.
        self.memo_df = (
            self.state.memo.read(spark)
            .filter(F.col("logic_fp") == self.logic_fp)
            .filter(F.col("decl_json").isNotNull())
        )
        self.memo_keys = self.memo_df.select(F.col("args_fp").alias("__args_fp"))
        if not self.use_cheap:
            return
        key_cols, cheap_cols = self.key_cols, self.cheap_fp_cols
        if self.load is None:
            # Content columns live in `source` itself: derive a pruned
            # listing (keys + cheap cols only — the cache below
            # materializes every column it is given, so the content
            # must not be among them) and re-attach the remaining
            # columns by key for exactly the cheap-miss rows. The
            # content side scans once, on the miss branch only.
            content_side = self.source.drop(*[c for c in cheap_cols if c not in key_cols])
            self.source = self.source.select(*dict.fromkeys([*key_cols, *cheap_cols]))
            self.load = lambda df: df.join(content_side, key_cols, "left")
        listing = (
            self.source.withColumn(
                "__cheap_fp",
                fp_col(F.lit(self.logic_fp), *[F.col(c) for c in cheap_cols]),
            )
            .withColumn("__component_path", app._path_col(self.prefix, key_cols))
            .dropDuplicates(["__component_path", "__cheap_fp"])
        )
        sfp = (
            self.state.source_fp.read(spark)
            .filter(F.col("component_path").startswith(self.prefix + "/"))
            .select(
                F.col("component_path").alias("__component_path"),
                F.col("cheap_fp").alias("__cheap_fp"),
                F.col("args_fp").alias("__args_fp"),
            )
        )
        # ONE metadata-only frame (listing ⋈ fp-map ⋈ memo keys — no
        # content column anywhere) is computed ONCE and cached; the
        # hit/miss split, the replay branch, and both cheap-path counts
        # (rows that must load content; replays that skip content I/O
        # entirely) all derive from it as cache-backed filters, so the
        # metadata joins run once per sync.
        self.cheap_probe = self._cache(
            listing.join(sfp, ["__component_path", "__cheap_fp"], "left").join(
                self.memo_keys.withColumn("__in_memo", F.lit(True)), "__args_fp", "left"
            )
        )
        # A cheap hit only skips loading if its memoized result still
        # exists (__in_memo); a GC'd memo entry falls back to the
        # load path.
        replayable = F.col("__args_fp").isNotNull() & F.col("__in_memo").isNotNull()
        self.need_load = self.cheap_probe.filter(~replayable).drop("__args_fp", "__in_memo")
        # Replays carry METADATA only (decl_json) — the fat result_json
        # column stays out of every main-path memo scan; the sink phase
        # fetches payloads bucket-scoped for exactly the replayed rows
        # that must rewrite (normally zero).
        self.cheap_replay = (
            self.cheap_probe.filter(replayable)
            .select("__args_fp", "__component_path")
            .join(
                self.memo_df.select(F.col("args_fp").alias("__args_fp"), "decl_json"),
                "__args_fp",
                "inner",
            )
        )
        n_total, n_cheap = self.cheap_probe.agg(
            F.count(F.lit(1)), F.sum(F.when(replayable, 1).otherwise(0))
        ).first()
        self.stats.extra["cheap_hits"] = n_cheap = int(n_cheap or 0)
        self.stats.extra["loaded"] = int(n_total) - n_cheap

    def _recover_intent(self) -> None:
        """Fold an intent left by an interrupted sync (of any target of
        this app) into tracking, then clear it. Every intent key is
        marked ``may_be_missing``; one with no tracking row gets a NULL
        fp, which reconcile reads as "maybe in the target, never
        committed". The next sync that covers a key then rewrites it if
        desired and deletes it if not; keys out of a partial batch's
        scope stay marked until one does."""
        tracking = self.state.tracking
        keys = self.state.intent.read(self.spark)
        bks = tracking.touched_buckets(keys)
        folded = keys.join(
            tracking.read(self.spark, bks), ["component_path", "target_path"], "left"
        ).select(
            "component_path",
            "target_path",
            "fp",
            F.lit(True).alias("may_be_missing"),
            F.coalesce("version", F.lit(self.version)).cast("long").alias("version"),
        )
        tracking.merge_upsert(folded, touched=bks)
        self.state.intent.clear()

    # ---- transform_reconcile -------------------------------------------
    def _keyed(self) -> DataFrame:
        """Source rows keyed by content fingerprint (``__args_fp``) and
        component path. On the cheap path only the cheap misses load
        content; when none do, an empty LocalRelation stands in, which
        the optimizer prunes (PropagateEmptyRelation) out of every plan
        it feeds — executing load()'s plan over an empty input would
        still scan its right side, the O(data) warm cost this path
        exists to eliminate."""
        app, logic = self.app, F.lit(self.logic_fp)
        if not self.use_cheap:
            src_cols = list(self.source.columns)
            keyed = self.source.withColumn(
                "__args_fp", fp_col(logic, *[F.col(c) for c in src_cols])
            ).withColumn("__component_path", app._path_col(self.prefix, self.key_cols))
        else:
            loaded = self.load(self.need_load)
            if self.stats.extra["loaded"] == 0:
                loaded = local_frame(self.spark, [], loaded.schema)
            # The content fingerprint (and the transform's view)
            # excludes the volatile cheap columns: a touched mtime with
            # identical content must memo-hit, not recompute
            # (component.rs:97-101 — the content fp is over content, the
            # cheap version is only a validation hint). Key columns are
            # never stripped.
            volatile = set(self.cheap_fp_cols) - set(self.key_cols)
            src_cols = [
                c
                for c in loaded.columns
                if c not in ("__cheap_fp", "__component_path") and c not in volatile
            ]
            keyed = loaded.withColumn(
                "__args_fp", fp_col(logic, *[F.col(c) for c in src_cols])
            )
        self.src_cols = src_cols
        # __args_fp covers every source column (keys included), so equal
        # fingerprints ⇒ fully-identical rows ⇒ the same component.
        # Collapse them here: otherwise the memo flush would collect both
        # copies' outputs under one fingerprint and each later hit would
        # replay the doubled array (duplicate target declarations). The
        # dedup partitions by __args_fp — the same key the memo join
        # shuffles on — so the exchange is reused, not added.
        return keyed.dropDuplicates(["__args_fp"])

    def transform_reconcile(self) -> None:
        """Memo lookup, the user transform over misses only, failure
        isolation, target-state declarations, and the reconcile diff
        against tracking (§2.5), counted per action in one job. A
        non-cold sync of a source already on the driver
        (``session.is_local``) looks its batch up on the driver
        (``_local_lookup``) and pins its actions there, so the action
        counts and every later filter of them run with no job."""
        # A freshly-created state store (first sync of a served index,
        # any new App) provably holds nothing: the pointer files are
        # empty — a driver-side read, no job. Everything is then a memo
        # miss and every desired row an insert, so the memo lookup joins
        # and the reconcile join are skipped outright. Guarded on BOTH
        # tables: a non-empty memo with empty tracking (e.g. a prior run
        # crashed after the memo flush) still takes the full path, whose
        # replay/reconcile semantics that recovery depends on.
        self.cold_start = (
            not self.full_reprocess
            and self.state.tracking.is_empty()
            and self.state.memo.is_empty()
        )
        self.local_in = (
            not (self.cold_start or self.full_reprocess or self.use_cheap)
            and self.spark._jconf.autoBroadcastJoinThreshold() >= 0
            and is_local(self.batch)
        )
        hits_keys = self._local_lookup() if self.local_in else self._lookup()
        # Run the transform ONLY over misses (always run it so we learn
        # the output schema even when everything hit). The app is the
        # active context provider for the duration: use_context() works
        # inside the transform and its helpers.
        _push_active(self.app.context)
        try:
            miss_out = self.transform(
                self.miss_src.select(*self.src_cols, "__args_fp", "__component_path")
            )
        finally:
            _pop_active()
        if "__args_fp" not in miss_out.columns:
            raise ValueError("transform must preserve the __args_fp column")
        self.out_cols = [
            c for c in miss_out.columns if c not in ("__args_fp", "__component_path")
        ]
        self.miss_out = self._cache(miss_out)
        if self.error_col is not None:
            self._isolate_failures()

        replay_src = hits_keys.select("__args_fp", "__component_path", "decl_json")
        if self.use_cheap:
            # Cheap-fp hits never loaded content; their memoized
            # metadata came from the replay join in cheap_level.
            replay_src = replay_src.unionByName(self.cheap_replay)
        desired = self._desired(replay_src)
        if self.validate_unique:
            dup = (
                desired.groupBy("target_path")
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"duplicate target state declared: {dup[0]['target_path']!r} "
                    "(two components produced the same target pk this run)"
                )
        tracked = None if self.cold_start else self._tracked()
        self.plan = reconcile(desired, tracked, full_reprocess=self.full_reprocess)
        # The actions carry keys and fingerprints, never payload columns.
        pin = to_local if self.local_in else self._cache
        self.plan.actions = pin(self.plan.actions)
        self.counts = self.plan.counts()
        self.stats.inserts = self.counts["insert"]
        self.stats.updates = self.counts["update"]
        self.stats.deletes = self.counts["delete"]
        self.stats.noops = self.counts["noop"]
        self._localize()

    def _lookup(self) -> DataFrame:
        """The memo lookup join (§3.2: anti-join against _state/memo):
        sets the keyed frame and the misses, both cached with their row
        counts observed, and returns the memo hits."""
        # Row counts ride as observations INSIDE the cached plans: the
        # metrics fire during the caches' first (full) materialization —
        # the reconcile-phase jobs that run anyway — so stats_counts
        # reads driver-side values instead of launching two more
        # cache-scan jobs per sync. The first materializing actions
        # (duplicate-declaration check, plan.counts) are full scans, so
        # the observed counts are exact.
        self.obs_keyed = Observation()
        self.keyed = self._cache(
            self._keyed().observe(self.obs_keyed, F.count(F.lit(1)).alias("n"))
        )
        if not self.full_reprocess and not self.cold_start:
            hits_keys = self.keyed.join(
                self.memo_df.select(F.col("args_fp").alias("__args_fp"), "decl_json"),
                "__args_fp",
                "inner",
            )
            miss_src = self.keyed.join(self.memo_keys, "__args_fp", "left_anti")
        else:
            hits_keys = self.keyed.limit(0).withColumn(
                "decl_json", F.lit(None).cast("string")
            )
            miss_src = self.keyed
        self.obs_miss = Observation()
        self.miss_src = self._cache(
            miss_src.observe(self.obs_miss, F.count(F.lit(1)).alias("n"))
        )
        return hits_keys

    def _local_lookup(self) -> DataFrame:
        """The driver-side twin of ``_keyed`` and ``_lookup`` for a batch
        already on the driver. One collect of the keyed projection,
        which the optimizer folds onto the LocalRelation (no job), gives
        the ``__args_fp`` dedup, the partial batch's scope and the memo
        keys. The memo hits are read from the batch's memo buckets only
        (discovered on the driver), semi-joined to its keys and
        collected once. The misses and the hits come back as
        LocalRelations, with their row counts known on the driver."""
        spark, logic_fp = self.spark, self.logic_fp
        self.src_cols = src_cols = list(self.source.columns)
        tomb = F.lit(False)
        if self.tombstone_col is not None:
            tomb = F.coalesce(F.col(self.tombstone_col), F.lit(False))
        keyed = self.batch.select(
            *src_cols,
            fp_col(F.lit(logic_fp), *[F.col(c) for c in src_cols]).alias("__args_fp"),
            self.app._path_col(self.prefix, self.key_cols).alias("__component_path"),
            tomb.alias("__tomb"),
        )
        rows = keyed.collect()
        keyed = keyed.drop("__tomb")
        if self.partial:
            scope = dict.fromkeys((r["__component_path"],) for r in rows)
            self.scope_paths = local_frame(spark, scope, "component_path STRING")
        # equal fingerprints ⇒ fully-identical rows (see _keyed)
        live: dict[str, tuple] = {}
        for r in rows:
            if not r["__tomb"]:
                live.setdefault(r["__args_fp"], tuple(r)[:-1])
        hits: dict[str, str] = {}
        if live and not self.state.memo.is_empty():
            memo = self.state.memo
            keys = local_frame(
                spark, [(logic_fp, fp) for fp in live], "logic_fp STRING, args_fp STRING"
            )
            hits = dict(
                memo.read(spark, memo.touched_buckets(keys))
                .filter(F.col("logic_fp") == logic_fp)
                .filter(F.col("decl_json").isNotNull())
                .join(keys.select("args_fp"), "args_fp", "left_semi")
                .select("args_fp", "decl_json")
                .collect()  # bounded: one row per batch row
            )
        self.n_keyed = len(live)
        misses = [row for fp, row in live.items() if fp not in hits]
        self.n_miss = len(misses)
        self.miss_src = local_frame(spark, misses, keyed.schema)
        path_at = keyed.columns.index("__component_path")
        return local_frame(
            spark,
            [(fp, live[fp][path_at], decl) for fp, decl in hits.items()],
            "__args_fp STRING, __component_path STRING, decl_json STRING",
        )

    def _localize(self) -> None:
        """A small change set becomes driver-side frames, once. The
        change rows (the non-noop actions) and the target upsert rows
        are computed by their usual lineage over the reconcile's caches,
        collected through Arrow and rebuilt as LocalRelations
        (``session.to_local``); the flush thread does the same for the
        memo rows. Intent keys, dead keys and tracking updates are
        projections and filters of the local change rows, so every
        commit write's bucket discovery runs on the driver and no write
        re-reads the reconcile's lineage. "Small" is the bytes the
        materialized caches report (``plan.actions`` scaled to its
        changed rows, plus ``miss_out``) within
        ``spark.sql.autoBroadcastJoinThreshold``, the largest relation
        Spark itself broadcasts to every executor. Cold builds,
        ``full_reprocess`` and no-op syncs keep the distributed path.
        After ``_local_lookup`` the actions already are driver-side, so
        only the upsert rows are collected here."""
        if self.cold_start or self.full_reprocess or not self.changed:
            return
        n_changed = self.stats.inserts + self.stats.updates + self.stats.deletes
        est = _cached_bytes(self.plan.actions) * n_changed // (n_changed + self.stats.noops)
        est += _cached_bytes(self.miss_out)
        if not 0 <= est <= self.spark._jconf.autoBroadcastJoinThreshold():
            return
        if self.stats.inserts or self.stats.updates:
            self.upsert_rows = to_local(self._upsert_rows())
        self.plan.actions = to_local(self.plan.changes())
        self.local = True

    def _isolate_failures(self) -> None:
        """The ``error_col`` contract at component granularity: one
        failed row fails the whole component — none of its rows are
        declared or memoized."""
        error_col = self.error_col
        if error_col not in self.miss_out.columns:
            raise ValueError(f"error_col {error_col!r} not in transform output columns")
        self.out_cols = [c for c in self.out_cols if c != error_col]
        self.failed_paths = self._cache(
            self.miss_out.filter(F.col(error_col).isNotNull())
            .groupBy("__component_path")
            .agg(F.min(error_col).alias("error"))
        )
        self.stats.extra["errors"] = self.failed_paths.count()
        self.miss_out = self._cache(
            self.miss_out.join(
                self.failed_paths.select("__component_path"),
                "__component_path",
                "left_anti",
            ).drop(error_col)
        )

    def _desired(self, replay_src: DataFrame) -> DataFrame:
        """Declared target states of misses and replayed hits.
        Replayed components feed reconcile from the decl metadata
        recorded at flush time: two short strings parsed per component
        instead of the full payload array, so a warm run over 100 TB is
        O(components), not O(data). ``__args_fp`` rides through
        reconcile so the sink phase can fetch a replayed component's
        payload by memo key without re-deriving it."""
        target = self.target
        decl_schema = ArrayType(
            StructType(
                [StructField("target_path", StringType()), StructField("fp", StringType())]
            )
        )
        miss_decl = self.miss_out.select(
            F.col("__component_path").alias("component_path"),
            self.app._path_col(target.name, target.pk).alias("target_path"),
            fp_col(*[F.col(c) for c in self.out_cols]).alias("fp"),
            "__args_fp",
            F.lit(False).alias("__is_replay"),
        )
        hit_decl = replay_src.select(
            F.col("__component_path").alias("component_path"),
            F.explode(F.from_json(F.col("decl_json"), decl_schema)).alias("__d"),
            "__args_fp",
        ).select(
            "component_path",
            F.col("__d.target_path").alias("target_path"),
            F.col("__d.fp").alias("fp"),
            "__args_fp",
            F.lit(True).alias("__is_replay"),
        )
        return miss_decl.unionByName(hit_decl)

    def _tracked(self) -> DataFrame:
        """Tracked states under this target's prefix. A driver-side
        partial batch reads only the tracking buckets of its components
        when tracking buckets on ``component_path`` (ids hashed on the
        driver, no job)."""
        tracking = self.state.tracking
        if self.local_in and self.partial and tracking.bucket_columns() == ["component_path"]:
            self.tracked_buckets = tracking.touched_buckets(self.scope_paths)
        tracked = tracking.read(self.spark, self.tracked_buckets).filter(
            F.col("component_path").startswith(self.prefix + "/")
        )
        if self.partial:
            # Live mode: reconcile only this batch's components; keys
            # not in the batch keep their tracked state untouched.
            tracked = tracked.join(
                F.broadcast(self.scope_paths), "component_path", "left_semi"
            )
        if self.stats.extra.get("errors"):
            # Failed components leave the reconcile scope entirely:
            # absent from desired AND masked from tracked, so their
            # previous target rows are neither deleted nor rewritten
            # (the reference keeps a failed child's prior state).
            tracked = tracked.join(
                F.broadcast(
                    self.failed_paths.select(
                        F.col("__component_path").alias("component_path")
                    )
                ),
                "component_path",
                "left_anti",
            )
        return tracked

    # ---- stats_counts ---------------------------------------------------
    def stats_counts(self) -> None:
        """Memo hit/miss counts from the observations, then the memo and
        source_fp writes, started on the flush thread."""
        stats = self.stats
        if self.local_in:
            stats.memo_misses, n_keyed = self.n_miss, self.n_keyed
        else:
            stats.memo_misses = _observed_n(self.obs_miss, self.miss_src)
            n_keyed = _observed_n(self.obs_keyed, self.keyed)
        stats.memo_hits = n_keyed - stats.memo_misses
        if self.use_cheap:
            # Cheap-fp replays never reached the loaded set: they are
            # memo hits that skipped content I/O entirely.
            stats.memo_hits += stats.extra["cheap_hits"]
        miss_memo = self._miss_memo() if stats.memo_misses else None
        # ---- source_fp map maintenance (two-level change detection) ----
        # Loaded rows record their (cheap_fp → args_fp) pair; a full
        # sync also sweeps the map rows of vanished components (one
        # metadata-sized anti-join), gated on reconcile deletes — without
        # any, no component vanished (a stale row would anyway only cost
        # space: a returning component with an unchanged cheap fp
        # replays the same memoized result, which is correct). Both
        # channels land in ONE merge on the flush thread, the map's only
        # writer: two writers would each swap the pointer from their own
        # snapshot and one would lose the other's update.
        new_sfp = dead_sfp = None
        if self.use_cheap and stats.extra["loaded"]:
            new_sfp = self.keyed.select(
                F.col("__component_path").alias("component_path"),
                F.col("__cheap_fp").alias("cheap_fp"),
                F.col("__args_fp").alias("args_fp"),
                F.lit(self.version).cast("long").alias("version"),
            )
        if self.use_cheap and not self.partial and stats.deletes:
            dead_sfp = (
                self.state.source_fp.read(self.spark)
                .filter(F.col("component_path").startswith(self.prefix + "/"))
                .join(
                    self.cheap_probe.select(
                        F.col("__component_path").alias("component_path")
                    ),
                    "component_path",
                    "left_anti",
                )
                .select("component_path")
            )
        # The memo and source_fp writes run on a helper thread
        # overlapping the commit phases (Spark schedules both job sets
        # concurrently): neither table is read by those phases, and a
        # crash that persists them without tracking just replays the
        # memoized result into a reconcile that still sees the
        # mismatch, or loads and recomputes — convergent either way
        # (same relaxation as cross-table non-atomicity, §2.5). keyed's
        # cache was materialized by the reconcile-phase jobs, so the
        # thread never races the content scan.
        if miss_memo is not None or new_sfp is not None or dead_sfp is not None:
            self.flush_thread = threading.Thread(
                target=self._flush, args=(miss_memo, new_sfp, dead_sfp), name="memo-flush"
            )
            self.flush_thread.start()

    def _miss_memo(self) -> DataFrame:
        """Memo rows for every miss (even all-noop runs converge their
        memo): one JSON array of result rows per args_fp, plus
        decl_json — the declared (target_path, fp) pairs future replays
        feed to reconcile without touching the payload array. A small
        change set's misses group in one task, with no shuffle."""
        out_cols, target = self.out_cols, self.target
        miss_out = self.miss_out.coalesce(1) if self.local else self.miss_out
        return (
            miss_out.withColumn("__tp", self.app._path_col(target.name, target.pk))
            .withColumn("__fp", fp_col(*[F.col(c) for c in out_cols]))
            .groupBy("__args_fp")
            .agg(
                F.to_json(F.collect_list(F.struct(*out_cols))).alias("result_json"),
                F.to_json(
                    F.collect_list(
                        F.struct(
                            F.col("__tp").alias("target_path"),
                            F.col("__fp").alias("fp"),
                        )
                    )
                ).alias("decl_json"),
            )
            .select(
                F.lit(self.logic_fp).alias("logic_fp"),
                F.col("__args_fp").alias("args_fp"),
                "result_json",
                "decl_json",
                F.lit(self.version).cast("long").alias("version"),
            )
        )

    def _flush(self, miss_memo, new_sfp, dead_sfp) -> None:
        """The flush thread's body; sync_table re-raises its error after
        the join."""
        try:
            if miss_memo is not None:
                self.state.memo.merge_upsert(to_local(miss_memo) if self.local else miss_memo)
            if new_sfp is not None or dead_sfp is not None:
                self.state.source_fp.merge_apply(new_sfp, dead_sfp)
        except BaseException as e:
            self.flush_err = e

    # ---- commit phases (submit protocol, submit_session.rs) -------------
    def sink_apply(self) -> None:
        """The intent, then the sink. The changing keys overwrite the
        intent table first (write-ahead: a crash from here until
        tracking_commit retires it leaves the keys for the next sync's
        recovery). Then one idempotent MERGE of the changes into the
        sink — one ``target.apply(upserts, deletes, version)`` call,
        either channel None when empty. A mixed sync (a rename is add +
        cascade delete) reaches the sink as one write: one bucket-scoped
        rewrite on a table, one Spark pass on a wire sink. The version
        lets a label-deduplicating sink (stream load) keep retries within
        this sync idempotent without dropping a later sync's identical
        bytes."""
        if not self.changed:
            return
        self.state.intent.overwrite(
            self.plan.changes().select("component_path", "target_path")
        )
        upsert_rows = self.upsert_rows
        if upsert_rows is None and (self.stats.inserts or self.stats.updates):
            upsert_rows = self._upsert_rows()
        dead_keys = self._dead_keys() if self.stats.deletes else None
        self.target.apply(upsert_rows, dead_keys, self.version)

    def _upsert_rows(self) -> DataFrame:
        """Payloads for the insert/update actions: miss components carry
        theirs in miss_out; replayed components that must (re)write —
        recovery or divergence, never the warm path — have ONLY their
        payload arrays deserialized (semi-join on the memo key first, so
        the parse volume is ∝ changes, not corpus)."""
        spark, target, out_cols = self.spark, self.target, self.out_cols
        path_col = self.app._path_col(target.name, target.pk)
        upserts = self.plan.actions.filter(F.col("action").isin("insert", "update"))
        payload_miss = self.miss_out.withColumn("target_path", path_col).select(
            "__args_fp", "target_path", *out_cols
        )
        if not self.full_reprocess and self.counts.get("__replay_upserts"):
            # Their payloads come from a BUCKET-SCOPED memo read: I/O is
            # ∝ the handful of touched buckets, never the memo table.
            needed = (
                upserts.select("__args_fp")
                .distinct()
                .join(self.miss_out.select("__args_fp").distinct(), "__args_fp", "left_anti")
            )
            nb = self.state.memo.touched_buckets(
                needed.select(
                    F.lit(self.logic_fp).alias("logic_fp"),
                    F.col("__args_fp").alias("args_fp"),
                )
            )
            payload_rows = (
                self.state.memo.read(spark, nb)
                .filter(F.col("logic_fp") == self.logic_fp)
                .select(F.col("args_fp").alias("__args_fp"), "result_json")
                .join(needed, "__args_fp", "left_semi")
            )
        else:
            payload_rows = local_frame(spark, [], "__args_fp STRING, result_json STRING")
        row_schema = self.miss_out.select(*out_cols).schema
        replay_payload = (
            payload_rows.select(
                "__args_fp",
                F.explode(F.from_json(F.col("result_json"), ArrayType(row_schema))).alias(
                    "__row"
                ),
            )
            .select("__args_fp", F.col("__row.*"))
            .withColumn("target_path", path_col)
            .select("__args_fp", "target_path", *out_cols)
        )
        # Join on BOTH (__args_fp, target_path): two components
        # declaring the same target_path (validate_unique=False) must
        # each pick up only their OWN payload rows — a path-only join
        # would cross-join their payloads and could commit A's tracked
        # fp over B's sink row.
        return (
            upserts.select("__args_fp", "target_path")
            .join(
                payload_miss.unionByName(replay_payload),
                ["__args_fp", "target_path"],
                "inner",
            )
            .select(*out_cols)
        )

    def _dead_keys(self) -> DataFrame:
        """pk values of the deleted target paths. Ownership preemption
        (execution.rs:948-995): a path whose old owner disappeared but
        that a NEW component re-declared this run is claimed, not dead —
        the upsert already wrote the new owner's row. Only paths no
        component declared get swept."""
        target, actions = self.target, self.plan.actions
        claimed = actions.filter(F.col("action").isin("insert", "update")).select(
            F.col("target_path").alias("__tp")
        )
        dead = actions.filter(F.col("action") == "delete").select(
            F.col("target_path").alias("__tp")
        )
        # Driver-local change rows are checked on the driver (no job):
        # the anti-join, a Spark job even between local frames, runs
        # only when a deleted path really is re-declared.
        if not self.local or {r[0] for r in dead.collect()} & {r[0] for r in claimed.collect()}:
            dead = dead.join(claimed, "__tp", "left_anti")
        # pk values parse back from the dead paths whenever the parse
        # round-trips exactly (the path encoding IS name/pk1/pk2/... —
        # a value that would make the parse ambiguous already collides
        # in tracking) — no sink scan. Exactness: every pk type
        # round-trips its string cast, and no column before the last is
        # a string (a '/' inside a non-final string value would shift
        # the split; the final column absorbs the remainder). Other pk
        # types map paths to keys by reading the sink.
        # (_ensure_target_contract guarantees a `schema`.)
        pk_types = [target.schema[c].dataType.simpleString() for c in target.pk]
        parse_ok = all(t in _SAFE_PK_PARSE_TYPES for t in pk_types) and all(
            t != "string" for t in pk_types[:-1]
        )
        if parse_ok or not hasattr(target, "read"):
            return _keys_from_paths(dead, target.name, target.pk, pk_types)
        current = target.read(self.spark).withColumn(
            "__tp", self.app._path_col(target.name, target.pk)
        )
        return current.join(dead, "__tp").select(*target.pk)

    def tracking_commit(self) -> None:
        """One tracking rewrite for both channels (pure-upsert runs skip
        the delete channel), the intent retire after its pointer swap,
        then the errors side table."""
        if self.changed:
            applied, deleted = tracking_updates(self.plan, self.version)
            self.state.tracking.merge_apply(applied, deleted if self.stats.deletes else None)
            self.state.intent.clear()
        if self.error_col is not None:
            self._maintain_errors()

    def _maintain_errors(self) -> None:
        """Record this run's failed components; clear the rest. A
        component stops being "currently failing" when it recomputes
        cleanly, replays a memoized result, or vanishes from the source.
        A full sync enumerates the whole world, so everything under the
        prefix NOT in this run's failed set is clear; a partial batch
        only vouches for its own scope. Gated on the errors table
        having rows for the prefix — the common all-healthy sync pays
        one tiny metadata read, not a delete cycle."""
        errors, failed = self.state.errors, self.failed_paths
        if self.stats.extra.get("errors"):
            errors.merge_upsert(
                failed.select(
                    F.col("__component_path").alias("component_path"),
                    "error",
                    F.lit(self.version).cast("long").alias("version"),
                )
            )
        old = errors.read(self.spark).filter(
            F.col("component_path").startswith(self.prefix + "/")
        )
        if not old.limit(1).count():
            return
        if self.partial:
            old = old.join(F.broadcast(self.scope_paths), "component_path", "left_semi")
        failed_now = (
            failed.select(F.col("__component_path").alias("component_path"))
            if failed is not None
            else old.select("component_path").limit(0)
        )
        errors.delete_keys(old.join(failed_now, "component_path", "left_anti").select("component_path"))

    def memo_flush_wait(self) -> None:
        """Join the flush thread and release this sync's caches. Leaked
        cache blocks across many syncs in one session evict each other
        (a bench run is 35+ plans) — the recompute storms cost far more
        than the caching saved."""
        if self.flush_thread is not None:
            self.flush_thread.join()
        for df in self._cached:
            df.unpersist()

    def cleanup(self) -> None:
        """The buckets each state table's sync writes rewrote
        (``stats.extra["buckets_written"]``: the buckets whose pointer
        entry changed), then adaptive state maintenance: safe here — the
        sync's scoped bucket ids are all consumed; growth rehashes before
        the next sync. A grown table is already one fresh version, so
        compaction (fragment-count / dead-bytes OPTIMIZE, store.py
        maybe_compact) only runs when growth didn't fire."""
        written = {}
        for name, t in self.written_tables.items():
            before, after = self.pointers_at_start[name], t._pointer()
            written[name] = sum(before.get(b) != after.get(b) for b in before.keys() | after.keys())
        self.stats.extra["buckets_written"] = written
        for t in (self.state.tracking, self.state.memo, self.state.source_fp):
            if not t.maybe_grow(self.spark):
                t.maybe_compact(self.spark)
        if self.target_table is not None:
            self.target_table.maybe_compact(self.spark)
