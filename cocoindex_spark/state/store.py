"""Engine state store: versioned parquet tables with atomic pointer
swap — the Spark-native re-home of the reference's LMDB state store
(rust/core/src/state_store/storage.rs, db_schema.rs:64-92).

Keyspaces map to managed tables under one state root:

- ``tracking``   — per-(component_path, target_path) fingerprint plus
                   ``may_be_missing``, which forces a rewrite; a NULL
                   fp marks a state that may be in the target but was
                   never committed (custom_target_connector.mdx:74-87,
                   211-213)
- ``intent``     — the (component_path, target_path) keys a sync is
                   about to change, written before its sink apply and
                   cleared after its tracking commit; a leftover intent
                   is folded into tracking by the next sync
- ``memo``       — function memoization keyed by (logic_fp, args_fp)
                   (FunctionMemoization, db_schema.rs:67-70)
- ``user_state`` — persistent per-component scratch (0x34)

Writes are convergent roll-forward: a new immutable version directory
is written, then the ``_CURRENT`` pointer file is atomically replaced
(os.replace). A crash mid-write leaves the old version live; re-running
converges (same relaxation the reference documents for its per-backend
atomic batches, processing_component.mdx:248-253). On a cluster the
same layout works on any HDFS-compatible FS with an atomic rename.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cocoindex_spark.session import is_local, local_frame

_POINTER = "_CURRENT"
_KEEP_UNREFERENCED = 2
_BUCKET_COL = "__bucket"
_PROBE_COL = "__probe"


class ManagedTable:
    """A keyed parquet table with **bucket-scoped** upsert/delete.

    Rows hash-partition into ``n_buckets`` by key; each write rewrites
    only the buckets containing touched keys into a new immutable
    version directory, then atomically replaces the single pointer file
    (bucket → version map, ``os.replace``). A crash mid-write leaves
    the old pointer live; re-running converges (the reference's
    roll-forward relaxation, processing_component.mdx:248-253).

    This is the 100 TB shape: an edit touching k keys costs
    O(k/n_buckets · table) I/O instead of a full-table rewrite, and the
    bucket column is the natural cluster/shuffle key on a real cluster
    (same layout works on any HDFS-compatible FS with atomic rename).
    """

    def __init__(self, path: str, key_cols: list[str], schema: StructType, n_buckets: int = 16):
        from cocoindex_spark.state.fs import fs_for

        self.path = path
        self.key_cols = key_cols
        self.schema = schema
        self.n_buckets = n_buckets  # initial count; live count is in the pointer
        # Optional PROBE layout (None = PK-hash buckets only). When an
        # index is declared on this table, writes add a second
        # partition-directory level __probe=hash(probe_cols)%n under
        # each PK bucket, so probe-side reads prune FILE I/O on the
        # index key (the reference's seek-shaped pgvector/FTS indexes,
        # postgres/_target.py:466-560) while MERGE keeps its PK-bucket
        # rewrite granularity. The live layout persists in the pointer.
        self.probe_cols: list[str] | None = None
        self.probe_buckets: int = 8
        self.fs = fs_for(path)
        self.fs.makedirs(path)

    # -- pointer plumbing ---------------------------------------------------
    def _meta3(self) -> tuple[int, dict[str, str], dict | None]:
        """(live bucket count, bucket(str) → version dir name, live
        probe layout or None). Both counts persist in the pointer so
        every reader/writer hashes consistently even after adaptive
        growth / index declaration; a legacy flat-mapping pointer
        implies the constructor count. Before any pointer exists the
        instance's declared probe layout is live (first write adopts
        it)."""
        text = self.fs.read_text(os.path.join(self.path, _POINTER))
        declared = (
            {"cols": self.probe_cols, "n": self.probe_buckets}
            if self.probe_cols
            else None
        )
        if text is None:
            return self.n_buckets, {}, declared
        doc = json.loads(text)
        if "buckets" in doc:
            probe = doc.get("probe")
            if probe is None and not doc["buckets"]:
                probe = declared  # empty table: adopt the declaration
            return int(doc.get("n_buckets", self.n_buckets)), doc["buckets"], probe
        return self.n_buckets, doc, None  # legacy format

    def _meta(self) -> tuple[int, dict[str, str]]:
        n, mapping, _ = self._meta3()
        return n, mapping

    def _pointer(self) -> dict[str, str]:
        return self._meta3()[1]

    def _swap_pointer(
        self,
        mapping: dict[str, str],
        n_buckets: int | None = None,
        probe: dict | None | str = "keep",
    ) -> None:
        cur_n, _, cur_probe = self._meta3()
        doc = {
            "n_buckets": n_buckets if n_buckets is not None else cur_n,
            "buckets": mapping,
            "probe": cur_probe if probe == "keep" else probe,
        }
        self.fs.write_atomic(os.path.join(self.path, _POINTER), json.dumps(doc))

    def _bucket_expr(self, n_buckets: int) -> F.Column:
        return F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in self.key_cols]),
            F.lit(n_buckets),
        )

    def _bucket_paths(self, mapping: dict[str, str], buckets: list[int] | None = None) -> list[str]:
        out = []
        for b, ver in mapping.items():
            if buckets is not None and int(b) not in buckets:
                continue
            p = os.path.join(self.path, ver, f"{_BUCKET_COL}={b}")
            if self.fs.isdir(p):
                out.append(p)
        return out

    def _gc(self) -> None:
        referenced = set(self._pointer().values())
        versions = sorted(d for d in self.fs.listdir(self.path) if d.startswith("v_"))
        stale = [d for d in versions if d not in referenced]
        for d in stale[:-_KEEP_UNREFERENCED] if len(stale) > _KEEP_UNREFERENCED else []:
            self.fs.rmtree(os.path.join(self.path, d))

    # -- read/write -------------------------------------------------------
    def probe_expr(self, col_or_cols, n: int | None = None) -> F.Column:
        """The probe-partition id for given key column(s) — the SAME
        hash the write path lays directories down with, exposed so a
        probe-side plan can compute its target partitions."""
        cols = col_or_cols if isinstance(col_or_cols, (list, tuple)) else [col_or_cols]
        if n is None:
            _, _, probe = self._meta3()
            n = probe["n"] if probe else self.probe_buckets
        return F.pmod(
            F.xxhash64(*[F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]),
            F.lit(n),
        )

    def is_empty(self) -> bool:
        """True iff the table has NO live data files — a driver-side
        pointer read (one tiny local json), no Spark job. Used by the
        engine's cold-start fast path: a freshly-created state store
        provably holds nothing, so lookups against it can be skipped
        outright instead of planned as joins against empty scans."""
        return not self._pointer()

    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        keep_probe: bool = False,
    ) -> DataFrame:
        """Current rows. With a probe layout, bucket paths are grouped
        per version dir and read with that dir as ``basePath`` so
        ``__bucket``/``__probe`` surface as DISCOVERED PARTITION
        COLUMNS — a filter on ``__probe`` (see :meth:`probe_expr`)
        prunes directories at planning time (PartitionFilters in the
        scan), i.e. the probe skips file I/O, not just compute. Scan
        count is O(live version dirs), which maybe_compact bounds.
        ``keep_probe=True`` keeps the ``__probe`` column for probe-side
        plans; engine merge paths read the bare schema."""
        n, mapping, probe = self._meta3()
        paths = self._bucket_paths(mapping, buckets)
        if not paths:
            df = local_frame(spark, [], self.schema)
            return df.withColumn(_PROBE_COL, F.lit(0)) if keep_probe else df
        if probe is None:
            df = spark.read.schema(self.schema).parquet(*paths)
            if keep_probe:
                df = df.withColumn(_PROBE_COL, self.probe_expr(self.probe_cols or self.key_cols))
            return df
        by_version: dict[str, list[str]] = {}
        for p in paths:
            ver_dir = os.path.dirname(p)
            by_version.setdefault(ver_dir, []).append(p)
        cols = [f.name for f in self.schema.fields] + ([_PROBE_COL] if keep_probe else [])
        frames = [
            spark.read.option("basePath", ver)
            .schema(self.schema)
            .parquet(*ps)
            .select(*cols)
            for ver, ps in by_version.items()
        ]
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return df

    def _write_version(
        self,
        df: DataFrame,
        n_buckets: int,
        probe: dict | None | str = "current",
    ) -> tuple[str, list[int]]:
        """Write df (bucketed) into a new version dir; returns (version
        name, buckets actually written — empty buckets produce no dir).
        ``probe``: the layout to write under — default "current" (the
        pointer's live layout); pass an explicit dict/None when the
        caller is atomically changing layouts (set_probe_layout)."""
        version_name = f"v_{int(time.time() * 1e6)}_{os.getpid()}"
        out = os.path.join(self.path, version_name)
        if probe == "current":
            _, _, probe = self._meta3()
        part_cols = [_BUCKET_COL]
        bdf = df
        if probe:
            bdf = bdf.drop(_PROBE_COL).withColumn(
                _PROBE_COL, self.probe_expr(probe["cols"], probe["n"])
            )
            part_cols.append(_PROBE_COL)
        (
            bdf.withColumn(_BUCKET_COL, self._bucket_expr(n_buckets))
            # One task (and one file) per bucket: state tables are
            # metadata-sized relative to the data they track, so fewer,
            # fuller files beat 32×n_buckets fragments. (With a probe
            # layout the task fans its bucket into one file per probe
            # dir — still one writer per bucket.)
            .repartition(n_buckets, F.col(_BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(out)
        )
        written = [
            int(d.split("=", 1)[1])
            for d in self.fs.listdir(out)
            if d.startswith(f"{_BUCKET_COL}=")
        ]
        return version_name, written

    def overwrite(
        self,
        df: DataFrame,
        n_buckets: int | None = None,
        probe: dict | None | str = "keep",
    ) -> None:
        """Full-table rewrite into one fresh version + one pointer
        swap. ``probe``: "keep" preserves the live layout; an explicit
        dict/None rewrites the data under the NEW layout and publishes
        it in the SAME swap — data and layout change atomically (a
        crash anywhere leaves the old pointer over old-layout data)."""
        n = n_buckets if n_buckets is not None else self._meta()[0]
        write_probe = self._meta3()[2] if probe == "keep" else probe
        version_name, written = self._write_version(df, n, probe=write_probe)
        self._swap_pointer(
            {str(b): version_name for b in written}, n_buckets=n, probe=probe
        )
        self._gc()

    def _merge_into_buckets(self, touched: list[int], replacement: DataFrame) -> None:
        """Swap the touched buckets to a freshly-written version; other
        buckets keep pointing at their current versions."""
        n, mapping = self._meta()
        version_name, written = self._write_version(replacement, n)
        for b in touched:
            mapping.pop(str(b), None)  # bucket emptied unless re-written
        for b in written:
            mapping[str(b)] = version_name
        self._swap_pointer(mapping, n_buckets=n)
        self._gc()

    # -- adaptive sharding -------------------------------------------------
    def maybe_grow(self, spark: SparkSession, max_bucket_bytes: int = 256 << 20) -> bool:
        """Double the bucket count when the average referenced bucket
        exceeds ``max_bucket_bytes`` (fixed 16 buckets under-shards a
        100 TB tracking table; doubling keeps rewrites amortized).
        Rehashing rewrites the whole table, so callers invoke this only
        BETWEEN syncs — never between a touched_buckets() and the
        merges that reuse those ids. Returns True if it grew."""
        n, mapping = self._meta()
        if not mapping or n >= 65536:
            return False
        # Sum only the bucket directories the pointer references — a
        # referenced version dir can still hold superseded bucket files
        # (remapped to newer versions but not yet GC'd); counting them
        # would trigger premature full-table rehashes.
        size = sum(self.fs.total_bytes(p) for p in self._bucket_paths(mapping))
        if size / n <= max_bucket_bytes:
            return False
        self.overwrite(self.read(spark), n_buckets=n * 2)
        return True

    def maybe_compact(
        self,
        spark: SparkSession,
        max_versions: int = 8,
        max_waste_fraction: float = 0.5,
    ) -> bool:
        """Auto-OPTIMIZE for fragmented tables (reference: LanceDB's
        fragment-count/deleted-rows compaction heuristics,
        python/cocoindex/connectors/lancedb/_target.py:368-583).

        N small syncs leave (a) each bucket pointing into its own
        version dir — the reader globs O(versions) directories — and
        (b) superseded bucket files alive inside still-referenced dirs
        (a dir stays until NO bucket references it, so its dead files
        survive the GC). Compaction rewrites the table into ONE fresh
        version — one file per bucket — when the live mapping spans
        more than ``max_versions`` dirs OR dead bytes exceed
        ``max_waste_fraction`` of referenced bytes.

        The scan is filesystem metadata only (bounded by
        versions × buckets). Same contract as maybe_grow: call only
        BETWEEN syncs. Returns True if it compacted."""
        n, mapping = self._meta()
        if not mapping:
            return False
        versions = set(mapping.values())
        trigger = len(versions) > max_versions
        if not trigger:
            live = set(self._bucket_paths(mapping))
            ref_bytes = live_bytes = 0
            for ver in versions:
                vp = os.path.join(self.path, ver)
                for d in self.fs.listdir(vp):
                    if not d.startswith(f"{_BUCKET_COL}="):
                        continue
                    p = os.path.join(vp, d)
                    b = self.fs.total_bytes(p)
                    ref_bytes += b
                    if p in live:
                        live_bytes += b
            dead = ref_bytes - live_bytes
            trigger = ref_bytes > 0 and dead / ref_bytes > max_waste_fraction
        if not trigger:
            return False
        self.overwrite(self.read(spark), n_buckets=n)
        return True

    def set_probe_layout(self, spark: SparkSession, cols: list[str], n: int = 8) -> bool:
        """Declare (or change) the probe layout. An empty table just
        records it — the first write adopts it. A table with live rows
        under a different layout is rewritten ONCE into the new one
        (same one-shot shape as maybe_grow's rehash; callers invoke
        this between syncs). Returns True if a rewrite happened."""
        want = {"cols": list(cols), "n": int(n)}
        self.probe_cols, self.probe_buckets = want["cols"], want["n"]
        cur_n, mapping, cur = self._meta3()
        if cur == want:
            return False
        if not mapping:
            self._swap_pointer({}, n_buckets=cur_n, probe=want)
            return False
        # Pin current rows (localCheckpoint: the rewrite cannot race
        # version GC), rewrite under the NEW layout, and publish
        # mapping + layout in ONE pointer swap — a crash (or a
        # concurrent reader) at any point sees either the old layout
        # over old-layout dirs or the new layout over new-layout dirs,
        # never a probe pointer over dirs lacking __probe= partitions.
        df = self.read(spark).localCheckpoint(eager=True)
        self.overwrite(df, n_buckets=cur_n, probe=want)
        return True

    def clear(self) -> None:
        """Empty the table with no Spark job: swap the pointer to no
        buckets (layout kept), then remove every version directory. A
        crash between the two leaves only unreferenced directories,
        which no reader sees."""
        self._swap_pointer({})
        for d in self.fs.listdir(self.path):
            if d.startswith("v_"):
                self.fs.rmtree(os.path.join(self.path, d))

    def touched_buckets(self, keys: DataFrame) -> list[int]:
        """Bucket ids the given key rows hash into. Callers that drive
        several phase writes off one key set compute this once and pass
        it to merge_upsert / merge_apply / the scoped read — the ids
        MUST cover every key later merged, or unscoped buckets would
        swap to a version missing their current rows. Driver-local keys
        (a projection or filter of a ``LocalRelation``) are hashed and
        deduplicated on the driver with no Spark job; other keys pay a
        ``distinct`` (two jobs under AQE)."""
        n = self._meta()[0]
        ids = keys.select(self._bucket_expr(n).alias(_BUCKET_COL))
        if not is_local(ids):
            ids = ids.distinct()
        # bounded by n_buckets — a constant, never data-sized
        return sorted({r[_BUCKET_COL] for r in ids.collect()})

    def merge_upsert(self, updates: DataFrame, touched: list[int] | None = None) -> None:
        """Idempotent MERGE of ``updates`` alone (see merge_apply)."""
        self.merge_apply(updates, None, touched=touched)

    def delete_keys(self, keys: DataFrame) -> None:
        """Delete the rows whose key matches a row of ``keys``."""
        self.merge_apply(None, keys)

    def merge_apply(
        self,
        updates: DataFrame | None,
        deletes: DataFrame | None,
        touched: list[int] | None = None,
    ) -> None:
        """The table's one MERGE: upserts AND key deletions in ONE
        bucket-scoped rewrite + ONE pointer swap. Either channel may be
        None. New rows win over current rows on key equality, a key in
        both channels ends deleted, and repeated application of the
        same batch converges. Only buckets holding an updated or
        deleted key are rewritten, so a mixed sync (rename = add +
        cascade delete) pays one version write, not two.

        ``touched`` optionally carries precomputed bucket ids (when the
        same key set drives several phase writes); they must cover the
        keys of BOTH channels. Without it, bucket discovery runs over
        the keys of both channels: on the driver when every channel is
        driver-local (``session.is_local``), else as one discovery job
        over their union. A distributed channel is cached for the
        duration: its lineage is evaluated twice (bucket discovery +
        version write) and may read this very table's current version —
        caching pins the pre-swap snapshot. A driver-local channel skips
        the cache: its rows are already on the driver, so its lineage
        cannot read the table being written."""
        if updates is None and deletes is None:
            return
        if updates is not None:
            updates = updates.select(*[f.name for f in self.schema.fields])
        if deletes is not None:
            deletes = deletes.select(self.key_cols)
            if not is_local(deletes):
                deletes = deletes.distinct()
        if self.is_empty():
            # Empty table: the MERGE degenerates to a plain write of the
            # updates less the delete channel — no current rows to keep,
            # so bucket discovery, the caches (lineage is evaluated once,
            # by the write) and the current-row anti-join are pure
            # overhead. A delete alone writes nothing and runs no job.
            # This is the cold-sync path's per-table floor (sink target
            # + tracking + first memo flush all hit it).
            if updates is not None:
                if deletes is not None:
                    updates = updates.join(deletes, self.key_cols, "left_anti")
                self.overwrite(updates, n_buckets=self._meta()[0])
            return
        cached: list[DataFrame] = []

        def pin(df: DataFrame | None) -> DataFrame | None:
            if df is None or is_local(df):
                return df
            cached.append(df.cache())
            return cached[-1]

        updates, deletes = pin(updates), pin(deletes)
        try:
            key_sets = [df.select(self.key_cols) for df in (updates, deletes) if df is not None]
            keys = key_sets[0] if len(key_sets) == 1 else key_sets[0].unionByName(key_sets[1])
            if touched is None:
                if cached:
                    touched = self.touched_buckets(keys)
                else:
                    touched = sorted({b for k in key_sets for b in self.touched_buckets(k)})
            if not touched:
                return
            spark = (updates if updates is not None else deletes).sparkSession
            # The anti-join needs no dedup; a distributed key set with
            # upserts is deduplicated to shrink what the join ships (the
            # delete channel alone already is), a driver-local one is not
            # (that would cost a job).
            gone = keys.distinct() if cached and updates is not None else keys
            merged = self.read(spark, touched).join(gone, self.key_cols, "left_anti")
            if updates is not None:
                live = (
                    updates
                    if deletes is None
                    else updates.join(deletes, self.key_cols, "left_anti")
                )
                merged = merged.unionByName(live)
            self._merge_into_buckets(touched, merged)
        finally:
            for df in cached:
                df.unpersist()


def _schema(*fields: tuple) -> StructType:
    # Built without fromDDL: that needs an active SparkContext at
    # import time.
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
    )

    type_map = {
        "string": StringType(),
        "long": LongType(),
        "bool": BooleanType(),
    }
    return StructType([StructField(n, type_map[t], True) for n, t in fields])


TRACKING_SCHEMA = _schema(
    ("component_path", "string"),
    ("target_path", "string"),
    ("fp", "string"),
    ("may_be_missing", "bool"),
    ("version", "long"),
)

INTENT_SCHEMA = _schema(("component_path", "string"), ("target_path", "string"))

# decl_json: the declared target states — JSON array of
# {target_path, fp} — recorded at flush time so a replay can feed the
# reconcile diff WITHOUT deserializing the payload rows (result_json).
# At scale this is the difference between a warm run that parses the
# whole corpus's memoized payloads and one that reads two short strings
# per component; payloads are parsed only for the rare replayed rows
# the reconcile marks insert/update (recovery/divergence). Rows written
# before this column existed read as NULL and are treated as memo
# misses — they recompute once and converge to the new format.
MEMO_SCHEMA = _schema(
    ("logic_fp", "string"),
    ("args_fp", "string"),
    ("result_json", "string"),
    ("decl_json", "string"),
    ("version", "long"),
)

USER_STATE_SCHEMA = _schema(
    ("component_path", "string"),
    ("state_key", "string"),
    ("value_json", "string"),
    ("version", "long"),
)

# Failure isolation (reference: a failed component is logged and
# skipped, siblings continue; UpdateStats exposes error counts —
# processing_component.mdx "What happens when a component fails").
# One row per currently-failing component; cleared on recovery.
ERRORS_SCHEMA = _schema(
    ("component_path", "string"),
    ("error", "string"),
    ("version", "long"),
)

# Two-level change detection (reference: cheap version validated before
# the content fingerprint, rust/core/src/engine/component.rs:86-101;
# data_types.mdx:37-39): per-component mapping cheap_fp → the content
# args_fp last computed under it. A cheap-fp match lets a warm run skip
# loading content entirely.
SOURCE_FP_SCHEMA = _schema(
    ("component_path", "string"),
    ("cheap_fp", "string"),
    ("args_fp", "string"),
    ("version", "long"),
)


class StateStore:
    """All engine state tables under one root directory."""

    def __init__(self, root: str):
        self.root = root
        self.tracking = ManagedTable(
            os.path.join(root, "tracking"), ["component_path", "target_path"], TRACKING_SCHEMA
        )
        self.intent = ManagedTable(
            os.path.join(root, "intent"), ["component_path", "target_path"], INTENT_SCHEMA,
            n_buckets=1,
        )
        self.memo = ManagedTable(os.path.join(root, "memo"), ["logic_fp", "args_fp"], MEMO_SCHEMA)
        self.user_state = ManagedTable(
            os.path.join(root, "user_state"), ["component_path", "state_key"], USER_STATE_SCHEMA
        )
        self.source_fp = ManagedTable(
            os.path.join(root, "source_fp"), ["component_path"], SOURCE_FP_SCHEMA
        )
        self.errors = ManagedTable(
            os.path.join(root, "errors"), ["component_path"], ERRORS_SCHEMA
        )

    def drop(self) -> None:
        from cocoindex_spark.state.fs import fs_for

        fs_for(self.root).rmtree(self.root)
