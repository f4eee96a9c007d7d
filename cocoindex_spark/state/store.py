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
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cocoindex_spark.session import is_local, local_frame

_POINTER = "_CURRENT"
_KEEP_UNREFERENCED = 2
_BUCKET_COL = "__bucket"
_PROBE_COL = "__probe"
# Key types whose Python values compare equal exactly when Spark's join
# matches them (no NaN, no unhashable container).
_DRIVER_EQ_TYPES = {"string", "bigint", "int", "smallint", "tinyint", "boolean", "date"}


class _Layout(NamedTuple):
    """A table's live layout, as its pointer records it."""

    n: int  # bucket count
    buckets: dict[str, str]  # bucket id (str) → version dir name
    probe: dict | None  # probe layout
    cols: list[str]  # the key columns the bucket hash covers


class ManagedTable:
    """A keyed parquet table with **bucket-scoped** upsert/delete.

    Rows hash-partition into ``n_buckets`` by their bucket columns; each
    write rewrites only the buckets containing touched keys into a new
    immutable version directory, then atomically replaces the single
    pointer file (bucket → version map, ``os.replace``). A crash
    mid-write leaves the old pointer live; re-running converges (the
    reference's roll-forward relaxation, processing_component.mdx:248-253).

    The bucket columns are a leading subset of the key (``bucket_cols``;
    None hashes the whole key), so every row of one key, and every key
    sharing its bucket columns, lands in one bucket: tracking buckets on
    ``component_path``, so all of one component's rows share a bucket.
    This is the 100 TB shape: an edit touching k values of the bucket
    columns (k components, for tracking) costs O(k/n_buckets · table)
    I/O instead of a full-table rewrite; the bound holds per bucket-column
    value, not per key, so a table hashed on its whole key pays up to one
    bucket per changed row. The bucket column is the natural
    cluster/shuffle key on a real cluster (same layout works on any
    HDFS-compatible FS with atomic rename).

    The pointer records the columns its data was hashed on. A pointer
    without them (written before they existed) hashes the whole key. A
    full rewrite (``overwrite``: a write into an empty table,
    ``maybe_grow``, ``maybe_compact``, ``set_probe_layout``) writes under
    the declared columns and publishes them in the same swap as its
    data; merges keep the live columns. Bucket ids are only meaningful
    to the table that computed them.
    """

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        schema: StructType,
        n_buckets: int = 16,
        bucket_cols: list[str] | None = None,
    ):
        from cocoindex_spark.state.fs import fs_for

        if bucket_cols is not None and bucket_cols != key_cols[: len(bucket_cols)]:
            raise ValueError(f"bucket columns {bucket_cols} are not a leading subset of {key_cols}")
        self.path = path
        self.key_cols = key_cols
        self.schema = schema
        self.n_buckets = n_buckets  # initial count; live count is in the pointer
        # declared bucket columns (None = the whole key); the live ones
        # are in the pointer
        self.bucket_cols = bucket_cols
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
    def _layout(self) -> _Layout:
        """The live layout. Counts, probe layout and bucket columns
        persist in the pointer so every reader/writer hashes
        consistently even after adaptive growth, index declaration or a
        change of bucket columns; a legacy flat-mapping pointer implies
        the constructor count and the whole key. An empty table (no
        pointer, or one with no buckets) has no data hashed under any
        layout, so the declared probe layout and bucket columns are live
        and its first write adopts them."""
        text = self.fs.read_text(os.path.join(self.path, _POINTER))
        declared = (
            {"cols": self.probe_cols, "n": self.probe_buckets}
            if self.probe_cols
            else None
        )
        declared_cols = list(self.bucket_cols or self.key_cols)
        if text is None:
            return _Layout(self.n_buckets, {}, declared, declared_cols)
        doc = json.loads(text)
        if "buckets" not in doc:
            return _Layout(self.n_buckets, doc, None, list(self.key_cols))  # legacy format
        n = int(doc.get("n_buckets", self.n_buckets))
        if not doc["buckets"]:
            return _Layout(n, {}, doc.get("probe") or declared, declared_cols)
        return _Layout(n, doc["buckets"], doc.get("probe"), doc.get("bucket_cols", list(self.key_cols)))

    def _meta(self) -> tuple[int, dict[str, str]]:
        layout = self._layout()
        return layout.n, layout.buckets

    def _pointer(self) -> dict[str, str]:
        return self._layout().buckets

    def bucket_columns(self) -> list[str]:
        """The key columns the live bucket hash covers — a driver-side
        pointer read, no job."""
        return self._layout().cols

    def _swap_pointer(
        self,
        mapping: dict[str, str],
        n_buckets: int | None = None,
        probe: dict | None | str = "keep",
        cols: list[str] | None = None,
    ) -> None:
        """Publish ``mapping``, hashed on ``cols`` (default: the live
        bucket columns). A pointer with no buckets records no bucket
        columns: an empty table adopts the declared ones."""
        cur = self._layout()
        doc = {
            "n_buckets": n_buckets if n_buckets is not None else cur.n,
            "buckets": mapping,
            "probe": cur.probe if probe == "keep" else probe,
        }
        if mapping:
            doc["bucket_cols"] = list(cols or cur.cols)
        self.fs.write_atomic(os.path.join(self.path, _POINTER), json.dumps(doc))

    def _bucket_expr(self, n_buckets: int, cols: list[str]) -> F.Column:
        return F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in cols]),
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
            probe = self._layout().probe
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
        _, mapping, probe, _ = self._layout()
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
        probe: dict | None,
        cols: list[str],
        one_task: bool = False,
    ) -> tuple[str, list[int]]:
        """Write df into a new version dir, bucketed on ``cols`` and
        laid out under ``probe``; returns (version name, buckets
        actually written — empty buckets produce no dir). ``one_task``:
        the caller knows ``df`` is small."""
        version_name = f"v_{int(time.time() * 1e6)}_{os.getpid()}"
        out = os.path.join(self.path, version_name)
        part_cols = [_BUCKET_COL]
        bdf = df
        if probe:
            bdf = bdf.drop(_PROBE_COL).withColumn(
                _PROBE_COL, self.probe_expr(probe["cols"], probe["n"])
            )
            part_cols.append(_PROBE_COL)
        bdf = bdf.withColumn(_BUCKET_COL, self._bucket_expr(n_buckets, cols))
        # One task (and one file) per bucket: state tables are
        # metadata-sized relative to the data they track, so fewer,
        # fuller files beat 32×n_buckets fragments. (With a probe
        # layout the task fans its bucket into one file per probe dir —
        # still one writer per bucket.) Driver-local or small rows are
        # written by ONE task with no shuffle — one job, not two — which
        # partitionBy still splits into one file per bucket dir.
        if one_task or is_local(df):
            bdf = bdf.coalesce(1)
        else:
            bdf = bdf.repartition(n_buckets, F.col(_BUCKET_COL))
        bdf.write.mode("overwrite").partitionBy(*part_cols).parquet(out)
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
        dict/None rewrites the data under the NEW layout. The data is
        hashed on the declared bucket columns (the live ones when none
        are declared). Layout and data are published in the SAME swap —
        they change atomically (a crash anywhere leaves the old pointer
        over old-layout data)."""
        cur = self._layout()
        n = n_buckets if n_buckets is not None else cur.n
        write_probe = cur.probe if probe == "keep" else probe
        cols = list(self.bucket_cols or cur.cols)
        version_name, written = self._write_version(df, n, write_probe, cols)
        self._swap_pointer(
            {str(b): version_name for b in written}, n_buckets=n, probe=probe, cols=cols
        )
        self._gc()

    def _merge_into_buckets(
        self, touched: list[int], replacement: DataFrame, one_task: bool = False
    ) -> None:
        """Swap the touched buckets to a freshly-written version; other
        buckets keep pointing at their current versions."""
        n, mapping, probe, cols = self._layout()
        version_name, written = self._write_version(replacement, n, probe, cols, one_task=one_task)
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
        cur_n, mapping, cur, _ = self._layout()
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
        buckets (probe layout kept; the next write adopts the declared
        bucket columns), then remove every version directory. A crash
        between the two leaves only unreferenced directories, which no
        reader sees."""
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
        ``distinct`` (two jobs under AQE). ``keys`` needs only the live
        bucket columns (:meth:`bucket_columns`)."""
        n, _, _, cols = self._layout()
        ids = keys.select(self._bucket_expr(n, cols).alias(_BUCKET_COL))
        if not is_local(ids):
            ids = ids.distinct()
        # bounded by n_buckets — a constant, never data-sized
        return sorted({r[_BUCKET_COL] for r in ids.collect()})

    def _disjoint(self, a: DataFrame, b: DataFrame) -> bool:
        """True iff the driver-local frames ``a`` and ``b`` share no key,
        compared on the driver (no job) when every key type compares in
        Python as Spark's join does; False otherwise."""
        if any(self.schema[c].dataType.simpleString() not in _DRIVER_EQ_TYPES for c in self.key_cols):
            return False
        keys = [{tuple(r) for r in df.select(self.key_cols).collect()} for df in (a, b)]
        return not keys[0] & keys[1]

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
        cannot read the table being written. When both channels are
        driver-local, the update channel skips its anti-join against
        the delete channel if the two share no key (checked on the
        driver), and touched buckets within
        ``spark.sql.autoBroadcastJoinThreshold`` on disk are rewritten
        by one task with no shuffle."""
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
                live = updates
                if deletes is not None and (cached or not self._disjoint(updates, deletes)):
                    live = updates.join(deletes, self.key_cols, "left_anti")
                merged = merged.unionByName(live)
            # Driver-local channels over touched buckets that Spark would
            # broadcast anyway are rewritten by one task.
            one_task = not cached and 0 <= sum(
                self.fs.total_bytes(p) for p in self._bucket_paths(self._pointer(), touched)
            ) <= spark._jconf.autoBroadcastJoinThreshold()
            self._merge_into_buckets(touched, merged, one_task=one_task)
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
        # tracking and user_state bucket on component_path: one
        # component's rows share a bucket, so a sync changing k
        # components rewrites at most k buckets of each
        self.tracking = ManagedTable(
            os.path.join(root, "tracking"), ["component_path", "target_path"], TRACKING_SCHEMA,
            bucket_cols=["component_path"],
        )
        self.intent = ManagedTable(
            os.path.join(root, "intent"), ["component_path", "target_path"], INTENT_SCHEMA,
            n_buckets=1,
        )
        self.memo = ManagedTable(os.path.join(root, "memo"), ["logic_fp", "args_fp"], MEMO_SCHEMA)
        self.user_state = ManagedTable(
            os.path.join(root, "user_state"), ["component_path", "state_key"], USER_STATE_SCHEMA,
            bucket_cols=["component_path"],
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
