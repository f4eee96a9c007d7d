"""Table target: the parquet-backed analog of the reference's
table-shaped sinks (postgres/sqlite/bigquery/snowflake/doris TableTarget,
e.g. python/cocoindex/connectors/postgres/_target.py:742-836 —
chunked upsert + chunked delete, convergent/idempotent).

``apply(upserts, deletes, version)`` is one MERGE over the managed
table keyed by the declared primary key; deletes are anti-joins.
Optional index declarations are recorded as table metadata
(declare_vector_index analog) — consumers (the similarity operators)
read them to pick an LSH bucket table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cocoindex_spark.session import local_frame
from cocoindex_spark.sinks import Target
from cocoindex_spark.state.store import ManagedTable


class TableTarget(Target):
    def __init__(self, path: str, pk: list[str], schema: StructType):
        self.name = os.path.basename(path.rstrip("/"))
        self.path = path
        self.pk = pk
        self.schema = schema
        self._table = ManagedTable(path, pk, schema)
        self._meta_path = os.path.join(path, "_meta.json")

    def read(self, spark: SparkSession) -> DataFrame:
        return self._table.read(spark)

    def read_indexed(self, spark: SparkSession) -> DataFrame:
        """Rows plus the ``__probe`` partition column. A probe-side
        plan that filters on ``__probe`` (values from
        :meth:`probe_expr`) gets planning-time partition pruning — the
        probe skips the index table's FILE I/O, the seek-shaped access
        the reference gets from its pgvector/FTS indexes
        (postgres/_target.py:466-560)."""
        return self._table.read(spark, keep_probe=True)

    def probe_expr(self, *cols):
        """The probe-partition id for query-side key column(s) — the
        same hash the storage layout partitions by."""
        return self._table.probe_expr(list(cols))

    def probe_partitions(self, spark: SparkSession, values) -> list[int]:
        """Probe-partition ids for a bounded list of index-key values —
        feed them to ``read_indexed(...).filter(F.col('__probe').isin(ids))``
        for a statically partition-pruned probe scan. The values become
        a local frame, so Spark folds the hash into a ``LocalTableScan``
        and routing runs on the driver with no Spark job. Value types
        are inferred as ``createDataFrame`` infers them, which fixes the
        string the hash sees. An empty list routes nowhere and touches
        no Spark."""
        from pyspark.sql import functions as F

        if not values:
            return []
        df = local_frame(spark, [(v,) for v in values], ["__pv"])
        rows = df.select(self._table.probe_expr([F.col("__pv")]).alias("p")).collect()
        return sorted({r[0] for r in rows})

    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """Upserts + deletions in one bucket-scoped rewrite (one
        version write, one pointer swap); either channel may be None.
        The version is unused: the MERGE is idempotent."""
        self._table.merge_apply(upserts, deletes)

    # -- schema contract (target_state.mdx:140-144 schema evolution) ----
    def stored_contract(self) -> dict | None:
        """The (pk, schema) contract recorded at last sync; None before
        the first sync."""
        meta = self._read_meta()
        return meta.get("contract")

    def store_contract(self) -> None:
        meta = self._read_meta()
        meta["contract"] = {
            "pk": self.pk,
            "columns": [[f.name, f.dataType.simpleString()] for f in self.schema.fields],
        }
        self._write_meta(meta)

    def truncate(self) -> None:
        """Destructive recreate (pk change): drop all rows and the
        bucket columns inferred for the old pk; the next sync infers
        them again."""
        self._table.bucket_cols = None
        self._table.clear()

    # -- index metadata (declare_vector_index / declare_fts_index analog)
    def declare_index(
        self, kind: str, column: str, probe_col: str | None = None, **options
    ) -> None:
        """Record an index declaration. ``probe_col`` names the stored
        column probes equi-join on (LSH bucket, IVF cell, FTS term);
        when given, the table's storage adds a probe partition level on
        it so index probes prune file I/O, not just compute (declared
        before the first sync this is free; on a live table it is a
        one-time re-layout)."""
        meta = self._read_meta()
        entry = {"kind": kind, "column": column, **options}
        if probe_col is not None:
            entry["probe_col"] = probe_col
        if entry not in meta.setdefault("indexes", []):
            meta["indexes"].append(entry)
        self._write_meta(meta)
        if probe_col is not None:
            spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
            self._table.set_probe_layout(
                spark, [probe_col], int(options.get("probe_buckets", 8))
            )

    def _write_meta(self, meta: dict) -> None:
        self._table.fs.write_atomic(self._meta_path, json.dumps(meta))

    def indexes(self) -> list[dict]:
        return self._read_meta().get("indexes", [])

    def _read_meta(self) -> dict:
        text = self._table.fs.read_text(self._meta_path)
        return json.loads(text) if text is not None else {}
