"""zvec embedded-collection dialect — the last vector-store connector
re-expressed with its real semantics instead of collapsing onto the
generic TableTarget (reference:
python/cocoindex/connectors/zvec/_target.py — an embedded, in-process
vector DB: single string doc id, typed field schema with boundary
encoders, FP32/FP16 dense vectors with optional fp16/int8/int4
quantization, handle-cached connections because a concurrent open of
the same collection path crashes, ``optimize()`` after every applied
batch, and collection-level destroy+recreate when the schema
fingerprint changes).

Spark-first shape: the collection's physical store is the repo's
versioned bucketed parquet ``ManagedTable`` (one merge per apply, no
driver-side rows); the *dialect* is everything around it —

- **Schema resolution** (``CollectionSchema.from_struct``) mirrors the
  reference's ``_resolve_column`` (_target.py:338-438): exactly one
  primary key, always stored as a STRING doc id; scalar Spark types map
  to zvec DataTypes with wire encoders (binary→base64 STRING,
  date/timestamp/decimal→STRING, array<scalar>→ARRAY_*, any nested
  struct/map→JSON STRING fallback); dense vectors must be float32 or
  float16 (_target.py:311-322) with a declared dimension and a metric
  in {cosine, ip, l2}.
- **Boundary encoders are JVM expressions** (base64/date_format/
  to_json/cast) — no Python in the upsert path except the two
  quantizers that genuinely need numpy bit tricks.
- **Quantization is real** (_target.py:525-536 QuantizeType): ``int8``
  stores a per-vector symmetric scale + tinyint array, computed with
  JVM ``aggregate``/``transform``; ``fp16`` stores packed
  little-endian half floats (2 bytes/dim) via an Arrow pandas_udf;
  ``int4`` packs two nibbles per byte. ``read_docs`` dequantizes back
  to float, so a round trip is the same lossy codec the reference
  applies.
- **ManagedConnection** caches one open handle per collection name
  (_target.py:109-171) and refuses cross-instance concurrent opens via
  a pid lockfile.
- **optimize() after each apply** folds onto
  ``ManagedTable.maybe_compact`` — the same fragment/dead-bytes policy
  the LanceDB analog uses.
- **Collection reconcile** (_target.py:810-860): the resolved schema's
  fingerprint is stored in the collection manifest; reopening with a
  changed schema destroys and recreates (the reference's tracked
  destroy+create pair), while an identical schema reattaches.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cocoindex_spark.fingerprint import fp_value
from cocoindex_spark.sinks import Target
from cocoindex_spark.state.store import ManagedTable

_METRICS = ("cosine", "ip", "l2")
_QUANTIZE = ("none", "fp16", "int8", "int4")


@dataclass(frozen=True)
class ZvecVectorDef:
    """Per-column dense-vector options (reference _target.py:229-242)."""

    dim: int = 0
    metric: str = "cosine"
    quantize: str = "none"


@dataclass
class _Column:
    name: str
    kind: str  # "scalar" | "dense"
    data_type: str  # zvec DataType name, e.g. "INT64", "VECTOR_FP32"
    nullable: bool = True
    dimension: int | None = None
    metric: str | None = None
    quantize: str | None = None
    encode: object = None  # Column -> Column JVM encoder, or None


# Spark scalar type -> (zvec DataType name, JVM encoder or None).
# Mirrors _LEAF_SCALAR_MAPPINGS (_target.py:283-297): types zvec cannot
# hold natively are stringified at the wire boundary.
def _scalar_mapping(dt) -> tuple[str, object]:
    if isinstance(dt, BooleanType):
        return "BOOL", None
    if isinstance(dt, (ByteType, ShortType, IntegerType)):
        return "INT32", None
    if isinstance(dt, LongType):
        return "INT64", None
    if isinstance(dt, (FloatType, DoubleType)):
        return "DOUBLE", lambda c: c.cast("double")
    if isinstance(dt, StringType):
        return "STRING", None
    if isinstance(dt, BinaryType):
        return "STRING", F.base64
    if isinstance(dt, DecimalType):
        return "STRING", lambda c: c.cast("string")
    if isinstance(dt, DateType):
        return "STRING", lambda c: F.date_format(c, "yyyy-MM-dd")
    if isinstance(dt, TimestampType):
        return "STRING", lambda c: F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    if isinstance(dt, ArrayType):
        elem = dt.elementType
        if isinstance(elem, StringType):
            return "ARRAY_STRING", None
        if isinstance(elem, (ByteType, ShortType, IntegerType, LongType)):
            return "ARRAY_INT64", lambda c: c.cast("array<bigint>")
        if isinstance(elem, (FloatType, DoubleType)):
            return "ARRAY_DOUBLE", lambda c: c.cast("array<double>")
        if isinstance(elem, BooleanType):
            return "ARRAY_BOOL", None
    # Fallback: complex/unknown types ride as a JSON string
    # (_target.py:334-336).
    if isinstance(dt, (StructType, MapType, ArrayType)):
        return "STRING", F.to_json
    return "STRING", lambda c: c.cast("string")


@dataclass
class CollectionSchema:
    """Resolved zvec collection schema (reference _target.py:441-512)."""

    columns: dict[str, _Column]
    primary_key: str

    def __post_init__(self) -> None:
        if self.primary_key not in self.columns:
            raise ValueError(
                f"Primary key column {self.primary_key!r} not found in columns: "
                f"{list(self.columns)}"
            )
        if self.columns[self.primary_key].kind != "scalar":
            raise ValueError(
                f"Primary key column {self.primary_key!r} must be a scalar field"
            )

    @classmethod
    def from_struct(
        cls,
        schema: StructType,
        primary_key: list[str],
        vector_defs: dict[str, ZvecVectorDef] | None = None,
    ) -> "CollectionSchema":
        """Resolve a Spark StructType into zvec columns.

        ``primary_key`` must be exactly one column (it becomes the doc
        id, _target.py:496-500). ``vector_defs`` marks float-array
        columns as dense vectors with a declared dimension.
        """
        if len(primary_key) != 1:
            raise ValueError(
                "zvec collections require exactly one primary key column "
                f"(mapped to the document id), got {primary_key}."
            )
        vector_defs = vector_defs or {}
        columns: dict[str, _Column] = {}
        for f_ in schema.fields:
            vd = vector_defs.get(f_.name)
            if vd is not None:
                dt = f_.dataType
                if not isinstance(dt, ArrayType) or not isinstance(
                    dt.elementType, (FloatType, DoubleType)
                ):
                    raise ValueError(
                        f"Vector column {f_.name!r} must be array<float>, "
                        f"got {dt.simpleString()}"
                    )
                if vd.dim <= 0:
                    raise ValueError(
                        f"Invalid vector dimension for {f_.name!r}: {vd.dim}"
                    )
                if vd.metric not in _METRICS:
                    raise ValueError(f"Unsupported metric type: {vd.metric!r}")
                if vd.quantize not in _QUANTIZE:
                    raise ValueError(f"Unsupported quantize type: {vd.quantize!r}")
                # zvec dense vectors are FP32/FP16 only; Spark double
                # arrays must be declared down to fp32 (_target.py:311-322).
                if isinstance(dt.elementType, DoubleType):
                    raise ValueError(
                        f"Unsupported dense vector dtype float64 for {f_.name!r}; "
                        "zvec dense vectors must be float32 or float16."
                    )
                columns[f_.name] = _Column(
                    name=f_.name,
                    kind="dense",
                    data_type="VECTOR_FP32",
                    nullable=f_.nullable,
                    dimension=vd.dim,
                    metric=vd.metric,
                    quantize=vd.quantize,
                )
                continue
            data_type, encode = _scalar_mapping(f_.dataType)
            columns[f_.name] = _Column(
                name=f_.name,
                kind="scalar",
                data_type=data_type,
                nullable=f_.nullable,
                encode=encode,
            )
        return cls(columns, primary_key[0])

    def fingerprint(self) -> str:
        return fp_value(
            [
                (
                    c.name,
                    c.kind,
                    c.data_type,
                    c.dimension,
                    c.metric,
                    c.quantize,
                )
                for c in self.columns.values()
            ]
            + [("__pk__", self.primary_key)]
        )

    # ---- physical (stored) schema -------------------------------------
    def storage_schema(self) -> StructType:
        """The encoded parquet schema: doc id STRING plus per-column
        physical fields (quantized vectors expand to payload+scale)."""
        fields: list[StructField] = [StructField("__doc_id", StringType(), False)]
        for c in self.columns.values():
            if c.name == self.primary_key:
                continue
            if c.kind == "dense":
                q = c.quantize or "none"
                if q == "none":
                    fields.append(
                        StructField(c.name, ArrayType(FloatType()), c.nullable)
                    )
                elif q == "int8":
                    fields.append(
                        StructField(f"{c.name}__q", ArrayType(ByteType()), c.nullable)
                    )
                    fields.append(
                        StructField(f"{c.name}__scale", FloatType(), c.nullable)
                    )
                else:  # fp16 / int4: packed bytes + (int4) scale
                    fields.append(
                        StructField(f"{c.name}__packed", BinaryType(), c.nullable)
                    )
                    if q == "int4":
                        fields.append(
                            StructField(f"{c.name}__scale", FloatType(), c.nullable)
                        )
            else:
                spark_type = {
                    "BOOL": BooleanType(),
                    "INT32": IntegerType(),
                    "INT64": LongType(),
                    "DOUBLE": DoubleType(),
                    "STRING": StringType(),
                    "ARRAY_STRING": ArrayType(StringType()),
                    "ARRAY_INT64": ArrayType(LongType()),
                    "ARRAY_DOUBLE": ArrayType(DoubleType()),
                    "ARRAY_BOOL": ArrayType(BooleanType()),
                }[c.data_type]
                fields.append(StructField(c.name, spark_type, c.nullable))
        return StructType(fields)


# ---------------------------------------------------------------------------
# Quantization codecs
# ---------------------------------------------------------------------------


def _int8_quantize(col: F.Column) -> tuple[F.Column, F.Column]:
    """Symmetric per-vector int8: scale = max|x|/127, q = round(x/scale).

    Pure JVM expressions — stays inside codegen, no Python worker.
    """
    mx = F.aggregate(col, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(col, lambda x: F.round(x / scale).cast("tinyint"))
    return q, scale.cast("float")


def _int8_dequantize(q: F.Column, scale: F.Column) -> F.Column:
    return F.transform(q, lambda v: (v.cast("float") * scale).cast("float"))


def _fp16_pack_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def pack(v: pd.Series) -> pd.Series:
        return v.map(
            lambda a: None
            if a is None
            else np.asarray(a, dtype=np.float32).astype("<f2").tobytes()
        )

    return pack


def _fp16_unpack_udf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(FloatType()))
    def unpack(b: pd.Series) -> pd.Series:
        return b.map(
            lambda raw: None
            if raw is None
            else np.frombuffer(raw, dtype="<f2").astype(np.float32).tolist()
        )

    return unpack


def _int4_pack_udf():
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StructType as _St

    out = _St(
        [
            StructField("packed", BinaryType()),
            StructField("scale", FloatType()),
        ]
    )

    @pandas_udf(out)
    def pack(v: pd.Series) -> pd.DataFrame:
        packed, scales = [], []
        for a in v:
            if a is None:
                packed.append(None)
                scales.append(None)
                continue
            arr = np.asarray(a, dtype=np.float32)
            mx = float(np.max(np.abs(arr))) if arr.size else 0.0
            scale = mx / 7.0 if mx > 0 else 1.0
            q = np.clip(np.round(arr / scale), -7, 7).astype(np.int8) + 8
            if q.size % 2:
                q = np.append(q, 8)  # pad nibble encodes 0
            b = ((q[0::2].astype(np.uint8) << 4) | q[1::2].astype(np.uint8)).tobytes()
            packed.append(b)
            scales.append(np.float32(scale))
        return pd.DataFrame({"packed": packed, "scale": scales})

    return pack


def _int4_unpack_udf(dim: int):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(FloatType()))
    def unpack(packed: pd.Series, scale: pd.Series) -> pd.Series:
        out = []
        for raw, s in zip(packed, scale):
            if raw is None:
                out.append(None)
                continue
            b = np.frombuffer(raw, dtype=np.uint8)
            hi = (b >> 4).astype(np.int8) - 8
            lo = (b & 0x0F).astype(np.int8) - 8
            q = np.empty(hi.size * 2, dtype=np.int8)
            q[0::2] = hi
            q[1::2] = lo
            out.append((q[:dim].astype(np.float32) * np.float32(s)).tolist())
        return pd.Series(out)

    return unpack


# ---------------------------------------------------------------------------
# Managed connection + collections
# ---------------------------------------------------------------------------


class ZvecCollection:
    """One open embedded collection (reference _target.py:109-171:
    handles are cached; apply = upsert batch + delete batch + optimize)."""

    def __init__(self, path: str, schema: CollectionSchema):
        self.path = path
        self.schema = schema
        self._store = ManagedTable(
            os.path.join(path, "data"), ["__doc_id"], schema.storage_schema()
        )

    # -- write path ------------------------------------------------------
    def _encode(self, rows: DataFrame) -> DataFrame:
        s = self.schema
        cols = [F.col(s.primary_key).cast("string").alias("__doc_id")]
        for c in s.columns.values():
            if c.name == s.primary_key:
                continue
            if c.kind == "dense":
                base = F.col(c.name).cast("array<float>")
                checked = F.when(
                    base.isNull() | (F.size(base) == c.dimension), base
                ).otherwise(F.raise_error(F.lit(f"bad dim for {c.name}")))
                q = c.quantize or "none"
                if q == "none":
                    cols.append(checked.alias(c.name))
                elif q == "int8":
                    qv, scale = _int8_quantize(checked)
                    cols.append(qv.alias(f"{c.name}__q"))
                    cols.append(scale.alias(f"{c.name}__scale"))
                elif q == "fp16":
                    cols.append(_fp16_pack_udf()(checked).alias(f"{c.name}__packed"))
                else:  # int4
                    packed = _int4_pack_udf()(checked)
                    cols.append(packed["packed"].alias(f"{c.name}__packed"))
                    cols.append(packed["scale"].alias(f"{c.name}__scale"))
            else:
                col = F.col(c.name)
                cols.append(
                    (c.encode(col) if c.encode else col).alias(c.name)
                )
        return rows.select(*cols)

    def apply(self, upserts: DataFrame | None, deletes: DataFrame | None) -> None:
        """Encoded upserts and doc-id deletes in one MERGE."""
        if upserts is not None:
            upserts = self._encode(upserts)
        if deletes is not None:
            deletes = deletes.select(
                F.col(self.schema.primary_key).cast("string").alias("__doc_id")
            )
        self._store.merge_apply(upserts, deletes)

    def optimize(self, spark: SparkSession) -> None:
        """Post-apply optimize (reference _target.py:658-659): compact
        when fragments or dead bytes exceed the managed-table policy."""
        if not self._store.maybe_grow(spark):
            self._store.maybe_compact(spark)

    # -- read path ---------------------------------------------------------
    def read_docs(self, spark: SparkSession) -> DataFrame:
        """Decoded view: doc id + dequantized dense vectors + fields."""
        df = self._store.read(spark)
        s = self.schema
        cols = [F.col("__doc_id").alias("doc_id")]
        for c in s.columns.values():
            if c.name == s.primary_key:
                continue
            if c.kind == "dense":
                q = c.quantize or "none"
                if q == "none":
                    cols.append(F.col(c.name))
                elif q == "int8":
                    cols.append(
                        _int8_dequantize(
                            F.col(f"{c.name}__q"), F.col(f"{c.name}__scale")
                        ).alias(c.name)
                    )
                elif q == "fp16":
                    cols.append(
                        _fp16_unpack_udf()(F.col(f"{c.name}__packed")).alias(c.name)
                    )
                else:
                    cols.append(
                        _int4_unpack_udf(c.dimension)(
                            F.col(f"{c.name}__packed"), F.col(f"{c.name}__scale")
                        ).alias(c.name)
                    )
            else:
                cols.append(F.col(c.name))
        return df.select(*cols)


class ManagedZvecConnection:
    """Handle cache over a base directory of collections.

    The reference caches handles because concurrently opening the same
    collection path crashes the process (_target.py:109-121); we model
    that with a pid lockfile per collection plus an in-process cache.
    """

    def __init__(self, base_path: str):
        self.base_path = base_path
        os.makedirs(base_path, exist_ok=True)
        self._open: dict[str, ZvecCollection] = {}

    def collection_path(self, name: str) -> str:
        if not name or any(ch in name for ch in "/\\\0"):
            raise ValueError(f"Invalid collection name: {name!r}")
        return os.path.join(self.base_path, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.collection_path(name), "manifest.json")

    def _lock(self, name: str) -> None:
        lock = os.path.join(self.collection_path(name), "owner.pid")
        if os.path.exists(lock):
            with open(lock) as fh:
                pid = fh.read().strip()
            if pid and pid != str(os.getpid()):
                raise RuntimeError(
                    f"collection {name!r} is open in process {pid}; zvec "
                    "collections are single-process"
                )
        with open(lock, "w") as fh:
            fh.write(str(os.getpid()))

    def open_or_create(self, name: str, schema: CollectionSchema) -> ZvecCollection:
        """Open a collection, creating it if absent; a schema-fingerprint
        mismatch destroys and recreates (collection reconcile,
        _target.py:810-860)."""
        cached = self._open.get(name)
        if cached is not None and cached.schema.fingerprint() == schema.fingerprint():
            return cached
        path = self.collection_path(name)
        manifest = self._manifest_path(name)
        if os.path.exists(manifest):
            with open(manifest) as fh:
                stored = json.load(fh)
            if stored.get("schema_fp") != schema.fingerprint():
                self.destroy(name)
        if not os.path.exists(manifest):
            os.makedirs(path, exist_ok=True)
            tmp = manifest + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "schema_fp": schema.fingerprint(),
                        "primary_key": schema.primary_key,
                        "columns": {
                            c.name: {
                                "kind": c.kind,
                                "data_type": c.data_type,
                                "dimension": c.dimension,
                                "metric": c.metric,
                                "quantize": c.quantize,
                            }
                            for c in schema.columns.values()
                        },
                    },
                    fh,
                )
            os.replace(tmp, manifest)
        self._lock(name)
        col = ZvecCollection(path, schema)
        self._open[name] = col
        return col

    def open_existing(self, name: str) -> ZvecCollection:
        if name in self._open:
            return self._open[name]
        raise RuntimeError(f"collection {name!r} is not open (open_or_create first)")

    def destroy(self, name: str) -> None:
        self._open.pop(name, None)
        path = self.collection_path(name)
        if os.path.exists(path):
            shutil.rmtree(path)

    def close(self) -> None:
        for name in list(self._open):
            lock = os.path.join(self.collection_path(name), "owner.pid")
            if os.path.exists(lock):
                os.remove(lock)
        self._open.clear()


class ZvecTarget(Target):
    """TableTarget-contract sink over an embedded zvec collection, so
    the sync engine can drive it like every other target: ``apply``
    receives only changed rows and removed keys, and ends in one
    ``optimize()`` (reference _target.py:638-659)."""

    def __init__(
        self,
        conn: ManagedZvecConnection,
        name: str,
        pk: list[str],
        schema: StructType,
        vector_defs: dict[str, ZvecVectorDef] | None = None,
    ):
        self.name = name
        self.pk = pk
        self.schema = schema
        self.collection_schema = CollectionSchema.from_struct(schema, pk, vector_defs)
        self._conn = conn
        self._col = conn.open_or_create(name, self.collection_schema)

    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """One upsert batch, one delete batch and one optimize
        (reference _target.py:638-659): a mixed sync rewrites the
        collection once."""
        col = self._conn.open_existing(self.name)
        col.apply(upserts, deletes)
        col.optimize((upserts if upserts is not None else deletes).sparkSession)

    def read(self, spark: SparkSession) -> DataFrame:
        return self._conn.open_existing(self.name).read_docs(spark)
