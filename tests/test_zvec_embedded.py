"""zvec embedded-collection dialect contract tests
(reference: python/cocoindex/connectors/zvec/_target.py).

Covers: schema resolution + validation errors, boundary encoders,
all three quantization codecs round-tripping within their error
bounds, handle cache / single-process lock, destroy+recreate on
schema-fingerprint change, and the upsert/delete/optimize apply loop.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from cocoindex_spark.sinks.zvec_embedded import (
    CollectionSchema,
    ManagedZvecConnection,
    ZvecTarget,
    ZvecVectorDef,
)


def _doc_schema(vec_type=FloatType()):
    return StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("body", StringType(), True),
            StructField("raw", BinaryType(), True),
            StructField("price", DecimalType(10, 2), True),
            StructField("day", DateType(), True),
            StructField("tags", ArrayType(StringType()), True),
            StructField("props", MapType(StringType(), StringType()), True),
            StructField("emb", ArrayType(vec_type), True),
        ]
    )


class TestSchemaResolution:
    def test_scalar_mappings(self):
        cs = CollectionSchema.from_struct(
            _doc_schema(), ["doc_id"], {"emb": ZvecVectorDef(dim=4)}
        )
        kinds = {c.name: c.data_type for c in cs.columns.values()}
        assert kinds["doc_id"] == "INT64"
        assert kinds["body"] == "STRING"
        assert kinds["raw"] == "STRING"  # bytes -> b64 string
        assert kinds["price"] == "STRING"  # decimal -> string
        assert kinds["day"] == "STRING"  # date -> iso string
        assert kinds["tags"] == "ARRAY_STRING"
        assert kinds["props"] == "STRING"  # JSON fallback
        assert cs.columns["emb"].kind == "dense"
        assert cs.columns["emb"].data_type == "VECTOR_FP32"

    def test_pk_must_be_single(self):
        with pytest.raises(ValueError, match="exactly one primary key"):
            CollectionSchema.from_struct(_doc_schema(), ["doc_id", "body"])

    def test_pk_cannot_be_vector(self):
        with pytest.raises(ValueError, match="must be a scalar"):
            CollectionSchema.from_struct(
                _doc_schema(), ["emb"], {"emb": ZvecVectorDef(dim=4)}
            )

    def test_float64_vector_rejected(self):
        # zvec dense vectors are FP32/FP16 only (_target.py:311-322)
        with pytest.raises(ValueError, match="float32 or float16"):
            CollectionSchema.from_struct(
                _doc_schema(DoubleType()), ["doc_id"], {"emb": ZvecVectorDef(dim=4)}
            )

    def test_bad_metric_and_quantize(self):
        with pytest.raises(ValueError, match="metric"):
            CollectionSchema.from_struct(
                _doc_schema(),
                ["doc_id"],
                {"emb": ZvecVectorDef(dim=4, metric="hamming")},
            )
        with pytest.raises(ValueError, match="quantize"):
            CollectionSchema.from_struct(
                _doc_schema(),
                ["doc_id"],
                {"emb": ZvecVectorDef(dim=4, quantize="int2")},
            )
        with pytest.raises(ValueError, match="dimension"):
            CollectionSchema.from_struct(
                _doc_schema(), ["doc_id"], {"emb": ZvecVectorDef(dim=0)}
            )

    def test_fingerprint_tracks_quantize(self):
        a = CollectionSchema.from_struct(
            _doc_schema(), ["doc_id"], {"emb": ZvecVectorDef(dim=4)}
        )
        b = CollectionSchema.from_struct(
            _doc_schema(), ["doc_id"], {"emb": ZvecVectorDef(dim=4, quantize="int8")}
        )
        assert a.fingerprint() != b.fingerprint()


def _mk_target(spark, tmp_path, quantize="none", name="docs"):
    conn = ManagedZvecConnection(str(tmp_path / "zvec"))
    schema = _doc_schema()
    target = ZvecTarget(
        conn,
        name,
        ["doc_id"],
        schema,
        {"emb": ZvecVectorDef(dim=4, quantize=quantize)},
    )
    rows = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                body="hello",
                raw=b"\x00\x01",
                price=decimal.Decimal("12.50"),
                day=datetime.date(2026, 8, 15),
                tags=["a", "b"],
                props={"k": "v"},
                emb=[1.0, -0.5, 0.25, 0.0],
            ),
            Row(
                doc_id=2,
                body="world",
                raw=None,
                price=None,
                day=None,
                tags=None,
                props=None,
                emb=[0.1, 0.2, 0.3, 0.4],
            ),
        ],
        schema,
    )
    return conn, target, rows


class TestApplyLoop:
    def test_upsert_encoders_and_readback(self, spark, tmp_path):
        conn, target, rows = _mk_target(spark, tmp_path)
        target.upsert(rows)
        got = {r["doc_id"]: r for r in target.read(spark).collect()}
        assert set(got) == {"1", "2"}  # doc id is always a string
        assert got["1"]["raw"] == "AAE="  # b64
        assert got["1"]["price"] == "12.50"
        assert got["1"]["day"] == "2026-08-15"
        assert json.loads(got["1"]["props"]) == {"k": "v"}
        assert got["1"]["emb"] == [1.0, -0.5, 0.25, 0.0]
        conn.close()

    def test_delete_and_replay_idempotent(self, spark, tmp_path):
        conn, target, rows = _mk_target(spark, tmp_path)
        target.upsert(rows)
        target.upsert(rows)  # replay converges
        assert target.read(spark).count() == 2
        target.delete(rows.filter(F.col("doc_id") == 1))
        remaining = target.read(spark).collect()
        assert [r["doc_id"] for r in remaining] == ["2"]
        conn.close()

    def test_mixed_engine_sync_publishes_one_version(self, spark, tmp_path):
        """A mixed sync (edit 1, add 9, drop 2) is one apply: one
        rewrite of the collection, so one new data version."""
        from cocoindex_spark.engine.app import App

        conn = ManagedZvecConnection(str(tmp_path / "zvec"))
        schema = StructType.fromDDL("doc_id LONG, body STRING")
        target = ZvecTarget(conn, "docs", ["doc_id"], schema)
        app = App("zmixed", state_dir=str(tmp_path / "state"), spark=spark)
        store = target._col._store
        try:
            src = [(i, f"b{i}") for i in range(1, 9)]
            app.sync_table(spark.createDataFrame(src, schema), ["doc_id"], lambda d: d, target)
            versions_before = set(store._pointer().values())
            src = [(1, "edited")] + src[2:] + [(9, "b9")]
            s = app.sync_table(spark.createDataFrame(src, schema), ["doc_id"], lambda d: d, target)
            assert (s.inserts, s.updates, s.deletes) == (1, 1, 1)
            got = {r["doc_id"]: r["body"] for r in target.read(spark).collect()}
            assert got == {str(k): v for k, v in src}
            assert len(set(store._pointer().values()) - versions_before) == 1
        finally:
            app.drop()
            conn.close()

    def test_dimension_enforced(self, spark, tmp_path):
        conn, target, _ = _mk_target(spark, tmp_path)
        bad = spark.createDataFrame(
            [Row(doc_id=9, body=None, raw=None, price=None, day=None,
                 tags=None, props=None, emb=[1.0, 2.0])],
            _doc_schema(),
        )
        with pytest.raises(Exception, match="bad dim"):
            target.upsert(bad)
        conn.close()


class TestQuantization:
    VECS = [
        [1.0, -0.5, 0.25, 0.0],
        [0.001, -0.002, 0.003, -0.004],
        [100.0, -50.0, 25.0, 12.5],
    ]

    def _roundtrip(self, spark, tmp_path, quantize):
        conn, target, _ = _mk_target(spark, tmp_path, quantize=quantize)
        schema = _doc_schema()
        rows = spark.createDataFrame(
            [
                Row(doc_id=i, body=None, raw=None, price=None, day=None,
                    tags=None, props=None, emb=v)
                for i, v in enumerate(self.VECS)
            ],
            schema,
        )
        target.upsert(rows)
        got = {
            int(r["doc_id"]): r["emb"] for r in target.read(spark).collect()
        }
        conn.close()
        return got

    def test_int8_bound(self, spark, tmp_path):
        got = self._roundtrip(spark, tmp_path, "int8")
        for i, v in enumerate(self.VECS):
            # the stored scale is float32; allow its rounding on top of
            # the half-step quantization bound
            scale = max(abs(x) for x in v) / 127.0
            bound = scale / 2 + scale * 127 * 2 ** -23
            for orig, deq in zip(v, got[i]):
                assert abs(orig - deq) <= bound + 1e-9

    def test_fp16_matches_numpy(self, spark, tmp_path):
        np = pytest.importorskip("numpy")
        got = self._roundtrip(spark, tmp_path, "fp16")
        for i, v in enumerate(self.VECS):
            expect = np.asarray(v, np.float32).astype(np.float16).astype(np.float32)
            assert list(map(float, expect)) == got[i]

    def test_int4_bound(self, spark, tmp_path):
        got = self._roundtrip(spark, tmp_path, "int4")
        for i, v in enumerate(self.VECS):
            scale = max(abs(x) for x in v) / 7.0
            for orig, deq in zip(v, got[i]):
                assert abs(orig - deq) <= scale / 2 + 1e-9
            assert len(got[i]) == len(v)

    def test_int8_stays_jvm_side(self, spark, tmp_path):
        # the int8 codec must not introduce a Python worker
        conn, target, rows = _mk_target(spark, tmp_path, quantize="int8")
        plan = target._col._encode(rows)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        conn.close()


class TestReconcile:
    def test_schema_change_destroys(self, spark, tmp_path):
        conn, target, rows = _mk_target(spark, tmp_path)
        target.upsert(rows)
        assert target.read(spark).count() == 2
        # same name, changed quantize -> fingerprint mismatch -> recreate
        target2 = ZvecTarget(
            conn,
            "docs",
            ["doc_id"],
            _doc_schema(),
            {"emb": ZvecVectorDef(dim=4, quantize="int8")},
        )
        assert target2.read(spark).count() == 0  # data destroyed
        conn.close()

    def test_same_schema_reattaches(self, spark, tmp_path):
        conn, target, rows = _mk_target(spark, tmp_path)
        target.upsert(rows)
        conn.close()
        conn2 = ManagedZvecConnection(str(tmp_path / "zvec"))
        target2 = ZvecTarget(
            conn2, "docs", ["doc_id"], _doc_schema(),
            {"emb": ZvecVectorDef(dim=4)},
        )
        assert target2.read(spark).count() == 2
        conn2.close()

    def test_concurrent_open_rejected(self, spark, tmp_path):
        conn, target, rows = _mk_target(spark, tmp_path)
        # fake another process holding the collection
        lock = tmp_path / "zvec" / "docs" / "owner.pid"
        lock.write_text("99999999")
        conn._open.clear()
        with pytest.raises(RuntimeError, match="single-process"):
            conn.open_or_create("docs", target.collection_schema)
        lock.write_text(str(os.getpid()))
        conn.close()

    def test_bad_collection_name(self, tmp_path):
        conn = ManagedZvecConnection(str(tmp_path / "zvec"))
        with pytest.raises(ValueError, match="Invalid collection name"):
            conn.collection_path("a/b")
