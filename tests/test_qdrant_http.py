"""QdrantHttpTarget (sinks/qdrant_http.py) against a recording stdlib
http.server: REST paths, point framing (id/vector/payload), chunking,
deterministic non-integer id mapping, delete selector bodies, and
error surfacing."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql.types import StructType

from cocoindex_spark.sinks.qdrant_http import QdrantHttpTarget, point_id


@pytest.fixture()
def record_server():
    received: list[dict] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def _handle(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                received.append(
                    {
                        "method": self.command,
                        "path": self.path,
                        "body": json.loads(body),
                    }
                )
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b'{"status":"ok","result":{}}')

        do_PUT = _handle
        do_POST = _handle

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}", received
    srv.shutdown()


def _target(endpoint, **kw):
    return QdrantHttpTarget(
        "chunks",
        ["doc_id"],
        StructType.fromDDL("doc_id LONG, embedding ARRAY<FLOAT>, title STRING"),
        endpoint,
        num_writers=2,
        **kw,
    )


def test_upsert_framing_and_chunking(spark, record_server):
    endpoint, received = record_server
    t = _target(endpoint, points_per_request=2)
    df = spark.createDataFrame(
        [(i, [float(i), 0.5], f"t{i}") for i in range(5)], t.schema
    )
    t.upsert(df)
    assert all(
        r["method"] == "PUT" and r["path"] == "/collections/chunks/points?wait=true"
        for r in received
    )
    points = [p for r in received for p in r["body"]["points"]]
    assert {p["id"] for p in points} == set(range(5))
    assert all(len(r["body"]["points"]) <= 2 for r in received)
    p0 = next(p for p in points if p["id"] == 0)
    assert p0["vector"] == [0.0, 0.5] and p0["payload"] == {"title": "t0"}


def test_delete_selector(spark, record_server):
    endpoint, received = record_server
    t = _target(endpoint)
    t.delete(spark.createDataFrame([(1,), (3,)], "doc_id LONG"))
    assert all(
        r["method"] == "POST"
        and r["path"] == "/collections/chunks/points/delete?wait=true"
        for r in received
    )
    ids = [i for r in received for i in r["body"]["points"]]
    assert set(ids) == {1, 3}


def test_string_keys_map_to_deterministic_uuids():
    a, b = point_id("docs/readme.md"), point_id("docs/readme.md")
    assert a == b and isinstance(a, str) and len(a) == 36
    assert point_id("other") != a
    assert point_id(42) == 42  # non-negative ints pass through


def test_error_status_raises(spark):
    class Handler(BaseHTTPRequestHandler):
        def do_PUT(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b'{"status":{"error":"collection not found"}}')

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from py4j.protocol import Py4JJavaError

        t = _target(f"http://127.0.0.1:{srv.server_port}")
        df = spark.createDataFrame([(1, [0.1], "x")], t.schema)
        with pytest.raises(Py4JJavaError, match="qdrant request failed"):
            t.upsert(df)
    finally:
        srv.shutdown()


def test_engine_sync_drives_qdrant_target(spark, record_server, tmp_state):
    """The full sync loop against an APPLY-ONLY wire sink: the engine
    keeps the schema contract in its own state (the sink can't store
    metadata), sends only the delta, and cascades deletes by parsing
    pk values from the tracked paths — no sink read-back required."""
    from pyspark.sql import functions as F

    from cocoindex_spark.engine.app import App
    from cocoindex_spark.engine.function import fn

    endpoint, received = record_server

    @fn(memo=True)
    def embed(df):
        return df.select(
            "__args_fp",
            "__component_path",
            "doc_id",
            F.array(F.col("doc_id").cast("float")).alias("embedding"),
            F.upper("title").alias("title"),
        )

    app = App("qsync", state_dir=tmp_state, spark=spark)
    t = _target(endpoint)
    src = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id LONG, title STRING"
    )
    try:
        s1 = app.sync_table(src, ["doc_id"], embed, t)
        assert s1.inserts == 3
        points = [p for r in received for p in r["body"].get("points", [])]
        assert {p["id"] for p in points} == {1, 2, 3}
        assert {p["payload"]["title"] for p in points} == {"ONE", "TWO", "THREE"}

        # warm: nothing re-sent
        received.clear()
        s2 = app.sync_table(src, ["doc_id"], embed, t)
        assert s2.noops == 3 and s2.memo_misses == 0
        assert received == []

        # delete doc 2: cascade arrives as a points/delete with the pk
        # parsed from the tracked path (the sink was never read)
        received.clear()
        s3 = app.sync_table(
            src.filter(F.col("doc_id") != 2), ["doc_id"], embed, t
        )
        assert s3.deletes == 1
        deleted = [
            i
            for r in received
            if r["path"].endswith("/points/delete?wait=true")
            for i in r["body"]["points"]
        ]
        assert deleted == [2]
    finally:
        app.drop()


def test_engine_rename_sync_is_one_apply(spark, record_server, tmp_state):
    """A rename (doc 2's content moves to doc 4) reaches the wire sink
    through one apply: a PUT for the new id and a points/delete for the
    old one, with the old pk parsed from its tracked path."""
    from pyspark.sql import functions as F

    from cocoindex_spark.engine.app import App
    from cocoindex_spark.engine.function import fn

    endpoint, received = record_server

    @fn(memo=True)
    def embed(df):
        return df.select(
            "__args_fp",
            "__component_path",
            "doc_id",
            F.array(F.length("title").cast("float")).alias("embedding"),
            "title",
        )

    app = App("qrename", state_dir=tmp_state, spark=spark)
    t = _target(endpoint)
    schema = "doc_id LONG, title STRING"
    try:
        app.sync_table(spark.createDataFrame([(1, "one"), (2, "two")], schema), ["doc_id"], embed, t)
        received.clear()
        s = app.sync_table(
            spark.createDataFrame([(1, "one"), (4, "two")], schema), ["doc_id"], embed, t
        )
        assert s.inserts == 1 and s.deletes == 1 and s.updates == 0
        put = [p["id"] for r in received if r["method"] == "PUT" for p in r["body"]["points"]]
        deleted = [
            i
            for r in received
            if r["path"] == "/collections/chunks/points/delete?wait=true"
            for i in r["body"]["points"]
        ]
        assert put == [4] and deleted == [2]
    finally:
        app.drop()


def test_mixed_apply_launches_as_many_jobs_as_upsert(spark, record_server):
    """Both channels share one Spark pass: a mixed apply launches as
    many jobs as an upsert of the same rows alone."""
    from test_local_frame import _jobs_in_group

    endpoint, received = record_server
    t = _target(endpoint)
    rows = spark.createDataFrame([(i, [float(i)], f"t{i}") for i in range(4)], t.schema)
    keys = spark.createDataFrame([(7,), (8,)], "doc_id LONG")
    upsert_jobs = _jobs_in_group(spark, "qdrant-upsert", lambda: t.upsert(rows))
    mixed_jobs = _jobs_in_group(spark, "qdrant-mixed", lambda: t.apply(rows, keys))
    assert upsert_jobs and len(mixed_jobs) == len(upsert_jobs)
    deleted = {
        i for r in received if r["path"].endswith("/points/delete?wait=true")
        for i in r["body"]["points"]
    }
    assert deleted == {7, 8}
