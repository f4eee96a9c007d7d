"""IggyHttpTarget / IggyHttpSource (sinks/iggy_http.py) against a
recording stdlib http.server: idempotent stream/topic declare (409 =
exists = success), messages_key partitioning envelope, b64 payloads,
deterministic replay-safe message ids, append-only delete rejection,
and per-partition offset polling that drains to the head."""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from cocoindex_spark.sinks.iggy_http import (
    IggyHttpSource,
    IggyHttpTarget,
    UnsupportedOperationError,
    message_id,
)


@pytest.fixture()
def record_server():
    received: list[dict] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = json.loads(self.rfile.read(n)) if n else {}
            with lock:
                received.append(
                    {"method": "POST", "path": self.path, "body": body}
                )
            if self.path == "/streams" and any(
                r["path"] == "/streams" for r in received[:-1]
            ):
                self.send_response(409)  # second declare: already exists
                self.end_headers()
                return
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}", received
    srv.shutdown()


def _target(endpoint, **kw):
    return IggyHttpTarget(
        "docs", "chunks", ["doc_id"], endpoint, value_col="body",
        num_writers=2, **kw,
    )


def test_declare_is_idempotent(record_server):
    endpoint, received = record_server
    t = _target(endpoint)
    t.ensure()
    t.ensure()  # second run: 409 on /streams must be swallowed
    paths = [r["path"] for r in received]
    assert paths.count("/streams") == 2
    assert paths.count("/streams/docs/topics") == 2
    topic_body = next(
        r["body"] for r in received if r["path"] == "/streams/docs/topics"
    )
    assert topic_body == {"name": "chunks", "partitions_count": 4}


def test_send_framing_key_envelope_and_ids(spark, record_server):
    endpoint, received = record_server
    t = _target(endpoint)
    df = spark.createDataFrame(
        [(1, "alpha"), (1, "beta"), (2, "gamma")], "doc_id LONG, body STRING"
    )
    t.upsert(df)
    sends = [r for r in received if r["path"].endswith("/messages")]
    assert all(
        r["path"] == "/streams/docs/topics/chunks/messages" for r in sends
    )
    # each request carries ONE messages_key for all its messages
    by_key: dict[str, list] = {}
    for r in sends:
        part = r["body"]["partitioning"]
        assert part["kind"] == "messages_key"
        k = base64.b64decode(part["value"]).decode()
        by_key.setdefault(k, []).extend(r["body"]["messages"])
    assert set(by_key) == {"1", "2"}
    payloads = {
        base64.b64decode(m["payload"]).decode() for m in by_key["1"]
    }
    assert payloads == {"alpha", "beta"}
    # replay-safe ids: deterministic function of (key, payload)
    m = next(
        m
        for m in by_key["2"]
        if base64.b64decode(m["payload"]) == b"gamma"
    )
    assert m["id"] == message_id("2", b"gamma")


def test_delete_rejected_append_only(spark, record_server):
    endpoint, _ = record_server
    t = _target(endpoint)
    with pytest.raises(UnsupportedOperationError, match="append-only"):
        t.delete(spark.createDataFrame([(1,)], "doc_id LONG"))


def test_poll_drains_partitions_to_head(spark):
    # canned log: partition 1 has 3 messages, partition 2 has 1;
    # batch=2 forces a second poll on partition 1
    log = {
        1: [(0, b"a"), (1, b"b"), (2, b"c")],
        2: [(0, b"z")],
        3: [],
        4: [],
    }

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            from urllib.parse import parse_qs, urlparse

            q = parse_qs(urlparse(self.path).query)
            pid = int(q["partition_id"][0])
            off = int(q["value"][0])
            count = int(q["count"][0])
            msgs = [
                {
                    "offset": o,
                    "id": 100 + o,
                    "payload": base64.b64encode(p).decode(),
                }
                for o, p in log[pid]
                if o >= off
            ][:count]
            body = json.dumps(
                {"partition_id": pid, "messages": msgs}
            ).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        src = IggyHttpSource(
            "docs", "chunks", f"http://127.0.0.1:{srv.server_port}", batch=2
        )
        rows = src.fetch(spark).collect()
        got = {(r.partition_id, r.offset): bytes(r.payload) for r in rows}
        assert got == {
            (1, 0): b"a",
            (1, 1): b"b",
            (1, 2): b"c",
            (2, 0): b"z",
        }
        # offset resume: start partition 1 at offset 2
        rows2 = src.fetch(spark, offsets={1: 2, 2: 1}).collect()
        assert {(r.partition_id, r.offset) for r in rows2} == {(1, 2)}
    finally:
        srv.shutdown()


def test_engine_pure_insert_sync_drives_iggy(spark, record_server, tmp_state):
    """The append-only wire sink under the engine's pure-insert sync:
    cold run sends every message, warm run sends nothing (memo), and a
    retracting source surfaces the append-only rejection instead of
    silently diverging."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from cocoindex_spark.engine.app import App
    from cocoindex_spark.engine.function import fn

    endpoint, received = record_server

    @fn(memo=True)
    def render(df):
        return df.select(
            "__args_fp",
            "__component_path",
            "doc_id",
            F.upper("title").alias("body"),
        )

    app = App("isync", state_dir=tmp_state, spark=spark)
    t = IggyHttpTarget(
        "docs", "chunks", ["doc_id"], endpoint, value_col="body",
        schema=StructType.fromDDL("doc_id LONG, body STRING"), num_writers=2,
    )
    src = spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id LONG, title STRING"
    )
    try:
        s1 = app.sync_table(src, ["doc_id"], render, t)
        assert s1.inserts == 2
        sends = [r for r in received if r["path"].endswith("/messages")]
        bodies = {
            base64.b64decode(m["payload"]).decode()
            for r in sends
            for m in r["body"]["messages"]
        }
        assert bodies == {"ONE", "TWO"}

        received.clear()
        s2 = app.sync_table(src, ["doc_id"], render, t)
        assert s2.noops == 2 and received == []

        with pytest.raises(Exception, match="append-only"):
            app.sync_table(
                src.filter(F.col("doc_id") != 2), ["doc_id"], render, t
            )
    finally:
        app.drop()


def test_engine_mixed_sync_raises_before_any_send(spark, record_server, tmp_state):
    """A mixed sync (edit 1, add 3, drop 2) on the append-only sink
    raises before a single message leaves: the upserts must not land
    when the deletes cannot."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from cocoindex_spark.engine.app import App

    endpoint, received = record_server

    def render(df):
        return df.select(
            "__args_fp", "__component_path", "doc_id", F.upper("title").alias("body")
        )

    app = App("imixed", state_dir=tmp_state, spark=spark)
    t = IggyHttpTarget(
        "docs", "chunks", ["doc_id"], endpoint, value_col="body",
        schema=StructType.fromDDL("doc_id LONG, body STRING"), num_writers=2,
    )
    schema = "doc_id LONG, title STRING"
    try:
        app.sync_table(spark.createDataFrame([(1, "one"), (2, "two")], schema), ["doc_id"], render, t)
        received.clear()
        with pytest.raises(UnsupportedOperationError, match="append-only"):
            app.sync_table(
                spark.createDataFrame([(1, "uno"), (3, "three")], schema), ["doc_id"], render, t
            )
        assert not [r for r in received if r["path"].endswith("/messages")]
    finally:
        app.drop()
