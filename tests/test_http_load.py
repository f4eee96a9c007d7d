"""HttpLoadTarget (Doris stream-load shape, sinks/http_load.py)
against a recording stdlib http.server: protocol framing, chunking,
deterministic labels (retry idempotency), delete-sign rows."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql.types import StructType

from cocoindex_spark.sinks.http_load import DELETE_SIGN, HttpLoadTarget


@pytest.fixture()
def record_server():
    received: list[dict] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_PUT(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                received.append(
                    {
                        "path": self.path,
                        "label": self.headers.get("label"),
                        "rows": json.loads(body),
                    }
                )
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b'{"Status":"Success"}')

        def log_message(self, *a):  # quiet
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", received
    srv.shutdown()


def _target(endpoint, **kw):
    return HttpLoadTarget(
        "docs",
        ["k"],
        StructType.fromDDL("k STRING, v STRING, n LONG"),
        endpoint,
        db="testdb",
        num_writers=2,
        **kw,
    )


def test_stream_load_framing_and_chunking(spark, record_server):
    endpoint, received = record_server
    t = _target(endpoint, rows_per_load=2)
    df = spark.createDataFrame(
        [("a", "1", 1), ("b", "2", 2), ("c", "3", 3), ("d", "4", 4), ("e", "5", 5)],
        t.schema,
    )
    t.upsert(df)
    assert all(r["path"] == "/api/testdb/docs/_stream_load" for r in received)
    rows = [row for r in received for row in r["rows"]]
    assert {row["k"]: row["v"] for row in rows} == {
        "a": "1", "b": "2", "c": "3", "d": "4", "e": "5",
    }
    assert all(len(r["rows"]) <= 2 for r in received)  # chunking respected
    assert all(r["label"].startswith("docs-") for r in received)


def test_labels_deterministic_across_replay(spark, record_server):
    endpoint, received = record_server
    t = _target(endpoint)
    df = spark.createDataFrame([("a", "1", 1), ("b", "2", 2)], t.schema)
    t.upsert(df)
    first = sorted(r["label"] for r in received)
    received.clear()
    t.upsert(df)  # replay: identical chunks ⇒ identical labels
    assert sorted(r["label"] for r in received) == first


def test_labels_differ_across_syncs(spark, record_server):
    """A value-revert sync re-sends identical bytes; the label must NOT
    collide with the earlier sync's (the server would silently drop it)."""
    endpoint, received = record_server
    t = _target(endpoint)
    df = spark.createDataFrame([("a", "1", 1), ("b", "2", 2)], t.schema)
    t.apply(df, None, 101)
    first = sorted(r["label"] for r in received)
    received.clear()
    t.apply(df, None, 102)  # next sync: same bytes, new version
    second = sorted(r["label"] for r in received)
    assert set(first).isdisjoint(second)
    assert all(lbl.startswith("docs-102-") for lbl in second)


@pytest.fixture()
def fail_server():
    """Server that reports Status=Fail in the body UNDER HTTP 200."""

    class Handler(BaseHTTPRequestHandler):
        def do_PUT(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(
                b'{"Status":"Fail","Message":"type mismatch for column n"}'
            )

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_http200_body_failure_raises(spark, fail_server):
    """Doris reports load failures in the JSON body with HTTP 200 — the
    sink must raise, not commit tracking over a dropped load."""
    from py4j.protocol import Py4JJavaError

    t = _target(fail_server)
    df = spark.createDataFrame([("a", "1", 1)], t.schema)
    with pytest.raises(Py4JJavaError, match="StreamLoadError|stream load failed"):
        t.upsert(df)


def test_label_already_exists_is_idempotent_success(spark):
    """Within a sync, a duplicate label means a task retry of an
    already-consumed chunk — treated as success, not an error."""

    class Handler(BaseHTTPRequestHandler):
        def do_PUT(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b'{"Status":"Label Already Exists"}')

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        t = _target(f"http://127.0.0.1:{srv.server_port}")
        t.upsert(spark.createDataFrame([("a", "1", 1)], t.schema))  # no raise
    finally:
        srv.shutdown()


def test_delete_sign_rows(spark, record_server):
    endpoint, received = record_server
    t = _target(endpoint)
    t.delete(spark.createDataFrame([("a",), ("b",)], "k STRING"))
    rows = [row for r in received for row in r["rows"]]
    assert all(row[DELETE_SIGN] == 1 for row in rows)
    assert {row["k"] for row in rows} == {"a", "b"}


def test_pk_change_sweeps_through_apply(spark, record_server, tmp_state):
    """A pk change on an apply-only sink sweeps every tracked row
    through apply's delete channel, labelled with the sync's version
    like the rows that sync re-loads."""
    from cocoindex_spark.engine.app import App

    endpoint, received = record_server
    app = App("hpk", state_dir=tmp_state, spark=spark)
    src = spark.createDataFrame([("a", "1", 1), ("b", "2", 2)], "k STRING, v STRING, n LONG")
    try:
        wide = HttpLoadTarget("docs", ["k", "n"], _target(endpoint).schema, endpoint, db="testdb")
        app.sync_table(src, ["k"], lambda d: d, wide)
        received.clear()
        s = app.sync_table(src, ["k"], lambda d: d, _target(endpoint))
        assert s.extra["schema_evolution"] == "destructive"
        swept = [row for r in received for row in r["rows"] if row.get(DELETE_SIGN) == 1]
        assert sorted(row["k"] for row in swept) == ["a", "b"]
        versions = {r["label"].split("-")[1] for r in received}
        assert len(versions) == 1 and versions != {"0"}
    finally:
        app.drop()


def test_pk_widening_sweeps_under_the_old_pk(spark, record_server, tmp_state):
    """A pk change that adds a column sweeps the tracked rows under the
    pk they were written with: each delete-sign row carries the old key
    only."""
    from cocoindex_spark.engine.app import App

    endpoint, received = record_server
    app = App("hpkw", state_dir=tmp_state, spark=spark)
    src = spark.createDataFrame([("a", "1", 1), ("b", "2", 2)], "k STRING, v STRING, n LONG")
    try:
        app.sync_table(src, ["k"], lambda d: d, _target(endpoint))
        received.clear()
        wide = HttpLoadTarget("docs", ["k", "n"], _target(endpoint).schema, endpoint, db="testdb")
        s = app.sync_table(src, ["k"], lambda d: d, wide)
        assert s.extra["schema_evolution"] == "destructive"
        swept = [row for r in received for row in r["rows"] if row.get(DELETE_SIGN) == 1]
        assert sorted(swept, key=lambda row: row["k"]) == [
            {"k": "a", DELETE_SIGN: 1},
            {"k": "b", DELETE_SIGN: 1},
        ]
        assert wide.pk == ["k", "n"]
    finally:
        app.drop()
