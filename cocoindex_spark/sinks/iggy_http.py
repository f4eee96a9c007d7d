"""Iggy message-stream wire dialect (reference:
python/cocoindex/connectors/iggy/_target.py — append-only topic
target via the official client; _target.py:129 explicitly REJECTS
Kafka-style tombstones, and _source.py polls messages per partition
by offset).

Protocol (public Apache Iggy HTTP API):
- ensure:  ``POST /streams`` ``{"stream_id", "name"}`` then
  ``POST /streams/{s}/topics``
  ``{"topic_id", "name", "partitions_count"}`` — 409/"already exists"
  is success (idempotent declare, the reference's reconcile contract).
- send:    ``POST /streams/{s}/topics/{t}/messages`` with
  ``{"partitioning": {"kind": "messages_key", "value": b64(key)},
  "messages": [{"id", "payload": b64}]}`` — key partitioning
  preserves per-key order, the property the engine's last-wins
  coalescing assumes.
- poll:    ``GET .../messages?partition_id=&kind=offset&value=&count=``
  — consumed per partition on EXECUTORS (one task per Iggy
  partition), not the driver.

Message ids are deterministic md5-derived 64-bit ints of
(key, payload): a task retry resends the same ids, so a server-side
id-deduplicating topic converges — same replay-safety standard as the
stream-load labels (sinks/http_load.py).

Deletes raise ``UnsupportedOperationError`` exactly like the
reference: an append-only log cannot express retraction; the engine
routes tombstone-requiring components to TopicTarget instead.

Tests run against a recording stdlib http.server
(tests/test_iggy_http.py); no Iggy ships in this container, so the
framing — paths, partitioning envelope, b64 payloads, chunking,
idempotent-declare, per-partition polling — is the tested contract.
"""

from __future__ import annotations

import base64
import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from cocoindex_spark.session import local_frame


class UnsupportedOperationError(RuntimeError):
    pass


def message_id(key: str, payload: bytes) -> int:
    """Deterministic 63-bit message id — stable across retries."""
    h = hashlib.md5(key.encode() + b"\x00" + payload).digest()
    return int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF


def _request(url: str, method: str, body: dict | None) -> dict:
    import urllib.error
    import urllib.request

    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req) as resp:
            raw = resp.read()
    except urllib.error.HTTPError as e:
        if e.code == 409:  # already exists — idempotent declare
            return {}
        raise RuntimeError(f"iggy request failed: {method} {url} -> {e.code}")
    try:
        return json.loads(raw) if raw else {}
    except ValueError:
        return {}


class IggyHttpTarget:
    """Append-only topic sink speaking the Iggy HTTP dialect.

    ``pk`` is the partitioning key column (one column, stringified);
    ``value_col`` holds the message payload (string or binary).
    """

    def __init__(
        self,
        stream: str,
        topic: str,
        pk: list[str],
        endpoint: str,
        value_col: str = "value",
        schema=None,
        partitions_count: int = 4,
        messages_per_request: int = 512,
        num_writers: int = 8,
    ):
        if len(pk) != 1:
            raise ValueError("iggy partitioning key must be one column")
        self.stream = stream
        self.topic = topic
        self.name = f"{stream}.{topic}"  # engine target identity
        self.pk = pk
        self.endpoint = endpoint.rstrip("/")
        self.value_col = value_col
        # engine contract column set; apply-only sinks keep their
        # schema contract in the engine's own state table
        self.schema = schema or StructType(
            [
                StructField(pk[0], StringType()),
                StructField(value_col, StringType()),
            ]
        )
        self.partitions_count = partitions_count
        self.messages_per_request = messages_per_request
        self._num_writers = num_writers

    @property
    def send_url(self) -> str:
        return f"{self.endpoint}/streams/{self.stream}/topics/{self.topic}/messages"

    def ensure(self) -> None:
        """Idempotent stream+topic declare (reference _TopicHandler
        reconcile: create if absent, existing is success)."""
        _request(f"{self.endpoint}/streams", "POST", {"name": self.stream})
        _request(
            f"{self.endpoint}/streams/{self.stream}/topics",
            "POST",
            {"name": self.topic, "partitions_count": self.partitions_count},
        )

    def upsert(self, rows: DataFrame) -> None:
        """Append one message per row, key-partitioned. Rows are
        repartitioned BY KEY so each key's messages leave one task in
        order — per-key ordering survives parallel writers."""
        key, val = self.pk[0], self.value_col
        url, chunk = self.send_url, self.messages_per_request

        def write_partition(it) -> None:
            buf: list[tuple[str, dict]] = []

            def flush() -> None:
                if not buf:
                    return
                # one request per partitioning key run: the envelope
                # carries a single messages_key for the whole batch
                by_key: dict[str, list[dict]] = {}
                for k, msg in buf:
                    by_key.setdefault(k, []).append(msg)
                for k, msgs in by_key.items():
                    _request(
                        url,
                        "POST",
                        {
                            "partitioning": {
                                "kind": "messages_key",
                                "value": base64.b64encode(k.encode()).decode(),
                            },
                            "messages": msgs,
                        },
                    )
                buf.clear()

            for row in it:
                k = str(row[key])
                raw = row[val]
                payload = raw if isinstance(raw, (bytes, bytearray)) else str(
                    raw
                ).encode()
                buf.append(
                    (
                        k,
                        {
                            "id": message_id(k, bytes(payload)),
                            "payload": base64.b64encode(bytes(payload)).decode(),
                        },
                    )
                )
                if len(buf) >= chunk:
                    flush()
            flush()

        (
            rows.select(key, val)
            .repartition(self._num_writers, key)
            .foreachPartition(write_partition)
        )

    def delete(self, keys: DataFrame) -> None:
        raise UnsupportedOperationError(
            "Iggy topics are append-only logs: no Kafka-style tombstones "
            "(reference iggy/_target.py:129). Use TopicTarget for "
            "components that retract."
        )


class IggyHttpSource:
    """Per-partition offset polling — one Spark task per Iggy
    partition, each issuing its own offset-windowed GETs executor-side
    (reference _source.py consumes partition streams the same way; the
    driver never touches message bytes)."""

    def __init__(
        self,
        stream: str,
        topic: str,
        endpoint: str,
        partitions_count: int = 4,
        batch: int = 1000,
    ):
        self.stream = stream
        self.topic = topic
        self.endpoint = endpoint.rstrip("/")
        self.partitions_count = partitions_count
        self.batch = batch

    def poll_url(self, partition_id: int, offset: int, count: int) -> str:
        return (
            f"{self.endpoint}/streams/{self.stream}/topics/{self.topic}"
            f"/messages?partition_id={partition_id}&kind=offset"
            f"&value={offset}&count={count}&auto_commit=false"
        )

    def fetch(
        self, spark: SparkSession, offsets: dict[int, int] | None = None
    ) -> DataFrame:
        """All messages from the given per-partition offsets (default
        0) to the head: DataFrame(partition_id, offset, id, payload).
        Each partition drains in its own task; a partition is done
        when a poll returns fewer than ``batch`` messages."""
        offsets = offsets or {}
        endpoint, stream, topic = self.endpoint, self.stream, self.topic
        batch = self.batch
        parts = [
            (p, offsets.get(p, 0)) for p in range(1, self.partitions_count + 1)
        ]

        def drain(row):
            pid, off = row.partition_id, row.offset
            out = []
            while True:
                url = (
                    f"{endpoint}/streams/{stream}/topics/{topic}"
                    f"/messages?partition_id={pid}&kind=offset"
                    f"&value={off}&count={batch}&auto_commit=false"
                )
                resp = _request(url, "GET", None)
                msgs = resp.get("messages", [])
                for m in msgs:
                    out.append(
                        (
                            pid,
                            int(m["offset"]),
                            int(m.get("id", 0)),
                            base64.b64decode(m["payload"]),
                        )
                    )
                if len(msgs) < batch:
                    return out
                off = out[-1][1] + 1

        seed = local_frame(spark, parts, "partition_id INT, offset LONG")
        rdd = seed.repartition(self.partitions_count, "partition_id").rdd.flatMap(
            drain
        )
        return rdd.toDF("partition_id INT, offset LONG, id LONG, payload BINARY")
