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

``apply(upserts, deletes, version)`` sends through the shared batched
partition writer (``sinks/_wire.py``), keeping every row. A delete
channel raises ``UnsupportedOperationError`` exactly like the
reference, before any message is sent: an append-only log cannot
express retraction, and a mixed sync must not half-apply; the engine
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
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from cocoindex_spark.session import local_frame
from cocoindex_spark.sinks import Target
from cocoindex_spark.sinks._wire import request_json, write_batched


class UnsupportedOperationError(RuntimeError):
    pass


def message_id(key: str, payload: bytes) -> int:
    """Deterministic 63-bit message id — stable across retries."""
    h = hashlib.md5(key.encode() + b"\x00" + payload).digest()
    return int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF


def _request(url: str, method: str, body: dict | None) -> dict:
    import urllib.error

    try:
        return request_json(url, method, None if body is None else json.dumps(body).encode())
    except urllib.error.HTTPError as e:
        if e.code == 409:  # already exists — idempotent declare
            return {}
        raise RuntimeError(f"iggy request failed: {method} {url} -> {e.code}")


class IggyHttpTarget(Target):
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

    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """Append one message per upsert row, key-partitioned; every
        row is kept (an append-only log has no last-wins). Rows are
        repartitioned BY KEY so each key's messages leave one task in
        order — per-key ordering survives parallel writers. A delete
        channel raises before anything is sent."""
        if deletes is not None:
            raise UnsupportedOperationError(
                "Iggy topics are append-only logs: no Kafka-style tombstones "
                "(reference iggy/_target.py:129). Use TopicTarget for "
                "components that retract."
            )
        key, val, url = self.pk[0], self.value_col, self.send_url

        def encode(op, row):
            raw = row[val]
            payload = bytes(raw if isinstance(raw, (bytes, bytearray)) else str(raw).encode())
            k = str(row[key])
            return k, {
                "id": message_id(k, payload),
                "payload": base64.b64encode(payload).decode(),
            }

        def send(op, batch) -> None:
            # one request per partitioning key run: the envelope
            # carries a single messages_key for the whole batch
            by_key: dict[str, list[dict]] = {}
            for k, msg in batch:
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

        write_batched(
            upserts, None, self.pk, [key, val], self._num_writers,
            (self.messages_per_request,) * 2, encode, lambda: nullcontext(send),
            keyed=False,
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
