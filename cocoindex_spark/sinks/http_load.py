"""HTTP batch-load table sink — the Doris "Stream Load" protocol shape
(reference: python/cocoindex/connectors/doris/_target.py:565-704).

Doris ingests via HTTP PUT of a row batch to
``/api/{db}/{table}/_stream_load`` with a ``label`` header; the server
deduplicates labels, which is what makes retried loads exactly-once.
Deletes ride the same channel as rows carrying the hidden
``__DORIS_DELETE_SIGN__`` column (merge-on-write semantics).

``apply(upserts, deletes, version)`` sends both channels in one Spark
pass through the shared batched partition writer (``sinks/_wire.py``):
each executor partition chunks its rows, PUTs each chunk with a
DETERMINISTIC label (target name + sync version + md5 of the chunk
payload), commits nothing driver-side. A task retry re-sends
byte-identical chunks under identical labels, so the server's label
dedup makes speculative execution and failure replay converge — the
engine's idempotent-MERGE contract carried over an at-least-once
transport. The sync version keeps labels unique ACROSS syncs so a
later run legitimately re-sending identical bytes (value revert,
delete-then-reinsert) is not dropped by the server's label dedup.

The transport is stdlib ``urllib`` (executor-side, no extra deps).
Tests run against a recording ``http.server`` (tests/test_http_load.py);
no real Doris ships in this container, so the protocol framing — URL,
label header, JSON lines body, delete sign — is the tested contract.
"""

from __future__ import annotations

import hashlib
import json
from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from cocoindex_spark.sinks import Target
from cocoindex_spark.sinks._wire import DELETE, request_json, write_batched

DELETE_SIGN = "__DORIS_DELETE_SIGN__"


class StreamLoadError(RuntimeError):
    """A stream load the server reported as failed (possibly under HTTP 200)."""


def _put(url: str, label: str, body: bytes) -> None:
    headers = {"label": label, "format": "json", "strip_outer_array": "true"}
    payload = request_json(url, "PUT", body, headers)
    # Doris reports load failures in the JSON body UNDER HTTP 200
    # (Status=Fail, Label Already Exists, type errors) — a bare status
    # check silently swallows them and the sync would commit tracking as
    # applied over a load the server dropped. "Label Already Exists" is
    # success: same label ⇒ same sync + identical bytes (labels fold the
    # sync version), so this is a task retry of an already-consumed
    # chunk — the exactly-once contract working as intended.
    status = payload.get("Status", "Success")
    if status not in ("Success", "Publish Timeout", "Label Already Exists"):
        raise StreamLoadError(
            f"stream load failed: label={label} Status={status} "
            f"Message={payload.get('Message', '')!r}"
        )


class HttpLoadTarget(Target):
    """TableTarget-contract sink over the stream-load protocol.

    ``endpoint`` is the base URL (``http://fe:8030``); rows load to
    ``{endpoint}/api/{db}/{table}/_stream_load``.
    """

    def __init__(
        self,
        name: str,
        pk: list[str],
        schema: StructType,
        endpoint: str,
        db: str = "default",
        rows_per_load: int = 10000,
        num_writers: int = 8,
    ):
        self.name = name
        self.pk = pk
        self.schema = schema
        self.endpoint = endpoint.rstrip("/")
        self.db = db
        self.rows_per_load = rows_per_load
        self._num_writers = num_writers

    @property
    def load_url(self) -> str:
        return f"{self.endpoint}/api/{self.db}/{self.name}/_stream_load"

    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """Load rows and delete-sign rows in one Spark pass. Every label
        folds in ``version``, so retries within a sync dedup and later
        syncs re-sending identical bytes do not (module docstring);
        standalone callers get version 0."""
        cols, pk = [f.name for f in self.schema.fields], list(self.pk)
        url, table = self.load_url, self.name

        def encode(op, row):
            if op == DELETE:
                return {**{c: row[c] for c in pk}, DELETE_SIGN: 1}
            return {c: row[c] for c in cols}

        def send(op, batch) -> None:
            body = json.dumps(batch, sort_keys=True, default=str).encode()
            # Deterministic label WITHIN a sync: a retried task re-sends
            # the same bytes (the writer sorts each partition by pk)
            # under the same label → server-side dedup makes the load
            # idempotent (the reference's label contract).
            _put(url, f"{table}-{version}-{hashlib.md5(body).hexdigest()}", body)

        write_batched(
            upserts, deletes, pk, cols, self._num_writers,
            (self.rows_per_load,) * 2, encode, lambda: nullcontext(send),
        )
