"""Qdrant REST point sink — the vector-store wire dialect
(reference: python/cocoindex/connectors/qdrant/_target.py:240-315 —
point-level upsert via client.upsert, deletes via PointIdsList; the
engine tracks per-point fingerprints, so the sink only ever receives
the delta).

Protocol (public Qdrant REST API):
- upsert: ``PUT /collections/{c}/points?wait=true`` with
  ``{"points": [{"id", "vector", "payload"}]}``
- delete: ``POST /collections/{c}/points/delete?wait=true`` with
  ``{"points": [id, ...]}``

``apply(upserts, deletes, version)`` sends both in one Spark pass
through the shared batched partition writer (``sinks/_wire.py``):
chunked requests from the executors, nothing driver-side. Qdrant point
upserts are idempotent by id — retries and replays converge, which is
the contract the engine's MERGE phase assumes.

Point ids: Qdrant accepts unsigned ints or UUIDs. Integer keys pass
through; any other key becomes a deterministic UUID5 of its string
form, so the same component always writes the same point — rename
detection and deletes keep working across runs.

Tests run against a recording ``http.server``
(tests/test_qdrant_http.py); no Qdrant ships in this container, so the
protocol framing — paths, bodies, chunking, id mapping — is the tested
contract (the same standard as the Doris stream-load sink).
"""

from __future__ import annotations

import json
import uuid
from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from cocoindex_spark.sinks import Target
from cocoindex_spark.sinks._wire import DELETE, request_json, write_batched

_NAMESPACE = uuid.UUID("6ba7b810-9dad-11d1-80b4-00c04fd430c8")  # uuid.NAMESPACE_DNS


def point_id(value) -> int | str:
    """Deterministic Qdrant point id for an arbitrary key value."""
    if isinstance(value, int) and value >= 0:
        return value
    return str(uuid.uuid5(_NAMESPACE, str(value)))


def _request(url: str, method: str, body: dict) -> None:
    payload = request_json(url, method, json.dumps(body).encode())
    # Qdrant reports {"status": "ok" | {"error": ...}}
    if payload.get("status", "ok") not in ("ok", "accepted"):
        raise RuntimeError(f"qdrant request failed: {url} -> {payload}")


class QdrantHttpTarget(Target):
    """TableTarget-contract sink speaking the Qdrant REST dialect.

    ``pk`` must be a single column (the point id); ``vector_col`` names
    the ``array<float>`` column; every other schema column rides in the
    point payload.
    """

    def __init__(
        self,
        name: str,
        pk: list[str],
        schema: StructType,
        endpoint: str,
        vector_col: str = "embedding",
        points_per_request: int = 512,
        num_writers: int = 8,
    ):
        if len(pk) != 1:
            raise ValueError("qdrant points have a single id: pk must be one column")
        self.name = name
        self.pk = pk
        self.schema = schema
        self.endpoint = endpoint.rstrip("/")
        self.vector_col = vector_col
        self.points_per_request = points_per_request
        self._num_writers = num_writers

    @property
    def upsert_url(self) -> str:
        return f"{self.endpoint}/collections/{self.name}/points?wait=true"

    @property
    def delete_url(self) -> str:
        return f"{self.endpoint}/collections/{self.name}/points/delete?wait=true"

    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """Upsert points and delete point ids in one Spark pass; the
        version is unused (point writes are idempotent by id)."""
        key, vec = self.pk[0], self.vector_col
        payload_cols = [f.name for f in self.schema.fields if f.name not in (key, vec)]
        upsert_url, delete_url = self.upsert_url, self.delete_url

        def encode(op, row):
            if op == DELETE:
                return point_id(row[key])
            return {
                "id": point_id(row[key]),
                "vector": [float(x) for x in (row[vec] or [])],
                "payload": {c: row[c] for c in payload_cols},
            }

        def send(op, batch) -> None:
            if op == DELETE:
                _request(delete_url, "POST", {"points": batch})
            else:
                _request(upsert_url, "PUT", {"points": batch})

        write_batched(
            upserts, deletes, self.pk, [key, vec, *payload_cols], self._num_writers,
            (self.points_per_request,) * 2, encode, lambda: nullcontext(send),
        )
