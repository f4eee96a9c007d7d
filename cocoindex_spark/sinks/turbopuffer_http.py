"""Turbopuffer namespace-write sink — the serverless-vector-store wire
dialect (reference: python/cocoindex/connectors/turbopuffer/
_target.py:287-312 — ``namespace.write`` with ``upsert_rows`` and/or
``deletes``; namespaces are created implicitly on first write, so
there is no create call).

Protocol (public turbopuffer v2 REST API):
``POST /v2/namespaces/{ns}`` with either
``{"upsert_rows": [{"id", "vector", ...attributes}],
   "distance_metric": "cosine_distance"}`` or ``{"deletes": [id, ...]}``,
``Authorization: Bearer <api_key>``. Each POST carries one channel: the
reference can put both in one write, this sink batches them apart.

``apply(upserts, deletes, version)`` sends both channels in one Spark
pass through the shared batched partition writer (``sinks/_wire.py``):
chunked writes from the executors, row-level idempotency by id (a
retried chunk re-asserts the same rows — converges under the engine's
MERGE contract). Non-integer keys map to deterministic UUID5 strings,
same scheme as the Qdrant sink.

Tests run against a recording ``http.server``
(tests/test_turbopuffer_http.py); the framing — path, body shape,
flattened attributes, bearer auth, chunking — is the tested contract.
"""

from __future__ import annotations

import json
from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from cocoindex_spark.sinks import Target
from cocoindex_spark.sinks._wire import DELETE, request_json, write_batched
from cocoindex_spark.sinks.qdrant_http import point_id


def _post(url: str, api_key: str, body: dict) -> None:
    auth = {"Authorization": f"Bearer {api_key}"}
    payload = request_json(url, "POST", json.dumps(body).encode(), auth)
    if payload.get("status", "OK") not in ("OK", "ok", "success"):
        raise RuntimeError(f"turbopuffer write failed: {url} -> {payload}")


class TurbopufferHttpTarget(Target):
    """TableTarget-contract sink over the turbopuffer write API."""

    def __init__(
        self,
        name: str,
        pk: list[str],
        schema: StructType,
        endpoint: str,
        api_key: str = "",
        vector_col: str = "embedding",
        distance_metric: str = "cosine_distance",
        rows_per_write: int = 512,
        num_writers: int = 8,
    ):
        if len(pk) != 1:
            raise ValueError("turbopuffer rows have a single id: pk must be one column")
        self.name = name
        self.pk = pk
        self.schema = schema
        self.endpoint = endpoint.rstrip("/")
        self.api_key = api_key
        self.vector_col = vector_col
        self.distance_metric = distance_metric
        self.rows_per_write = rows_per_write
        self._num_writers = num_writers

    @property
    def write_url(self) -> str:
        return f"{self.endpoint}/v2/namespaces/{self.name}"

    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """Write rows and delete ids in one Spark pass; each POST
        carries one channel. The version is unused (writes are
        idempotent by id)."""
        key, vec = self.pk[0], self.vector_col
        attrs = [f.name for f in self.schema.fields if f.name not in (key, vec)]
        url, api_key, metric = self.write_url, self.api_key, self.distance_metric

        def encode(op, row):
            if op == DELETE:
                return point_id(row[key])
            return {
                "id": point_id(row[key]),
                "vector": [float(x) for x in (row[vec] or [])],
                # attributes ride FLATTENED in the row dict — the v2 row
                # shape (reference _row_to_upsert)
                **{c: row[c] for c in attrs},
            }

        def send(op, batch) -> None:
            if op == DELETE:
                _post(url, api_key, {"deletes": batch})
            else:
                _post(url, api_key, {"upsert_rows": batch, "distance_metric": metric})

        write_batched(
            upserts, deletes, self.pk, [key, vec, *attrs], self._num_writers,
            (self.rows_per_write,) * 2, encode, lambda: nullcontext(send),
        )
