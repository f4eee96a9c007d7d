"""The one batched partition writer behind the wire sinks (qdrant_http,
turbopuffer_http, http_load, valkey_resp, sql_table, iggy_http).

A sync hands a sink both change channels at once (``apply(upserts,
deletes, version)``). ``write_batched`` unions them under an op column,
repartitions by pk into ``num_writers`` partitions, and sorts each
partition by (op, pk), so a rename is one Spark pass and every batch's
contents are a deterministic function of the rows. On each executor it
fills batches of one op up to that op's row limit and hands each batch
to the sink's ``send``. Upserts sort first, so per key a delete lands
after an upsert, the order the engine's MERGE contract expects.

A sink supplies only ``encode(op, row)`` (one row to one message) and
``open_sender()``, a context manager entered once per non-empty
partition that yields ``send(op, batch)``. Connection setup, commit and
close live there; an empty partition opens nothing. The HTTP sinks send
through ``request_json``.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from contextlib import AbstractContextManager
from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

UPSERT, DELETE = 0, 1
_OP = "__op"


def request_json(url: str, method: str, body: bytes | None, headers: dict | None = None) -> dict:
    """One JSON-over-HTTP request (stdlib ``urllib``, so it runs in an
    executor with no extra deps): the reply body parsed as JSON, ``{}``
    when empty or not JSON. An HTTP error status raises ``HTTPError``."""
    import urllib.request

    req = urllib.request.Request(url, data=body, method=method)
    for k, v in {"Content-Type": "application/json", **(headers or {})}.items():
        req.add_header(k, v)
    with urllib.request.urlopen(req) as resp:
        raw = resp.read()
    try:
        return json.loads(raw) if raw else {}
    except ValueError:
        return {}


def write_batched(
    upserts: DataFrame | None,
    deletes: DataFrame | None,
    pk: list[str],
    cols: list[str],
    num_writers: int,
    batch_rows: tuple[int, int],
    encode: Callable,
    open_sender: Callable[[], AbstractContextManager[Callable[[int, list], None]]],
    keyed: bool = True,
) -> None:
    """Send ``upserts`` (projected to ``cols``) and ``deletes``
    (projected to ``pk``) in one ``foreachPartition``, at most
    ``batch_rows[op]`` messages per batch. ``keyed`` keeps one row per
    pk on upserts and distinct keys on deletes (the winner among
    duplicate upserts is arbitrary, as in the parquet MERGE); an
    append-only sink passes False and keeps every row."""
    channels = []
    if upserts is not None:
        channels.append(upserts.select(F.lit(UPSERT).alias(_OP), *cols))
    if deletes is not None:
        channels.append(deletes.select(F.lit(DELETE).alias(_OP), *pk))
    if not channels:
        return
    rows = channels[0]
    if len(channels) == 2:
        rows = rows.unionByName(channels[1], allowMissingColumns=True)
    if keyed:
        rows = rows.dropDuplicates([_OP, *pk])

    def write_partition(it) -> None:
        first = next(it, None)
        if first is None:
            return
        with open_sender() as send:
            op, batch = first[_OP], []
            for row in chain([first], it):
                if row[_OP] != op or len(batch) >= batch_rows[op]:
                    send(op, batch)
                    op, batch = row[_OP], []
                batch.append(encode(op, row))
            send(op, batch)

    (
        rows.repartition(num_writers, *pk)
        .sortWithinPartitions(_OP, *pk)
        .foreachPartition(write_partition)
    )
