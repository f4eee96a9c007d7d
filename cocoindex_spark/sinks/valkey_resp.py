"""Valkey (Redis-protocol) hash sink — the key/value wire dialect
(reference: python/cocoindex/connectors/valkey/_target.py:297-320 —
per-document HASH at ``{index}:{doc_id}``, upsert as an atomic
MULTI/EXEC ``DEL`` + ``HSET`` so stale payload fields never survive an
update, deletes as ``DEL``; vectors packed as little-endian float32
bytes for the server's vector index).

The transport is RESP2 framed over a stdlib socket (no client
library): commands are arrays of bulk strings — binary-safe, so packed
vectors ride unmodified. ``apply(upserts, deletes, version)`` sends both
channels in one Spark pass through the shared batched partition writer
(``sinks/_wire.py``): one connection per partition, commands pipelined
in batches, replies fully drained and ``-ERR`` raised (a swallowed error
would let the engine commit tracking over a write the server rejected).

Idempotent by construction: DEL+HSET of the same fields converges under
retries/replays — the engine's MERGE contract over an at-least-once
transport. Tests run against a recording RESP server
(tests/test_valkey_resp.py); no Valkey ships in this container, so the
framing — key scheme, MULTI/EXEC envelope, f32 packing, pipelining —
is the tested contract.
"""

from __future__ import annotations

import struct
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, FloatType, StructType

from cocoindex_spark.sinks import Target
from cocoindex_spark.sinks._wire import DELETE, write_batched


def encode_command(*args: bytes | str) -> bytes:
    """RESP2 array-of-bulk-strings encoding of one command."""
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        b = a if isinstance(a, bytes) else str(a).encode()
        out.append(b"$%d\r\n" % len(b))
        out.append(b)
        out.append(b"\r\n")
    return b"".join(out)


def pack_f32(vector) -> bytes:
    """Little-endian float32 packing (the reference's vector wire form)."""
    return struct.pack(f"<{len(vector)}f", *[float(x) for x in vector])


class _Conn:
    """Minimal RESP2 connection: pipelined send, full reply drain."""

    def __init__(self, host: str, port: int):
        import socket

        self.sock = socket.create_connection((host, port))
        self.buf = b""

    def send(self, payload: bytes) -> None:
        self.sock.sendall(payload)

    def _read_line(self) -> bytes:
        while b"\r\n" not in self.buf:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("valkey connection closed mid-reply")
            self.buf += chunk
        line, self.buf = self.buf.split(b"\r\n", 1)
        return line

    def _read_exact(self, n: int) -> bytes:
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("valkey connection closed mid-reply")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def read_reply(self):
        line = self._read_line()
        kind, rest = line[:1], line[1:]
        if kind == b"+":
            return rest.decode()
        if kind == b":":
            return int(rest)
        if kind == b"-":
            raise RuntimeError(f"valkey error reply: {rest.decode()}")
        if kind == b"$":
            n = int(rest)
            if n < 0:
                return None
            data = self._read_exact(n)
            self._read_exact(2)  # trailing \r\n
            return data
        if kind == b"*":
            n = int(rest)
            if n < 0:
                return None
            return [self.read_reply() for _ in range(n)]
        raise RuntimeError(f"valkey protocol violation: {line!r}")

    def close(self) -> None:
        self.sock.close()


class ValkeyRespTarget(Target):
    """TableTarget-contract sink writing one hash per row at
    ``{name}:{pk}``. ``vector_col`` (optional) is packed to f32-LE
    bytes; other columns become string hash fields."""

    def __init__(
        self,
        name: str,
        pk: list[str],
        schema: StructType,
        host: str,
        port: int,
        vector_col: str | None = None,
        docs_per_pipeline: int = 128,
        num_writers: int = 8,
    ):
        if len(pk) != 1:
            raise ValueError("valkey hash keys take a single pk column")
        if vector_col is not None:
            dt = schema[vector_col].dataType
            if not (isinstance(dt, ArrayType) and isinstance(dt.elementType, FloatType)):
                raise ValueError("vector_col must be array<float>")
        self.name = name
        self.pk = pk
        self.schema = schema
        self.host = host
        self.port = port
        self.vector_col = vector_col
        self.docs_per_pipeline = docs_per_pipeline
        self._num_writers = num_writers

    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """Write hashes and delete keys in one Spark pass over one
        connection per partition; the version is unused (DEL+HSET is
        idempotent)."""
        key, vec = self.pk[0], self.vector_col
        fields = [f.name for f in self.schema.fields if f.name != key]
        prefix, host, port = self.name, self.host, self.port

        def encode(op, row):
            hk = f"{prefix}:{row[key]}"
            if op == DELETE:
                return hk
            kv: list[bytes | str] = []
            for c in fields:
                v = row[c]
                if v is not None:
                    kv += [c, pack_f32(v) if c == vec else str(v)]
            # Atomic MULTI/EXEC: DEL then HSET, so no stale payload
            # field survives an update (the reference's exact envelope).
            return (
                encode_command("MULTI")
                + encode_command("DEL", hk)
                + encode_command("HSET", hk, *kv)
                + encode_command("EXEC")
            )

        @contextmanager
        def open_sender():
            conn = _Conn(host, port)

            def send(op, batch) -> None:
                if op == DELETE:
                    conn.send(encode_command("DEL", *batch))
                    replies = 1
                else:
                    conn.send(b"".join(batch))
                    replies = 4 * len(batch)  # MULTI + DEL + HSET + EXEC
                for _ in range(replies):
                    conn.read_reply()  # raises on -ERR

            try:
                yield send
            finally:
                conn.close()

        write_batched(
            upserts, deletes, self.pk, [key, *fields], self._num_writers,
            (self.docs_per_pipeline,) * 2, encode, open_sender,
        )
