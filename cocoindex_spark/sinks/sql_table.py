"""Wire-protocol SQL table sink: executor-side chunked upsert/delete.

Reference: the postgres TableTarget's batched writes
(python/cocoindex/connectors/postgres/_target.py:742-836 — upserts as
``INSERT ... ON CONFLICT (pk) DO UPDATE SET c = EXCLUDED.c`` chunked
to the bind-parameter limit, deletes as pk-``IN``/``OR`` chunks; both
idempotent so re-application converges).

Spark-first shape: the driver never sees a row. ``apply(upserts,
deletes, version)`` sends both channels in one Spark pass through the
shared batched partition writer (``sinks/_wire.py``) — every executor
partition opens its own DB-API connection (from a picklable
``connection_factory``), writes its rows in bind-limit-sized batches,
commits, closes. Task retries
re-run the same idempotent MERGE, so speculative execution and
failures converge exactly like the parquet-backed TableTarget.

Works against any DB-API 2.0 driver whose dialect supports
``INSERT ... ON CONFLICT`` (PostgreSQL, SQLite 3.24+, DuckDB); the
paramstyle is configurable. NUL bytes inside strings are stripped at
this boundary — the wire-limited-sink sanitization COVERAGE.md §2.3
documents (PostgreSQL TEXT cannot carry ``\\x00``).

The ``read`` here is a driver-side verification convenience; the
production read path is the partitioned JDBC source
(``cocoindex_spark/sources/jdbc.py``).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cocoindex_spark.session import local_frame
from cocoindex_spark.sinks import Target
from cocoindex_spark.sinks._wire import DELETE, write_batched

# PostgreSQL's wire protocol caps bind parameters per statement at
# int16 (32767); the reference chunks to the same limit.
BIND_LIMIT = 32767

_SQL_TYPES = {
    "string": "TEXT",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "integer": "INTEGER",
    "short": "SMALLINT",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "boolean": "BOOLEAN",
    "binary": "BLOB",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
}


def _placeholders(n: int, paramstyle: str, base: int = 0) -> str:
    if paramstyle == "qmark":
        return ", ".join("?" for _ in range(n))
    if paramstyle == "format":
        return ", ".join("%s" for _ in range(n))
    if paramstyle == "numeric":
        return ", ".join(f"${base + j + 1}" for j in range(n))
    raise ValueError(f"unsupported paramstyle: {paramstyle}")


@contextmanager
def _connected(connect: Callable[[], object]):
    """One DB-API connection from ``connect``: committed when the block
    completes, closed either way."""
    con = connect()
    try:
        yield con
        con.commit()
    finally:
        con.close()


def _sanitize(v):
    """Strip NUL bytes from strings — wire-limited sinks reject them
    (the reference sanitizes at the same boundary)."""
    if isinstance(v, str) and "\x00" in v:
        return v.replace("\x00", "")
    return v


class SqlTableTarget(Target):
    """TableTarget contract against a SQL database.

    ``connection_factory`` must be picklable (cloudpickle handles
    closures) and return a fresh DB-API connection — it runs inside
    executor tasks. ``num_writers`` caps concurrent connections (the
    rows are repartitioned by pk into that many partitions).
    """

    def __init__(
        self,
        name: str,
        pk: list[str],
        schema: StructType,
        connection_factory: Callable[[], object],
        paramstyle: str = "qmark",
        bind_limit: int = BIND_LIMIT,
        num_writers: int = 8,
        dialect: str = "on_conflict",
    ):
        if dialect not in ("on_conflict", "merge"):
            raise ValueError(f"unknown dialect: {dialect!r}")
        self.name = name
        self.pk = pk
        self.schema = schema
        self._connect = connection_factory
        self._paramstyle = paramstyle
        self._bind_limit = bind_limit
        self._num_writers = num_writers
        self._dialect = dialect
        self._ensure_tables()

    # -- DDL ---------------------------------------------------------------
    def _ensure_tables(self) -> None:
        cols = ", ".join(
            f'"{f.name}" {_SQL_TYPES.get(f.dataType.simpleString(), "TEXT")}'
            for f in self.schema.fields
        )
        pk_list = ", ".join(f'"{c}"' for c in self.pk)
        with _connected(self._connect) as con:
            cur = con.cursor()
            cur.execute(
                f'CREATE TABLE IF NOT EXISTS "{self.name}" ({cols}, PRIMARY KEY ({pk_list}))'
            )
            cur.execute(
                'CREATE TABLE IF NOT EXISTS "_cocoindex_meta" '
                "(key TEXT PRIMARY KEY, value TEXT)"
            )

    # -- executor-side writes ---------------------------------------------
    def upsert_sql(self, n_rows: int) -> str:
        """The upsert statement for an ``n_rows`` chunk, in the
        configured dialect.

        - ``on_conflict``: ``INSERT ... ON CONFLICT (pk) DO UPDATE``
          (PostgreSQL / SQLite 3.24+ / DuckDB; reference
          postgres/_target.py:742-836).
        - ``merge``: ANSI ``MERGE INTO ... USING (VALUES ...) AS src``
          — the BigQuery / Snowflake / DuckDB≥1.3 spelling (reference
          bigquery/_target.py:294, snowflake/_target.py:280-310).
        """
        cols = [f.name for f in self.schema.fields]
        non_pk = [c for c in cols if c not in self.pk]
        col_list = ", ".join(f'"{c}"' for c in cols)
        n_params = len(cols)
        values = ", ".join(
            f"({_placeholders(n_params, self._paramstyle, i * n_params)})"
            for i in range(n_rows)
        )
        if self._dialect == "on_conflict":
            pk_list = ", ".join(f'"{c}"' for c in self.pk)
            if non_pk:
                update_list = ", ".join(f'"{c}" = EXCLUDED."{c}"' for c in non_pk)
                conflict = f"ON CONFLICT ({pk_list}) DO UPDATE SET {update_list}"
            else:
                conflict = f"ON CONFLICT ({pk_list}) DO NOTHING"
            return f'INSERT INTO "{self.name}" ({col_list}) VALUES {values} {conflict}'
        # merge dialect
        on = " AND ".join(f'tgt."{c}" = src."{c}"' for c in self.pk)
        insert_vals = ", ".join(f'src."{c}"' for c in cols)
        matched = (
            "WHEN MATCHED THEN UPDATE SET "
            + ", ".join(f'"{c}" = src."{c}"' for c in non_pk)
            if non_pk
            else ""
        )
        return (
            f'MERGE INTO "{self.name}" AS tgt '
            f"USING (VALUES {values}) AS src ({col_list}) ON {on} "
            f"{matched} "
            f"WHEN NOT MATCHED THEN INSERT ({col_list}) VALUES ({insert_vals})"
        ).replace("  ", " ")

    def delete_sql(self, n_rows: int) -> str:
        """The delete statement for an ``n_rows`` chunk: a pk ``IN``
        list, or an ``OR`` of pk conjunctions for a composite pk."""
        pk, ps = self.pk, self._paramstyle
        if len(pk) == 1:
            return f'DELETE FROM "{self.name}" WHERE "{pk[0]}" IN ({_placeholders(n_rows, ps)})'
        ors = " OR ".join(
            "("
            + " AND ".join(
                f'"{c}" = {_placeholders(1, ps, i * len(pk) + j)}' for j, c in enumerate(pk)
            )
            + ")"
            for i in range(n_rows)
        )
        return f'DELETE FROM "{self.name}" WHERE {ors}'

    def apply(
        self, upserts: DataFrame | None, deletes: DataFrame | None, version: int = 0
    ) -> None:
        """Upsert rows and delete keys in one Spark pass, each partition
        on its own connection with one commit; the version is unused
        (both statements are idempotent). Each statement stays under
        the bind limit. One row per pk: PostgreSQL rejects a multi-row
        ON CONFLICT statement that touches the same key twice ("cannot
        affect row a second time"), so duplicate declarations pick an
        arbitrary winner — the documented MERGE semantics."""
        cols, pk = [f.name for f in self.schema.fields], list(self.pk)
        limits = (
            max(1, self._bind_limit // max(len(cols), 1)),
            max(1, self._bind_limit // len(pk)),
        )
        connect, sql_for = self._connect, (self.upsert_sql, self.delete_sql)

        def encode(op, row):
            return [_sanitize(row[c]) for c in (pk if op == DELETE else cols)]

        @contextmanager
        def open_sender():
            with _connected(connect) as con:
                yield lambda op, batch: con.cursor().execute(
                    sql_for[op](len(batch)), [v for r in batch for v in r]
                )

        write_batched(upserts, deletes, pk, cols, self._num_writers, limits, encode, open_sender)

    # -- reads (driver-side verification path) ----------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        cols = [f.name for f in self.schema.fields]
        with _connected(self._connect) as con:
            cur = con.cursor()
            cur.execute(f'SELECT {", ".join(chr(34) + c + chr(34) for c in cols)} FROM "{self.name}"')
            data = cur.fetchall()
        return local_frame(spark, [tuple(r) for r in data], self.schema)

    def truncate(self) -> None:
        with _connected(self._connect) as con:
            con.cursor().execute(f'DELETE FROM "{self.name}"')

    # -- contract / index metadata (same surface as TableTarget) ----------
    def _meta_get(self, key: str):
        with _connected(self._connect) as con:
            cur = con.cursor()
            cur.execute(
                f'SELECT value FROM "_cocoindex_meta" WHERE key = {_placeholders(1, self._paramstyle)}',
                [key],
            )
            row = cur.fetchone()
        return json.loads(row[0]) if row else None

    def _meta_set(self, key: str, value) -> None:
        ph = _placeholders(2, self._paramstyle)
        with _connected(self._connect) as con:
            con.cursor().execute(
                f'INSERT INTO "_cocoindex_meta" (key, value) VALUES ({ph}) '
                "ON CONFLICT (key) DO UPDATE SET value = EXCLUDED.value",
                [key, json.dumps(value)],
            )

    def stored_contract(self) -> dict | None:
        return self._meta_get(f"contract:{self.name}")

    def store_contract(self) -> None:
        self._meta_set(
            f"contract:{self.name}",
            {
                "pk": self.pk,
                "columns": [[f.name, f.dataType.simpleString()] for f in self.schema.fields],
            },
        )

    def declare_index(self, kind: str, column: str, **options) -> None:
        indexes = self._meta_get(f"indexes:{self.name}") or []
        entry = {"kind": kind, "column": column, **options}
        if entry not in indexes:
            indexes.append(entry)
        self._meta_set(f"indexes:{self.name}", indexes)

    def indexes(self) -> list[dict]:
        return self._meta_get(f"indexes:{self.name}") or []
