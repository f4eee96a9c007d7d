"""Wire-protocol SQL table sink: executor-side chunked upsert/delete.

Reference: the postgres TableTarget's batched writes
(python/cocoindex/connectors/postgres/_target.py:742-836 — upserts as
``INSERT ... ON CONFLICT (pk) DO UPDATE SET c = EXCLUDED.c`` chunked
to the bind-parameter limit, deletes as pk-``IN``/``OR`` chunks; both
idempotent so re-application converges).

Spark-first shape: the driver never sees a row. ``upsert``/``delete``
run ``foreachPartition`` — every executor partition opens its own
DB-API connection (from a picklable ``connection_factory``), writes
its rows in bind-limit-sized batches, commits, closes. Task retries
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cocoindex_spark.session import local_frame

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


def _sanitize(v):
    """Strip NUL bytes from strings — wire-limited sinks reject them
    (the reference sanitizes at the same boundary)."""
    if isinstance(v, str) and "\x00" in v:
        return v.replace("\x00", "")
    return v


class SqlTableTarget:
    """TableTarget contract against a SQL database.

    ``connection_factory`` must be picklable (cloudpickle handles
    closures) and return a fresh DB-API connection — it runs inside
    executor tasks. ``num_writers`` caps concurrent connections (the
    partitions are coalesced down to it before the write).
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
        con = self._connect()
        try:
            cur = con.cursor()
            cur.execute(
                f'CREATE TABLE IF NOT EXISTS "{self.name}" ({cols}, PRIMARY KEY ({pk_list}))'
            )
            cur.execute(
                'CREATE TABLE IF NOT EXISTS "_cocoindex_meta" '
                "(key TEXT PRIMARY KEY, value TEXT)"
            )
            con.commit()
        finally:
            con.close()

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

    def upsert(self, rows: DataFrame) -> None:
        cols = [f.name for f in self.schema.fields]
        n_params = len(cols)
        chunk_rows = max(1, self._bind_limit // max(n_params, 1))
        connect, sql_for = self._connect, self.upsert_sql

        def write_partition(it) -> None:
            buf = []
            con = None
            try:
                for row in it:
                    buf.append([_sanitize(row[c]) for c in cols])
                    if len(buf) >= chunk_rows:
                        con = con or connect()
                        _flush_upsert(con, buf)
                        buf = []
                if buf:
                    con = con or connect()
                    _flush_upsert(con, buf)
                if con is not None:
                    con.commit()
            finally:
                if con is not None:
                    con.close()

        def _flush_upsert(con, buf) -> None:
            params = [v for r in buf for v in r]
            con.cursor().execute(sql_for(len(buf)), params)

        # One row per pk: PostgreSQL rejects a multi-row ON CONFLICT
        # statement that touches the same key twice ("cannot affect row
        # a second time"), so duplicate declarations pick an arbitrary
        # winner HERE — the documented MERGE semantics — instead of
        # crashing whenever both copies land in one chunk.
        (
            rows.select(*cols)
            .dropDuplicates(self.pk)
            .coalesce(self._num_writers)
            .foreachPartition(write_partition)
        )

    def delete(self, keys: DataFrame) -> None:
        pk = list(self.pk)
        n_pk = len(pk)
        chunk_rows = max(1, self._bind_limit // n_pk)
        connect, paramstyle, table = self._connect, self._paramstyle, self.name

        def delete_partition(it) -> None:
            buf = []
            con = None
            try:
                for row in it:
                    buf.append([_sanitize(row[c]) for c in pk])
                    if len(buf) >= chunk_rows:
                        con = con or connect()
                        _flush_delete(con, buf)
                        buf = []
                if buf:
                    con = con or connect()
                    _flush_delete(con, buf)
                if con is not None:
                    con.commit()
            finally:
                if con is not None:
                    con.close()

        def _flush_delete(con, buf) -> None:
            if n_pk == 1:
                sql = (
                    f'DELETE FROM "{table}" WHERE "{pk[0]}" IN '
                    f"({_placeholders(len(buf), paramstyle)})"
                )
                params = [r[0] for r in buf]
            else:
                ors = []
                for i in range(len(buf)):
                    base = i * n_pk
                    ands = " AND ".join(
                        f'"{pk[j]}" = {_placeholders(1, paramstyle, base + j)}'
                        for j in range(n_pk)
                    )
                    ors.append(f"({ands})")
                sql = f'DELETE FROM "{table}" WHERE {" OR ".join(ors)}'
                params = [v for r in buf for v in r]
            con.cursor().execute(sql, params)

        keys.select(*pk).coalesce(self._num_writers).foreachPartition(delete_partition)

    # -- reads (driver-side verification path) ----------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        cols = [f.name for f in self.schema.fields]
        con = self._connect()
        try:
            cur = con.cursor()
            cur.execute(f'SELECT {", ".join(chr(34) + c + chr(34) for c in cols)} FROM "{self.name}"')
            data = cur.fetchall()
        finally:
            con.close()
        return local_frame(spark, [tuple(r) for r in data], self.schema)

    def truncate(self) -> None:
        con = self._connect()
        try:
            con.cursor().execute(f'DELETE FROM "{self.name}"')
            con.commit()
        finally:
            con.close()

    # -- contract / index metadata (same surface as TableTarget) ----------
    def _meta_get(self, key: str):
        con = self._connect()
        try:
            cur = con.cursor()
            cur.execute(
                f'SELECT value FROM "_cocoindex_meta" WHERE key = {_placeholders(1, self._paramstyle)}',
                [key],
            )
            row = cur.fetchone()
            return json.loads(row[0]) if row else None
        finally:
            con.close()

    def _meta_set(self, key: str, value) -> None:
        con = self._connect()
        try:
            ph = _placeholders(2, self._paramstyle)
            con.cursor().execute(
                f'INSERT INTO "_cocoindex_meta" (key, value) VALUES ({ph}) '
                "ON CONFLICT (key) DO UPDATE SET value = EXCLUDED.value",
                [key, json.dumps(value)],
            )
            con.commit()
        finally:
            con.close()

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
