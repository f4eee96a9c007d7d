"""JDBC table source: keyed rows from a relational table (reference:
`python/cocoindex/connectors/postgres/_source.py:155-240`
``PgTableSource.fetch_rows`` — typed rows via row factory, keys = PK
columns; keyed ``items()`` at `:143-153`).

Spark-first: `spark.read.jdbc` with **partitioned parallel reads** —
the reference fetches rows on one connection; at 100 TB the scan must
fan out, so the wrapper requires a numeric partition column and splits
the key range into `num_partitions` concurrent range queries (each
executor opens its own connection; predicate pushdown ships the range
WHERE clause to the database).

No JDBC driver is baked into this container, so `JdbcTableSource`
tests exercise the plan construction via `options_for` (pure).
`PartitionedSqlSource` below EXECUTES the identical partition plan
against a real database (sqlite3, in the standard library): same
range-split semantics as Spark's JDBCRelation.columnPartition — bounds
split, they do not filter; rows outside [lower, upper) and NULL keys
are all covered — with per-partition WHERE pushdown and column pruning
composed into the SQL each executor task runs on its own connection.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from cocoindex_spark.session import local_frame


@dataclass
class JdbcTableSource:
    """Declarative JDBC scan spec; `read()` materializes it."""

    url: str
    table: str
    key_cols: list[str]
    partition_col: str | None = None
    lower_bound: int | None = None
    upper_bound: int | None = None
    num_partitions: int = 8
    fetch_size: int = 10_000
    properties: dict | None = None

    def options_for(self) -> dict:
        """The reader option dict (testable without a driver)."""
        opts = {
            "url": self.url,
            "dbtable": self.table,
            "fetchsize": str(self.fetch_size),
        }
        if self.partition_col is not None:
            if self.lower_bound is None or self.upper_bound is None:
                raise ValueError("partitioned JDBC read needs lower/upper bounds")
            opts.update(
                partitionColumn=self.partition_col,
                lowerBound=str(self.lower_bound),
                upperBound=str(self.upper_bound),
                numPartitions=str(self.num_partitions),
            )
        if self.properties:
            opts.update(self.properties)
        return opts

    def read(self, spark: SparkSession) -> DataFrame:
        """items() analog: a DataFrame whose key columns are the PK."""
        reader = spark.read.format("jdbc")
        for k, v in self.options_for().items():
            reader = reader.option(k, v)
        return reader.load()


def partition_predicates(
    column: str, lower: int, upper: int, num_partitions: int
) -> list[str]:
    """Range-split WHERE clauses with Spark's JDBC semantics
    (JDBCRelation.columnPartition): the bounds decide stride placement
    only — the first clause also takes everything below the range and
    NULL keys, the last everything at/above its boundary, so the union
    covers the whole table regardless of the declared bounds."""
    if num_partitions <= 1 or upper <= lower:
        return ["1=1"]
    n = min(num_partitions, upper - lower)
    if n <= 1:
        return ["1=1"]
    stride = (upper - lower) // n
    bounds = [lower + i * stride for i in range(1, n)]
    preds = [f"{column} < {bounds[0]} OR {column} IS NULL"]
    for lo, hi in zip(bounds, bounds[1:]):
        preds.append(f"{column} >= {lo} AND {column} < {hi}")
    preds.append(f"{column} >= {bounds[-1]}")
    return preds


@dataclass
class PartitionedSqlSource:
    """Executed partitioned scan over a sqlite database file: one Spark
    task per range partition, each opening its own read-only connection
    (the per-executor-connection shape of `spark.read.jdbc`). `columns`
    prunes the projection and `where` pushes a filter down — both are
    composed into the per-partition SQL, so the database does the work,
    not Spark (reference: PgTableSource fetches typed rows server-side,
    postgres/_source.py:155-240)."""

    db_path: str
    table: str
    key_cols: list[str]
    schema: str  # Spark DDL string for the projected columns
    partition_col: str | None = None
    lower_bound: int | None = None
    upper_bound: int | None = None
    num_partitions: int = 8
    columns: list[str] | None = None
    where: str | None = None

    def _predicates(self) -> list[str]:
        if self.partition_col is None:
            return ["1=1"]
        if self.lower_bound is None or self.upper_bound is None:
            raise ValueError("partitioned read needs lower/upper bounds")
        return partition_predicates(
            self.partition_col, self.lower_bound, self.upper_bound, self.num_partitions
        )

    def partition_sql(self) -> list[str]:
        """The exact SQL each partition task executes (testable pure)."""
        proj = ", ".join(self.columns) if self.columns else "*"
        extra = f" AND ({self.where})" if self.where else ""
        return [
            f"SELECT {proj} FROM {self.table} WHERE ({pred}){extra}"
            for pred in self._predicates()
        ]

    def read(self, spark: SparkSession) -> DataFrame:
        """items() analog, executed: a DataFrame with one input
        partition per range predicate; executors stream Arrow batches
        straight out of their own database connections — the driver
        never touches a row."""
        stmts = self.partition_sql()
        db_path = self.db_path
        seeds = local_frame(spark, [(s,) for s in stmts], "sql STRING").repartition(
            len(stmts), "sql"
        )

        def run_partition(batches):
            import sqlite3

            import pandas as pd

            for pdf in batches:
                for stmt in pdf["sql"]:
                    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
                    try:
                        yield pd.read_sql_query(stmt, con)
                    finally:
                        con.close()

        return seeds.mapInPandas(run_partition, self.schema)
