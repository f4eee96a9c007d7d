"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is chosen so the same
code scales to a 1000-executor cluster against ~100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (all Python<->JVM transfer is columnar; pandas UDFs batch).
- Broadcast threshold raised: all TPC-H-ish dimension tables broadcast.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalescing makes the initial number mostly irrelevant.

Frames the driver builds from its own rows (probe keys, memo and state
rows, change batches, empty frames) go through :func:`local_frame`, not
``spark.createDataFrame(<python list>)``. On classic PySpark the list
path runs ``parallelize`` + ``applySchemaToPythonRDD``: the frame is an
RDD scan, so every job that reads it starts Python workers, and even a
driver-sized probe costs Spark jobs. An Arrow table instead becomes a
``LocalRelation``: the optimizer folds projections over it into a
``LocalTableScan`` that collects on the driver with no job, and prunes
an empty one outright (PropagateEmptyRelation). The Arrow path does not
read ``spark.sql.execution.arrow.pyspark.enabled``, so it behaves the
same on a vanilla session.

:func:`to_local` turns a computed frame into such a ``LocalRelation``
(one Arrow collect, rebuilt under the frame's own schema so every type
round-trips exactly), and :func:`is_local` tells whether a frame's
optimized plan is one. A small sync's change set goes local once after
its reconcile; projections and filters of it then stay local, so the
commit's bucket discovery (``ManagedTable.touched_buckets``) runs on the
driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
# Half the host's memory, at most 16g: a local-mode JVM grows its heap
# toward the cap, and two Spark processes on one host must both fit.
_HOST_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
DRIVER_MEM = f"{min(16 << 10, _HOST_MB // 2)}m"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "cocoindex-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); read as long and convert.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if not os.environ.get("SPARK_GRAFT_REMOTE"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema=None) -> DataFrame:
    """A driver-side frame over ``rows`` (tuples, dicts or Rows) as an
    Arrow-backed ``LocalRelation``. ``schema`` is a StructType, a DDL
    string, or ``None``/a list of column names, in which case column
    types are inferred exactly as ``createDataFrame`` infers them (an
    empty ``rows`` cannot be inferred and raises, as it does there)."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if not isinstance(schema, StructType):
        inferred = spark._inferSchemaFromList(rows, names=schema)
        schema = StructType(
            [
                StructField(name, f.dataType, f.nullable)
                for name, f in zip(schema or inferred.names, inferred.fields)
            ]
        )
    large = spark._jconf.arrowUseLargeVarTypes()
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, large)
    else:
        table = to_arrow_schema(schema, prefers_large_types=large).empty_table()
    return spark.createDataFrame(table, schema)


def to_local(df: DataFrame) -> DataFrame:
    """``df``'s rows as a driver-side ``LocalRelation``: one collect
    through Arrow, rebuilt under ``df``'s schema."""
    return df.sparkSession.createDataFrame(df.toArrow(), df.schema)


def is_local(df: DataFrame) -> bool:
    """True iff ``df`` optimizes to a ``LocalRelation``: its rows are on
    the driver and collecting it runs no Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Register every testdata parquet as a temp view and return the dict."""
    dfs = {}
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(t)
            dfs[t] = df
    return dfs
