"""Driver-built frames (session.local_frame): the Arrow LocalRelation
path returns exactly what ``createDataFrame(<python list>)`` returns,
probe routing runs on the driver with no Spark job, and no module
builds a frame from Python rows any other way.
The same source walk keeps environment reads in ``session.py``."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from cocoindex_spark.session import local_frame
from cocoindex_spark.sinks.table import TableTarget
from cocoindex_spark.state.store import _PROBE_COL

def _target(path, key_type):
    schema = StructType([StructField("id", LongType()), StructField("k", key_type)])
    target = TableTarget(path, ["id"], schema)
    target.declare_index("lsh", "k", probe_col="k", probe_buckets=8)
    return target


PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "cocoindex_spark")


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(b"ab\x00", True), (None, False), (b"", None)], "b BINARY, t BOOLEAN"),
        ([(None, 1), (None, None)], "n VOID, i INT"),
        ([([1.5, None, -2.0],), (None,), ([],)], "a ARRAY<FLOAT>"),
        (
            [(Row(x=1, y=Row(z="q", w=[1, 2])),), (None,), (Row(x=None, y=None),)],
            "st STRUCT<x: INT, y: STRUCT<z: STRING, w: ARRAY<LONG>>>",
        ),
        ([], "a INT, b STRING"),
        ([(1, "a", 2.5, True, b"x", [1.0])], None),
        ([(1,), (None,)], ["v"]),
        ([{"k": 1, "v": "z"}], None),
    ],
)
def test_local_frame_matches_create_data_frame(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_struct_schema_and_empty_is_pruned(spark):
    schema = spark.createDataFrame([], "a INT, b STRING").schema
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []
    # an empty LocalRelation is folded out of the plan it feeds
    plan = spark.range(5).join(empty, F.col("id") == F.col("a"))
    assert "LocalTableScan <empty>" in plan._jdf.queryExecution().executedPlan().toString()


def test_local_frame_cannot_infer_from_no_rows(spark):
    with pytest.raises(Exception, match="CANNOT_INFER_EMPTY_SCHEMA"):
        local_frame(spark, [], ["v"])


@pytest.mark.parametrize(
    "col_type, values",
    [
        (LongType(), [3, 17, -4, 3]),
        (StringType(), ["api2", "x", ""]),
        (DoubleType(), [1.5, -0.25, 7.0]),
    ],
)
def test_probe_partitions_match_write_path(spark, tmp_state, col_type, values):
    """The ids a probe routes to are the ``__probe`` directories the
    write path laid each key value down under."""
    target = _target(os.path.join(tmp_state, "idx"), col_type)
    target.upsert(local_frame(spark, list(enumerate(values)), target.schema))
    laid = {r["k"]: r[_PROBE_COL] for r in target.read_indexed(spark).collect()}
    assert len(laid) == len(set(values))
    for v in values:
        assert target.probe_partitions(spark, [v]) == [laid[v]]
    assert target.probe_partitions(spark, values) == sorted(set(laid.values()))


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_probe_partitions_launches_no_job(spark, tmp_state):
    target = _target(os.path.join(tmp_state, "idx"), LongType())
    # the counter sees a job a Python-list frame launches ...
    assert _jobs_in_group(
        spark, "probe-route-control", lambda: spark.createDataFrame([(1,)], ["v"]).collect()
    )
    # ... and routing a probe launches none
    assert _jobs_in_group(
        spark, "probe-route", lambda: target.probe_partitions(spark, [5, 9, 5])
    ) == []


def test_probe_partitions_of_no_values_touches_no_spark(tmp_state):
    target = TableTarget(os.path.join(tmp_state, "idx"), ["id"], None)
    assert target.probe_partitions(None, []) == []  # no session to touch


def _offending_lines(exempt, match):
    """``file:line`` of every AST node under ``cocoindex_spark/`` that
    ``match`` accepts, outside the ``exempt`` files."""
    offenders = []
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or os.path.relpath(path, PKG) in exempt:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            offenders += [
                f"{os.path.relpath(path, PKG)}:{node.lineno}"
                for node in ast.walk(tree)
                if match(node)
            ]
    return offenders


def test_no_create_data_frame_outside_helper():
    """Driver rows go through ``local_frame``; an RDD becomes a frame
    with ``rdd.toDF(schema)``. Only the helpers in ``session.py`` call
    ``createDataFrame``."""
    assert _offending_lines(
        {"session.py"},
        lambda node: isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame",
    ) == []


def test_no_foreach_partition_in_wire_sinks():
    """The six wire sinks write through the one batched partition writer
    (``sinks/_wire.py``); none runs a ``foreachPartition`` loop of its
    own."""
    wire = {
        os.path.join("sinks", f"{m}.py")
        for m in ("qdrant_http", "turbopuffer_http", "http_load", "valkey_resp", "sql_table", "iggy_http")
    }
    offenders = _offending_lines(
        set(),
        lambda node: isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "foreachPartition",
    )
    assert [o for o in offenders if o.rsplit(":", 1)[0] in wire] == []


def test_no_environment_reads_outside_session():
    """Behaviour is set by call arguments, not process environment: only
    ``session.py`` (deployment settings such as cores and memory) reads
    ``os.environ`` / ``os.getenv``."""
    names = {"environ", "getenv"}
    assert _offending_lines(
        {"session.py"},
        lambda node: (isinstance(node, ast.Attribute) and node.attr in names)
        or (
            isinstance(node, ast.ImportFrom)
            and node.module == "os"
            and any(alias.name in names for alias in node.names)
        ),
    ) == []
