"""Graph target: nodes/edges tables with Cypher-MERGE-like upsert
semantics (reference: `python/cocoindex/connectors/neo4j/_target.py:1241`
``declare_record`` (node), `:1324` ``declare_relation`` (edge with
endpoint refs), `:1268` ``declare_vector_index``; Cypher MERGE layer
`neo4j/_target.py:541-604`; same shape for falkordb and surrealdb).

Spark-first: the graph is two managed tables in the GraphFrames
convention — ``nodes(id, label, props…)`` and
``edges(src, dst, rel, props…)`` — so any Spark graph algorithm
(connected components, degree, motif joins) runs directly on them.
Upserts are idempotent MERGEs keyed on ``id`` / ``(src, dst, rel)``;
deletes cascade edges when their endpoint node is deleted (the
reference's relationship-cleanup on node removal).

At 100 TB: both tables hash-partition on their key; edge→node
validation is a broadcast join when the node side is dimension-sized,
a shuffle join otherwise — either way an equi-join, never a collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cocoindex_spark.state.store import ManagedTable


class GraphTarget:
    """A pair of managed tables forming a property graph."""

    def __init__(self, path: str, node_schema: StructType, edge_schema: StructType):
        assert "id" in node_schema.fieldNames(), "node schema needs an `id` column"
        for c in ("src", "dst", "rel"):
            assert c in edge_schema.fieldNames(), f"edge schema needs `{c}`"
        self.name = os.path.basename(path.rstrip("/"))
        self.path = path
        self.nodes = ManagedTable(os.path.join(path, "nodes"), ["id"], node_schema)
        self.edges = ManagedTable(os.path.join(path, "edges"), ["src", "dst", "rel"], edge_schema)

    # -- declare_record analog (neo4j/_target.py:1241)
    def upsert_nodes(self, rows: DataFrame) -> None:
        self.nodes.merge_upsert(rows.select(*[f.name for f in self.nodes.schema.fields]))

    # -- declare_relation analog (neo4j/_target.py:1324); endpoint refs
    #    are validated against the nodes table (FK-style equi-join,
    #    SURVEY §2.12.5) — dangling edges are dropped, matching MERGE
    #    (a)-[r]->(b) requiring both endpoints.
    def upsert_edges(self, rows: DataFrame, validate: bool = True) -> None:
        rows = rows.select(*[f.name for f in self.edges.schema.fields])
        if validate:
            spark = rows.sparkSession
            ids = self.nodes.read(spark).select("id")
            rows = (
                rows.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
        self.edges.merge_upsert(rows)

    def delete_nodes(self, keys: DataFrame) -> None:
        """Node delete cascades to incident edges (relationship cleanup
        on node removal)."""
        spark = keys.sparkSession
        keys = keys.select("id").distinct()
        edges = self.edges.read(spark)
        dangling = edges.join(
            keys.withColumnRenamed("id", "src"), "src", "left_semi"
        ).unionByName(edges.join(keys.withColumnRenamed("id", "dst"), "dst", "left_semi"))
        self.edges.delete_keys(dangling.select("src", "dst", "rel").distinct())
        self.nodes.delete_keys(keys)

    # -- graph reads ------------------------------------------------------
    def read_nodes(self, spark: SparkSession) -> DataFrame:
        return self.nodes.read(spark)

    def read_edges(self, spark: SparkSession) -> DataFrame:
        return self.edges.read(spark)

    def degrees(self, spark: SparkSession) -> DataFrame:
        """Per-node (out_degree, in_degree) — one shuffle per direction,
        then an outer join on node id."""
        e = self.read_edges(spark)
        out_d = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_degree"))
        in_d = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_degree"))
        return (
            self.read_nodes(spark)
            .select("id")
            .join(out_d, "id", "left")
            .join(in_d, "id", "left")
            .fillna(0, ["out_degree", "in_degree"])
        )
