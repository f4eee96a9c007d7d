"""Quickstart-parity query — the reference's canonical README pipeline
(examples/text_embedding/main.py:149-156: walk_dir → split → embed →
vector table → similarity top-k) as ONE registered, value-oracled
query. The Spark restatement syncs documents through the engine
(chunk → feature-hash embed → LSH bucket, memoized per document), then
answers a bucket-pruned cosine top-3 from the MAINTAINED table — the
exact flow `examples/text_embedding_app.py` ships, which imports this
module so the example and the oracle can never drift.

Scale shape: chunking/embedding is per-row expression work (no
Python), the vector table is an engine target (edits re-embed one
document), and the probe prunes on the LSH bucket before any cosine —
the candidate set is the bucket's members, never the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cocoindex_spark.engine.function import fn
from cocoindex_spark.operators.embed import sql_hash_embed
from cocoindex_spark.operators.vector_ops import (
    dot_fixed,
    sign_bucket,
    sql_dot_fixed,
    sql_sign_bucket,
    sqnorm_fixed,
)
from cocoindex_spark.queries.registry import register, served, table
from cocoindex_spark.session import local_frame
from cocoindex_spark.state.store import _PROBE_COL

CHUNK = 32
STRIDE = 24
EMB_DIM = 16
LSH_BITS = 4


@fn(memo=True)
def chunk_and_embed(df: DataFrame) -> DataFrame:
    """doc → overlapping word chunks → hash embeddings, one output row
    per chunk (the memo key is the whole document: an edited doc
    re-embeds its chunks, an untouched one replays them)."""
    w = F.split(F.trim(F.col("text")), " ")
    n = F.size(w)
    extra = F.greatest(n - F.lit(CHUNK), F.lit(0))
    n_chunks = (
        F.floor(extra.cast("double") / F.lit(STRIDE)).cast("long")
        + F.when(extra % STRIDE > 0, 1).otherwise(0)
        + 1
    )
    chunks = df.select(
        "__args_fp",
        "__component_path",
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(" ", F.slice(w, i * STRIDE + 1, CHUNK)),
            )
        ).alias("chunk_idx", "chunk_text"),
    ).filter(F.length("chunk_text") > 0)
    # Bit-identical to hash_embed_expr, but each token's md5 runs ONCE
    # (the array-expression form re-hashes per output dimension — 2·dim
    # md5 evaluations per token; this is the same fix q26's docstring
    # describes, kept in array land because chunks are short rows).
    pairs = F.expr(
        "transform("
        "  transform(split(chunk_text, ' '),"
        "            t -> conv(substring(md5(encode(t, 'UTF-8')), 1, 9), 16, 10)),"
        "  h -> struct(CAST(CAST(h AS BIGINT) div 16 % " + str(EMB_DIM) + " AS INT) AS b,"
        "              CASE WHEN CAST(h AS BIGINT) % 2 = 0 THEN CAST(1.0 AS DOUBLE)"
        "                   ELSE CAST(-1.0 AS DOUBLE) END AS s))"
    )
    def _sum_dim(i: int):
        # factory keeps the merge lambda two-arg (PySpark counts lambda
        # parameters; a default arg would make it look ternary)
        return lambda acc, p: acc + F.when(p["b"] == i, p["s"]).otherwise(F.lit(0.0))

    emb = F.array(
        *[
            F.aggregate(pairs, F.lit(0.0), _sum_dim(i)).cast("float")
            for i in range(EMB_DIM)
        ]
    )
    return chunks.select(
        "__args_fp",
        "__component_path",
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        emb.alias("embedding"),
        sign_bucket(emb, LSH_BITS).cast("int").alias("bucket"),
    )


def sync_quickstart_table(app, docs: DataFrame):
    """Sync docs (doc_id, text) into the quickstart vector table and
    return (target, stats) — shared by q137 and the example app."""
    target = app.target(
        os.path.join(app.state.root, "targets", "chunks"),
        ["doc_id", "chunk_idx"],
        "doc_id LONG, chunk_idx LONG, chunk_text STRING, "
        "embedding ARRAY<FLOAT>, bucket INT",
    )
    # probe_col: lay the storage down with a __probe partition level on
    # the LSH bucket so index probes prune file I/O (seek-shaped, like
    # the reference's pgvector indexes), not just compute
    target.declare_index("lsh", "embedding", bits=LSH_BITS, probe_col="bucket")
    stats = app.sync_table(docs, ["doc_id"], chunk_and_embed, target)
    return target, stats


# DuckDB twin of the chunking arithmetic (1-based inclusive list
# slices == F.slice(start, length)); the embedding/bucket/cosine
# formulas are the operators' published SQL twins.
_SQL_CHUNKS = f"""
  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
         ws[CAST(i*{STRIDE}+1 AS BIGINT):CAST(i*{STRIDE}+{CHUNK} AS BIGINT)] AS ctoks
  FROM (
    SELECT doc_id, ws,
      CAST(floor(CAST(extra AS DOUBLE)/{STRIDE}) AS BIGINT)
        + (CASE WHEN extra % {STRIDE} > 0 THEN 1 ELSE 0 END) + 1 AS n_chunks
    FROM (
      SELECT doc_id, ws, greatest(len(ws) - {CHUNK}, 0) AS extra
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
    )
  ), UNNEST(range(0, n_chunks)) AS u(i)
  WHERE strlen(array_to_string(ws[CAST(i*{STRIDE}+1 AS BIGINT):CAST(i*{STRIDE}+{CHUNK} AS BIGINT)], ' ')) > 0
"""


@register(
    "q137_quickstart_topk",
    oracle=f"""
WITH ch AS ({_SQL_CHUNKS}),
emb AS (
  SELECT doc_id, chunk_idx,
         {sql_hash_embed("ctoks", EMB_DIM)} AS e,
         {sql_sign_bucket(sql_hash_embed("ctoks", EMB_DIM), LSH_BITS)} AS bucket
  FROM ch
),
en AS (
  SELECT doc_id, chunk_idx, e, bucket, {sql_dot_fixed("e", "e")} AS sqn FROM emb
),
probe AS (SELECT e AS qe, bucket AS qb, sqn AS qsqn FROM en
          WHERE doc_id = 0 AND chunk_idx = 0)
SELECT a.doc_id, a.chunk_idx,
  CAST({sql_dot_fixed("a.e", "p.qe")} AS DOUBLE)
    / sqrt(CAST(a.sqn AS DOUBLE) * CAST(p.qsqn AS DOUBLE)) AS sim
FROM en a, probe p
WHERE a.bucket = p.qb AND a.sqn > 0 AND p.qsqn > 0
ORDER BY sim DESC, a.doc_id ASC, a.chunk_idx ASC
LIMIT 3
""",
)
def q137_quickstart_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    target = served(
        spark, sf_dir, "quickstart", lambda app: sync_quickstart_table(app, docs)[0]
    )
    # probe row: one PK lookup (bounded collect — the "query
    # embedding" a real caller would supply)
    probe_rows = (
        target.read(spark)
        .filter((F.col("doc_id") == 0) & (F.col("chunk_idx") == 0))
        .withColumn("sqn", sqnorm_fixed(F.col("embedding")))
        .filter(F.col("sqn") > 0)
        .select("embedding", "bucket", "sqn")
        .collect()
    )
    if not probe_rows:
        return local_frame(spark, [], "doc_id LONG, chunk_idx LONG, sim DOUBLE")
    qe, qb, qsqn = probe_rows[0]
    # candidate scan: statically partition-pruned on the probe's
    # bucket — reads only the __probe=hash(qb) files of the index
    pids = target.probe_partitions(spark, [int(qb)])
    probe_df = local_frame(spark, [(qe, int(qsqn))], "qe ARRAY<FLOAT>, qsqn LONG")
    return (
        target.read_indexed(spark)
        .filter(F.col(_PROBE_COL).isin(pids))
        .filter(F.col("bucket") == int(qb))
        .withColumn("sqn", sqnorm_fixed(F.col("embedding")))
        .filter(F.col("sqn") > 0)
        .crossJoin(F.broadcast(probe_df))
        .select(
            "doc_id",
            "chunk_idx",
            (
                dot_fixed(F.col("embedding"), F.col("qe")).cast("double")
                / F.sqrt(F.col("sqn").cast("double") * F.col("qsqn").cast("double"))
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("doc_id"), F.asc("chunk_idx"))
        .limit(3)
    )
