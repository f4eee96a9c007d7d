"""Dataflow-engine operator shapes, relationally expressed so the
oracle can verify them (SURVEY.md §2.5 reconcile, §2.12 join shapes,
§2.6 entity resolution).

These mirror the engine library in cocoindex_spark.engine — the
reconcile classifier here is the same full-outer-join + action
classification that `engine/reconcile.py` executes against real state
tables; expressing it over `orders` lets the driver hash-check the
core operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cocoindex_spark.operators.vector_ops import (
    cosine_from_fixed,
    dot_fixed,
    dot_fixed_arrow,
    sign_bucket_arrow,
    sqnorm_fixed,
    sql_dot_fixed,
    sql_sign_bucket,
)
from cocoindex_spark.queries.registry import register, table
from cocoindex_spark.session import local_frame


# --- q60: THE core operator — reconcile join (declared ⋈ tracked →
#     insert/update/delete/noop actions; rust/core/src/engine/
#     execution.rs:917-1141, custom_target_connector.mdx:29-68).
#     Desired state = current orders (minus a simulated drop set);
#     tracked state = previous run (minus a simulated missing set,
#     with some stale fingerprints).
@register(
    "q60_reconcile_actions",
    oracle="""
WITH desired AS (
  SELECT o_orderkey AS target_key,
    md5(CAST(o_orderkey AS VARCHAR) || ':' ||
        CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)) AS fp
  FROM orders WHERE o_orderkey % 10 <> 3
), tracked AS (
  SELECT o_orderkey AS target_key,
    CASE WHEN o_orderkey % 5 = 0
      THEN md5(CAST(o_orderkey AS VARCHAR) || ':stale')
      ELSE md5(CAST(o_orderkey AS VARCHAR) || ':' ||
               CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR))
    END AS fp
  FROM orders WHERE o_orderkey % 7 <> 2
)
SELECT COALESCE(d.target_key, t.target_key) AS target_key,
  CASE
    WHEN t.target_key IS NULL THEN 'insert'
    WHEN d.target_key IS NULL THEN 'delete'
    WHEN d.fp <> t.fp THEN 'update'
    ELSE 'noop'
  END AS action
FROM desired d FULL OUTER JOIN tracked t ON d.target_key = t.target_key
""",
)
def q60_reconcile_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    price_cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    fresh_fp = F.md5(
        F.encode(
            F.concat(F.col("o_orderkey").cast("string"), F.lit(":"), price_cents.cast("string")),
            "UTF-8",
        )
    )
    stale_fp = F.md5(F.encode(F.concat(F.col("o_orderkey").cast("string"), F.lit(":stale")), "UTF-8"))
    desired = o.filter(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("d_key"), fresh_fp.alias("d_fp")
    )
    tracked = o.filter(F.col("o_orderkey") % 7 != 2).select(
        F.col("o_orderkey").alias("t_key"),
        F.when(F.col("o_orderkey") % 5 == 0, stale_fp).otherwise(fresh_fp).alias("t_fp"),
    )
    joined = desired.join(tracked, desired.d_key == tracked.t_key, "full_outer")
    action = (
        F.when(F.col("t_key").isNull(), "insert")
        .when(F.col("d_key").isNull(), "delete")
        .when(F.col("d_fp") != F.col("t_fp"), "update")
        .otherwise("noop")
    )
    return joined.select(
        F.coalesce(F.col("d_key"), F.col("t_key")).alias("target_key"), action.alias("action")
    )


# --- q61: memo lookup join (calls ⋈ memo cache on args_fp, left-anti =
#     misses to compute; execution.rs:85-130)
@register(
    "q61_memo_miss_join",
    oracle="""
WITH calls AS (
  SELECT DISTINCT l_partkey, l_suppkey,
    md5(CAST(l_partkey AS VARCHAR) || ',' || CAST(l_suppkey AS VARCHAR)) AS args_fp
  FROM lineitem
), memo AS (
  SELECT args_fp FROM (
    SELECT DISTINCT l_partkey, l_suppkey,
      md5(CAST(l_partkey AS VARCHAR) || ',' || CAST(l_suppkey AS VARCHAR)) AS args_fp
    FROM lineitem
  ) WHERE (l_partkey + l_suppkey) % 3 = 0
)
SELECT c.l_partkey, c.l_suppkey, c.args_fp
FROM calls c WHERE NOT EXISTS (SELECT 1 FROM memo m WHERE m.args_fp = c.args_fp)
""",
)
def q61_memo_miss_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    args_fp = F.md5(
        F.encode(
            F.concat(F.col("l_partkey").cast("string"), F.lit(","), F.col("l_suppkey").cast("string")),
            "UTF-8",
        )
    )
    calls = l.select("l_partkey", "l_suppkey").distinct().withColumn("args_fp", args_fp)
    memo = calls.filter((F.col("l_partkey") + F.col("l_suppkey")) % 3 == 0).select("args_fp")
    return calls.join(memo, "args_fp", "left_anti").select("l_partkey", "l_suppkey", "args_fp")


# --- q62: connected components over the similarity graph (entity
#     resolution: FAISS range_search → union-find,
#     entity_resolution/__init__.py:427-489). Spark: iterative
#     min-label propagation over the edge list (each round = one
#     shuffle join; at cluster scale swap in the alternating
#     star-contraction variant — same contract).
@register(
    "q62_connected_components",
    oracle=f"""
WITH RECURSIVE eb AS (
  SELECT vec_id, embedding, {sql_sign_bucket("embedding", 8)} AS bucket,
         {sql_dot_fixed("embedding", "embedding")} AS sqn
  FROM embeddings
), edges AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE CAST({sql_dot_fixed("a.embedding", "b.embedding")} AS DOUBLE)
          / sqrt(CAST(a.sqn AS DOUBLE) * CAST(b.sqn AS DOUBLE)) >= 0.30
), sym AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
), reach(a, b) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
)
SELECT a AS vec_id, MIN(b) AS component_id FROM reach GROUP BY a
""",
)
def q62_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint: bucket + sqnorm are computed once, not once per
    # join side (both `a` and `b` derive from this frame).
    e = (
        table(spark, sf_dir, "embeddings")
        .withColumn("bucket", sign_bucket_arrow(F.col("embedding"), 8))
        .withColumn("sqn", dot_fixed_arrow(F.col("embedding"), F.col("embedding")))
        .localCheckpoint(eager=True)
    )
    a = e.select(
        F.col("vec_id").alias("a_id"), F.col("bucket").alias("bucket"),
        F.col("embedding").alias("a_emb"), F.col("sqn").alias("a_sqn"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"), F.col("bucket").alias("b_bucket"),
        F.col("embedding").alias("b_emb"), F.col("sqn").alias("b_sqn"),
    )
    sim = cosine_from_fixed(
        dot_fixed_arrow(F.col("a_emb"), F.col("b_emb")), F.col("a_sqn"), F.col("b_sqn")
    )
    edges = (
        a.join(b, (F.col("bucket") == F.col("b_bucket")) & (F.col("a_id") < F.col("b_id")))
        .filter(sim >= 0.30)
        .select("a_id", "b_id")
    )
    # Shared min-label propagation with path halving (O(log d) rounds
    # on chains) and the singleton split — operators/entity_resolution.
    from cocoindex_spark.operators.entity_resolution import connected_components

    nodes = table(spark, sf_dir, "embeddings").select("vec_id")
    labels = connected_components(nodes, edges, id_col="vec_id")
    return labels.select(F.col("id").alias("vec_id"), "component_id")


# --- q63: RRF hybrid rank fusion (semantic rank ⋈ lexical rank on id,
#     1/(60+rs) + 1/(60+rl); examples/sec_edgar_analytics/search.py:44-60)
@register(
    "q63_rrf_hybrid",
    oracle=f"""
WITH sem AS (
  SELECT a.vec_id AS id,
    ROW_NUMBER() OVER (ORDER BY CAST({sql_dot_fixed("a.embedding", "q.embedding")} AS DOUBLE)
      / sqrt(CAST({sql_dot_fixed("a.embedding", "a.embedding")} AS DOUBLE)
           * CAST({sql_dot_fixed("q.embedding", "q.embedding")} AS DOUBLE)) DESC, a.vec_id ASC) AS rk_s
  FROM embeddings a, embeddings q WHERE q.vec_id = 0 AND a.vec_id <> 0
), toks AS (
  SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS w FROM documents
), lex AS (
  SELECT a.doc_id AS id,
    ROW_NUMBER() OVER (
      ORDER BY len(list_intersect(a.w, q.w)) DESC, a.doc_id ASC) AS rk_l
  FROM toks a, toks q WHERE q.doc_id = 0 AND a.doc_id <> 0
)
SELECT sem.id AS id, rk_s, rk_l,
  1.0/(60 + rk_s) + 1.0/(60 + rk_l) AS rrf
FROM sem JOIN lex ON sem.id = lex.id
ORDER BY rrf DESC, id ASC
LIMIT 20
""",
)
def q63_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cocoindex_spark.operators.rank import global_row_number

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    # Ranks via two-phase distributed row_number — a bare Window.orderBy
    # would single-task the whole corpus.
    sem_scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine_from_fixed(
            dot_fixed(F.col("embedding"), F.col("q_emb")),
            sqnorm_fixed(F.col("embedding")),
            sqnorm_fixed(F.col("q_emb")),
        ).alias("sim"))
    )
    sem = global_row_number(sem_scored, [F.desc("sim"), F.asc("vec_id")], "rk_s").select(
        F.col("vec_id").alias("id"), "rk_s"
    )
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split(F.trim(F.col("text")), " ")).alias("w")
    )
    qd = d.filter(F.col("doc_id") == 0).select(F.col("w").alias("q_w"))
    lex_scored = (
        d.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(qd))
        .select("doc_id", F.size(F.array_intersect(F.col("w"), F.col("q_w"))).alias("overlap"))
    )
    lex = global_row_number(lex_scored, [F.desc("overlap"), F.asc("doc_id")], "rk_l").select(
        F.col("doc_id").alias("id"), "rk_l"
    )
    rrf = F.lit(1.0) / (F.lit(60) + F.col("rk_s")) + F.lit(1.0) / (F.lit(60) + F.col("rk_l"))
    return (
        sem.join(lex, "id")
        .withColumn("rrf", rrf)
        .orderBy(F.desc("rrf"), F.asc("id"))
        .limit(20)
        .select("id", "rk_s", "rk_l", "rrf")
    )


# --- q64: child-existence set reconcile (current vs previous child key
#     sets → create/delete cascade; rust/core/src/state/stable_path_set.rs)
@register(
    "q64_child_existence_diff",
    oracle="""
WITH current_children AS (
  SELECT DISTINCT o_custkey AS child_key FROM orders
), previous_children AS (
  SELECT c_custkey AS child_key FROM customer WHERE c_custkey % 11 <> 5
)
SELECT child_key, 'create' AS action
FROM current_children WHERE child_key NOT IN (SELECT child_key FROM previous_children)
UNION ALL
SELECT child_key, 'delete' AS action
FROM previous_children WHERE child_key NOT IN (SELECT child_key FROM current_children)
""",
)
def q64_child_existence_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    current = o.select(F.col("o_custkey").alias("child_key")).distinct()
    previous = c.filter(F.col("c_custkey") % 11 != 5).select(F.col("c_custkey").alias("child_key"))
    creates = current.join(previous, "child_key", "left_anti").withColumn("action", F.lit("create"))
    deletes = previous.join(current, "child_key", "left_anti").withColumn("action", F.lit("delete"))
    return creates.unionAll(deletes)


# --- q65: full entity-resolution pipeline (candidates → components →
#     per-component greedy canonical merge with mapInPandas; reference
#     python/cocoindex/ops/entity_resolution/__init__.py:264-425). The
#     greedy merge's exact tie-break order is not SQL-expressible (it is
#     pytest-pinned in tests/test_types_er.py); what IS SQL-checkable are
#     its structural invariants, so the query emits those per member and
#     the oracle derives the ground truth independently (components via
#     the q62 recursive CTE, pinning from the id, invariants as TRUE):
#       * canon_in_comp — the chosen canonical lies in the member's own
#         connected component (never merges across components);
#       * pinned_self_ok — pinned entities keep their identity;
#       * canonical_fixpoint — canonical(canonical(x)) = canonical(x)
#         (chain-walking terminated);
#       * singleton_self — a member with no candidate pair is its own
#         canonical.
#     A broken merge flips one of the booleans and the value hash
#     diverges, so this upgrades q65 from rows-only to a full hash check.
@register(
    "q65_entity_resolution",
    oracle=f"""
WITH RECURSIVE eb AS (
  SELECT vec_id, embedding, {sql_sign_bucket("embedding", 8)} AS bucket,
         {sql_dot_fixed("embedding", "embedding")} AS sqn
  FROM embeddings
), edges AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE CAST({sql_dot_fixed("a.embedding", "b.embedding")} AS DOUBLE)
          / sqrt(CAST(a.sqn AS DOUBLE) * CAST(b.sqn AS DOUBLE)) >= 0.30
), sym AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
), reach(a, b) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
), comp AS (
  SELECT a AS vec_id, MIN('vec_' || CAST(b AS VARCHAR)) AS component_id
  FROM reach GROUP BY a
)
SELECT 'vec_' || CAST(c.vec_id AS VARCHAR) AS name,
  c.component_id,
  (c.vec_id % 13 = 0) AS was_pinned,
  TRUE AS canon_in_comp,
  TRUE AS pinned_self_ok,
  TRUE AS canonical_fixpoint,
  TRUE AS singleton_self
FROM comp c
""",
)
def q65_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cocoindex_spark.operators.entity_resolution import (
        candidate_pairs,
        connected_components,
        greedy_resolve,
    )

    e = table(spark, sf_dir, "embeddings").select(
        F.concat(F.lit("vec_"), F.col("vec_id").cast("string")).alias("name"),
        "embedding",
        (F.col("vec_id") % 13 == 0).alias("is_existing_canonical"),
    )
    pairs = candidate_pairs(e, "name", "embedding", threshold=0.30, bucket_bits=8).localCheckpoint(
        eager=True
    )
    comps = connected_components(e, pairs, "name").localCheckpoint(eager=True)
    ewc = e.join(comps, e.name == comps.id, "left").drop("id")
    res = greedy_resolve(ewc, pairs, "name", "is_existing_canonical")
    # members with at least one candidate pair (everyone else is a
    # "lonely" singleton w.r.t. the pair graph and must self-canonize)
    paired = (
        pairs.select(F.col("a_id").alias("name"))
        .unionAll(pairs.select(F.col("b_id").alias("name")))
        .distinct()
        .withColumn("has_pair", F.lit(True))
    )
    member_comp = comps.select(F.col("id").alias("name"), "component_id")
    canon_comp = comps.select(
        F.col("id").alias("canonical"), F.col("component_id").alias("canon_component_id")
    )
    canon_of_canon = res.select(
        F.col("name").alias("canonical"), F.col("canonical").alias("canon2")
    )
    return (
        res.join(member_comp, "name")
        .join(canon_comp, "canonical", "left")
        .join(canon_of_canon, "canonical", "left")
        .join(paired, "name", "left")
        .select(
            "name",
            "component_id",
            "was_pinned",
            (F.col("canon_component_id") == F.col("component_id")).alias("canon_in_comp"),
            (~F.col("was_pinned") | (F.col("canonical") == F.col("name"))).alias(
                "pinned_self_ok"
            ),
            (F.col("canon2") == F.col("canonical")).alias("canonical_fixpoint"),
            (
                F.coalesce(F.col("has_pair"), F.lit(False))
                | (F.col("canonical") == F.col("name"))
            ).alias("singleton_self"),
        )
    )


# --- q145: ContextKey detect_change memo invalidation measured on the
#     LIVE engine (reference: context_keys.py:99-214 provide/fp
#     registry, the memo-hit "context fps match" condition; docs
#     context.mdx "Change detection"). Five syncs of the documents
#     table through a context-reading transform; the returned frame is
#     the engine's MEASURED per-phase stats, and the oracle is the
#     corpus-derived expectation: a changed detect_change=True value
#     misses and rewrites everything (w = (len+1)·k differs for every
#     doc), re-providing the original value revives the first
#     snapshot's memo rows (hits, but the target rows update back),
#     and rotating a detect_change=False value invalidates nothing.
#     Engine-sync query: deliberately NOT in the bench HEADLINE
#     (q99/q135-q137/q144 precedent — each call is a pipe_cold twin).
@register(
    "q145_context_memo_invalidation",
    oracle="""
WITH n AS (SELECT COUNT(*) AS c FROM documents)
SELECT 'p1_cold' AS phase, c AS memo_misses, c AS inserts, CAST(0 AS BIGINT) AS updates FROM n
UNION ALL
SELECT 'p2_warm', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM n
UNION ALL
SELECT 'p3_ctx_edit', c, CAST(0 AS BIGINT), c FROM n
UNION ALL
SELECT 'p4_ctx_back', CAST(0 AS BIGINT), CAST(0 AS BIGINT), c FROM n
UNION ALL
SELECT 'p5_undetected', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM n
UNION ALL
SELECT 'p6_state_refresh', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM n
UNION ALL
SELECT 'p7_state_invalid', c, CAST(0 AS BIGINT), c FROM n
UNION ALL
SELECT 'p8_state_back', c, CAST(0 AS BIGINT), c FROM n
""",
)
def q145_context_memo_invalidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    from cocoindex_spark.engine.app import App
    from cocoindex_spark.engine.context import ContextKey, use_context
    from cocoindex_spark.engine.function import fn as _fn

    sfx = _uuid.uuid4().hex[:12]
    k_scale = ContextKey(f"q145-scale-{sfx}", detect_change=True)
    k_conn = ContextKey(f"q145-conn-{sfx}", detect_change=False)
    k_cfg = ContextKey(f"q145-cfg-{sfx}", detect_change=True)

    class CfgFile:
        """FileLike config: identity = path; memo state = [mtime,
        content]. mtime match ⇒ valid without reading content; mtime
        change ⇒ content decides (the reference's two-level provide-
        time state validation, context_keys.py:180-200)."""

        def __init__(self, mtime: int, content: int):
            self.mtime = mtime
            self.content = content

        def __coco_memo_key__(self):
            return "cfg.toml"  # identity: never changes across phases

        def __coco_memo_state__(self, prev):
            from cocoindex_spark.fingerprint import MemoStateOutcome, is_non_existence

            if is_non_existence(prev):
                return MemoStateOutcome(state=[self.mtime, self.content])
            if self.mtime == prev[0]:
                return MemoStateOutcome(state=prev, memo_valid=True)
            return MemoStateOutcome(
                state=[self.mtime, self.content],
                memo_valid=self.content == prev[1],
            )

    @_fn(memo=True)
    def weigh(df):
        k = use_context(k_scale)
        cfg = use_context(k_cfg)  # state-validated at provide() time
        use_context(k_conn)  # consumed but NOT change-detected
        return df.select(
            "__args_fp",
            "__component_path",
            "doc_id",
            (
                (F.length("text") + 1).cast("long") * F.lit(k)
                + F.lit(cfg.content)
            ).alias("w"),
        )

    root = tempfile.mkdtemp(prefix="q145_")
    rows = []
    try:
        app = App("ctxq", state_dir=root, spark=spark)
        t = app.target(os.path.join(root, "t"), ["doc_id"], "doc_id LONG, w LONG")
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")

        def run(phase: str, scale: int, conn: str, mtime: int = 1, content: int = 5) -> None:
            app.provide(k_scale, scale)
            app.provide(k_conn, conn)
            app.provide(k_cfg, CfgFile(mtime, content))
            s = app.sync_table(docs, ["doc_id"], weigh, t)
            rows.append((phase, s.memo_misses, s.inserts, s.updates))

        run("p1_cold", 2, "conn-A")
        run("p2_warm", 2, "conn-A")
        run("p3_ctx_edit", 3, "conn-A")
        run("p4_ctx_back", 2, "conn-A")
        run("p5_undetected", 2, "conn-B")
        # state-fn phases: the cfg value's IDENTITY fp (its path) never
        # changes — only its provide-time state outcomes drive validity
        run("p6_state_refresh", 2, "conn-B", mtime=2, content=5)  # cheap-valid
        run("p7_state_invalid", 2, "conn-B", mtime=3, content=9)  # content edit
        run("p8_state_back", 2, "conn-B", mtime=4, content=5)  # new generation
        return local_frame(
            spark, rows, "phase STRING, memo_misses LONG, inserts LONG, updates LONG"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
