"""Entity resolution: candidate similarity join → connected components
→ per-component greedy canonical merge (reference:
python/cocoindex/ops/entity_resolution/__init__.py — FAISS top-k
:200-262, range_search pairs :453-465, union-find :427-489, greedy
two-pass merge :264-425; policies docs entity_resolution.mdx:80-110).

Spark-first pipeline (SURVEY.md §2.6):

1. Candidate pairs: cosine-threshold similarity join, blocked by
   sign-LSH bucket (equi-join; a 100 TB corpus shuffles on bucket id
   rather than cross-joining).
2. Connected components: driver union-find on the verified pair list
   under an edge cap; alternating star contraction above it.
3. Greedy merge per component with ``applyInPandas`` (components are
   small by construction); PINNED entities (existing canonicals) seed
   pass 1, the rest resolve in pass 2, deterministic sorted order
   (entity_resolution.mdx:114,142: deterministic event order).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from cocoindex_spark.operators.vector_ops import (
    cosine_from_fixed,
    dot_fixed_arrow,
    sign_bucket_arrow,
)
from cocoindex_spark.session import local_frame


def candidate_pairs(
    entities: DataFrame,
    id_col: str = "name",
    vec_col: str = "embedding",
    threshold: float = 0.7,
    bucket_bits: int = 0,
) -> DataFrame:
    """Similarity-join candidates above a cosine threshold.

    bucket_bits=0 ⇒ exact (all-pairs within the driver-chosen blocking);
    >0 ⇒ sign-LSH bucket equi-join (the scale path).
    """
    e = entities.withColumn(
        "__sqn", dot_fixed_arrow(F.col(vec_col), F.col(vec_col))
    )
    if bucket_bits > 0:
        e = e.withColumn("__bucket", sign_bucket_arrow(F.col(vec_col), bucket_bits))
    # Both join sides derive from `e`; materialize once so the sqnorm
    # and bucket projections are not computed twice.
    e = e.localCheckpoint(eager=True)
    a = e.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("__a_vec"),
        F.col("__sqn").alias("__a_sqn"),
        *([F.col("__bucket")] if bucket_bits > 0 else []),
    )
    b = e.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("__b_vec"),
        F.col("__sqn").alias("__b_sqn"),
        *([F.col("__bucket").alias("__b_bucket")] if bucket_bits > 0 else []),
    )
    cond = F.col("a_id") < F.col("b_id")
    if bucket_bits > 0:
        joined = a.join(b, (F.col("__bucket") == F.col("__b_bucket")) & cond)
    else:
        joined = a.join(b, cond)
    sim = cosine_from_fixed(
        dot_fixed_arrow(F.col("__a_vec"), F.col("__b_vec")), F.col("__a_sqn"), F.col("__b_sqn")
    )
    return joined.withColumn("sim", sim).filter(F.col("sim") >= threshold).select(
        "a_id", "b_id", "sim"
    )


DRIVER_UNION_FIND_CAP = 2_000_000  # edges; ~64 MB driver-side at the cap


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iters: int = 50,
    driver_cap: int = DRIVER_UNION_FIND_CAP,
) -> DataFrame:
    """(id, component_id) with component_id = min member id.

    Two physical strategies behind one contract:

    - **Sparse verified graphs (≤ driver_cap edges)**: collect the edge
      list and run union-find on the driver, then broadcast the
      id→component mapping back. This is exactly the reference's shape —
      it union-finds the FAISS range_search pair list on one node
      (python/cocoindex/ops/entity_resolution/__init__.py:427-489) —
      and it is the right call at 100 TB too: the *verified* near-dup
      edge list is orders of magnitude smaller than the corpus, and a
      distributed fixpoint loop pays O(diameter) shuffle rounds for a
      graph that fits in one task. The cap bounds driver memory; the
      mapping returns as a broadcast join against the (distributed)
      node set, so the corpus itself never moves.
    - **Above the cap**: alternating large/small-star contraction over
      only the paired subgraph (singletons split off) — O(log n)
      rounds regardless of component diameter.
    """
    all_ids = nodes.select(F.col(id_col).alias("id"))
    # Confine the graph to known nodes BEFORE labeling: an edge endpoint
    # absent from `nodes` must neither conduct connectivity between two
    # known nodes nor become a component_id (the docstring promises
    # component_id = min MEMBER id). Two semi-joins drop any edge with a
    # foreign endpoint; at scale these ride the same shuffle the
    # contraction rounds need anyway.
    # localCheckpoint: materialize the (expensive) edge list once and
    # truncate lineage each round — one job per round, not two.
    sym = (
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .join(all_ids.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(all_ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .localCheckpoint(eager=True)
    )
    n_sym = sym.count()  # free: sym is already materialized
    if n_sym <= 2 * driver_cap:
        pair_rows = sym.filter(F.col("src") < F.col("dst")).collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in pair_rows:
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comp_min: dict = {}
        roots = {x: find(x) for x in parent}
        for x, r in roots.items():
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        mapping = [(x, comp_min[r]) for x, r in roots.items()]
        spark = nodes.sparkSession
        id_type = all_ids.schema["id"].dataType
        schema = StructType(
            [StructField("id", id_type), StructField("__comp", id_type)]
        )
        map_df = local_frame(spark, mapping, schema)
        # Broadcast join: the node set stays distributed; unmapped
        # nodes (singletons or ids the edges never referenced) label
        # themselves. Edge endpoints outside `nodes` drop out here.
        return all_ids.join(F.broadcast(map_df), "id", "left").select(
            "id", F.coalesce(F.col("__comp"), F.col("id")).alias("component_id")
        )
    # Distributed path: alternating large-star/small-star contraction
    # (Kiveris et al., "Connected Components in MapReduce and Beyond")
    # — O(log n) rounds regardless of component diameter, vs O(diameter)
    # for plain label propagation. Each round is one groupBy (min
    # neighbor) + one projection of the edge list; only the paired
    # subgraph participates (singletons never enter the edge list).
    # intersect with the node set: edges referencing unknown ids must
    # not invent nodes.
    touched = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .join(all_ids, "id", "left_semi")
        .localCheckpoint(eager=True)
    )
    singles = all_ids.join(touched, "id", "left_anti").select(
        "id", F.col("id").alias("component_id")
    )
    star_labels = _star_contract(sym, max_iters)
    # Restrict to known nodes (star edges may reference dropped ids).
    labels = touched.join(star_labels, "id", "left").select(
        "id", F.coalesce(F.col("component_id"), F.col("id")).alias("component_id")
    )
    return labels.unionByName(singles)


def _star_contract(sym: DataFrame, max_iters: int) -> DataFrame:
    """(id, component_id=min member) for every endpoint in ``sym``
    (symmetric (src,dst) edge frame), via alternating star contraction.

    large-star (even rounds): each node u with neighborhood N(u) links
    every *larger* neighbor directly to m = min(N(u) ∪ {u}). small-star
    (odd rounds): links every ≤-neighbor and u itself to m. Alternating
    the two converges to a star forest — every node directly attached
    to its component's minimum — in O(log n) rounds. Convergence is
    detected by the canonical edge set's (count, hash-sum) signature
    being stable across a full large+small pair; both quantities come
    out of the same job that materializes the round's lazy checkpoint.
    """
    edges = (
        sym.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sigs: list[tuple] = []
    for i in range(max_iters):
        sym2 = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        nb = sym2.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        joined = sym2.join(nb, "u").withColumn("m", m)
        if i % 2 == 0:  # large-star
            new_pairs = joined.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:  # small-star
            new_pairs = joined.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).unionAll(nb.select(F.col("u").alias("a"), F.least("u", "mn").alias("b")))
        edges = (
            new_pairs.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        sigs.append((row["n"], row["h"]))
        # stable through one full large+small pair ⇒ fixpoint
        if len(sigs) >= 3 and sigs[-1] == sigs[-2] == sigs[-3]:
            break
    # Star forest: each edge is (component_min, member).
    return (
        edges.select(F.col("v").alias("id"), F.col("u").alias("component_id"))
        .unionByName(edges.select(F.col("u").alias("id"), F.col("u").alias("component_id")))
        .groupBy("id")
        .agg(F.min("component_id").alias("component_id"))
    )


_RESOLVE_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("canonical", StringType()),
        StructField("was_pinned", BooleanType()),
    ]
)


def greedy_resolve(
    entities_with_components: DataFrame,
    pairs: DataFrame,
    id_col: str = "name",
    pinned_col: str = "is_existing_canonical",
) -> DataFrame:
    """Per-component greedy canonical merge via ``applyInPandas``
    (components are small; reference resolves them concurrently —
    Spark gives that for free, one task per component group).

    Two passes (entity_resolution/__init__.py:264-425): pass 1 merges
    into PINNED seeds (existing canonicals keep their identity);
    pass 2 resolves the rest in deterministic sorted order with
    chain-walking to the final canonical.
    """
    sim_map = pairs.select("a_id", "b_id", "sim")
    e = entities_with_components.select(
        F.col(id_col).alias("name"),
        F.col("component_id"),
        F.coalesce(F.col(pinned_col), F.lit(False)).alias("pinned"),
    )
    # Attach incident pairs per entity. An OR-condition join would fall
    # back to a nested-loop cross product; instead it's the union of two
    # equi-joins (name = a_id, name = b_id) plus the pairless entities —
    # identical rows, all hash-joinable at scale.
    pair_cols = ["a_id", "b_id", "sim"]
    ea = e.join(sim_map, e.name == sim_map.a_id).select("name", "component_id", "pinned", *pair_cols)
    eb = e.join(sim_map, e.name == sim_map.b_id).select("name", "component_id", "pinned", *pair_cols)
    endpoints = (
        sim_map.select(F.col("a_id").alias("name"))
        .unionAll(sim_map.select(F.col("b_id").alias("name")))
        .distinct()
    )
    lonely = e.join(endpoints, "name", "left_anti").select(
        "name",
        "component_id",
        "pinned",
        F.lit(None).cast("string").alias("a_id"),
        F.lit(None).cast("string").alias("b_id"),
        F.lit(None).cast("double").alias("sim"),
    )
    with_pairs = ea.unionAll(eb).unionAll(lonely)

    def resolve(component: pd.DataFrame) -> pd.DataFrame:
        names = sorted(component["name"].unique())
        pinned = {
            r.name for r in component.itertuples() if r.pinned
        }
        # adjacency with sims, deterministic ordering
        sims: dict[tuple[str, str], float] = {}
        for r in component.itertuples():
            if isinstance(r.a_id, str) and isinstance(r.b_id, str):
                sims[(r.a_id, r.b_id)] = max(sims.get((r.a_id, r.b_id), 0.0), r.sim)
                sims[(r.b_id, r.a_id)] = sims[(r.a_id, r.b_id)]
        canonical: dict[str, str] = {}

        def walk(x: str) -> str:
            seen = set()
            while x in canonical and canonical[x] != x and x not in seen:
                seen.add(x)
                x = canonical[x]
            return x

        # pass 1: pinned seeds are their own canonicals
        for n in sorted(pinned):
            canonical[n] = n
        # pass 2: everyone else merges to the most-similar already-
        # canonicalized neighbor (ties broken lexicographically),
        # else becomes a new canonical.
        for n in names:
            if n in canonical:
                continue
            neighbors = [
                (-(sims[(n, m)]), m)
                for m in names
                if m != n and (n, m) in sims and m in canonical
            ]
            if neighbors:
                neighbors.sort()
                canonical[n] = walk(neighbors[0][1])
            else:
                canonical[n] = n
        return pd.DataFrame(
            {
                "name": names,
                "canonical": [walk(n) for n in names],
                "was_pinned": [n in pinned for n in names],
            }
        )

    # mapInPandas over component-hash partitions, NOT groupBy().
    # applyInPandas invokes the Python fn once per group — with many
    # tiny components (the common shape) that per-group Arrow round
    # trip dominates (~2ms × n_components). Hash-partitioning on
    # component_id co-locates every component's rows in one partition,
    # the partition is resolved group-by-group with a pandas groupby
    # (C-level slicing), and one Arrow batch returns per partition.
    # Memory is bounded by partition size — components are small, so
    # raise the partition count at scale, never the component size.
    def resolve_partition(batches):
        chunks = [pdf for pdf in batches if len(pdf)]
        if not chunks:
            return
        part = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        outs = [resolve(g) for _, g in part.groupby("component_id", sort=False)]
        yield pd.concat(outs, ignore_index=True)

    n_parts = max(1, with_pairs.sparkSession.sparkContext.defaultParallelism)
    return with_pairs.repartition(n_parts, "component_id").mapInPandas(
        resolve_partition, _RESOLVE_SCHEMA
    )


_PAIR_DECISION_SCHEMA = StructType(
    [
        StructField("a_id", StringType()),
        StructField("b_id", StringType()),
        StructField("same_entity", BooleanType()),
        StructField("attempts", IntegerType()),
    ]
)


def resolve_pairs_with(
    pairs: DataFrame,
    decide_fn,
    retry_budget: int = 2,
) -> DataFrame:
    """Pair-match decision operator (LlmPairResolver analog,
    `python/cocoindex/ops/entity_resolution/llm_resolver.py`; docs
    entity_resolution.mdx:153-238: schema-validated decision with
    re-prompt retry, budget 2).

    ``decide_fn(a_id, b_id, attempt) -> bool`` is the injected backend
    (an LLM call in production, a deterministic fake in tests — the
    reference's own test strategy). Invalid/failed decisions re-prompt
    up to ``retry_budget`` times; exhausted budget ⇒ not-same (the
    conservative default). Runs as an Arrow-batched mapInPandas — one
    Python round-trip per batch of pairs, embarrassingly parallel.
    Memoization comes for free when driven through App.sync_table
    (pair key = component key).
    """
    import pandas as _pd

    def run(batches):
        for pdf in batches:
            out = {"a_id": [], "b_id": [], "same_entity": [], "attempts": []}
            for a, b in zip(pdf["a_id"], pdf["b_id"]):
                decision, attempts = False, 0
                for attempt in range(1, retry_budget + 1):
                    attempts = attempt
                    try:
                        d = decide_fn(a, b, attempt)
                        if isinstance(d, bool):  # schema validation
                            decision = d
                            break
                    except Exception:
                        continue  # re-prompt
                out["a_id"].append(a)
                out["b_id"].append(b)
                out["same_entity"].append(decision)
                out["attempts"].append(attempts)
            yield _pd.DataFrame(out)

    return pairs.select("a_id", "b_id").mapInPandas(run, _PAIR_DECISION_SCHEMA)


def resolve_entities(
    entities: DataFrame,
    id_col: str = "name",
    vec_col: str = "embedding",
    pinned_col: str = "is_existing_canonical",
    threshold: float = 0.7,
    bucket_bits: int = 0,
) -> DataFrame:
    """Full pipeline: candidates → components → greedy merge."""
    # localCheckpoint, not cache(): the pair list feeds both the CC loop
    # and the greedy merge, so it must materialize once — but cache
    # entries outlive the call (until explicit unpersist), while
    # checkpoint blocks are freed when the RDD is GC'd, so repeated
    # resolves in one session don't accumulate cache pressure.
    pairs = candidate_pairs(entities, id_col, vec_col, threshold, bucket_bits).localCheckpoint(
        eager=True
    )
    comps = connected_components(entities, pairs, id_col)
    ewc = entities.join(comps, entities[id_col] == comps.id, "left").drop("id")
    return greedy_resolve(ewc, pairs, id_col, pinned_col)
