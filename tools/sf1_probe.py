"""One-off sf1 scale sanity (NOT a bench gate): run the heaviest
queries at a synthesized sf1 and record wall times + sf0.1→sf1 growth
ratios in bench_results/sf1_probe.json — catches super-linear blowups
the sf0.1 bench cannot see.

sf1 synthesis = 10 replicas of sf0.1 with disjoint key spaces:
- every entity/foreign key shifted by replica*10^10 consistently
  (orders⋈lineitem, customer⋈orders, part/supplier⋈lineitem all stay
  referentially intact);
- document text gets a per-replica word prefix so replicas are NOT
  near-duplicates of each other (a naive copy would grow every
  similarity query's true pair count ~100× for 10× data and measure
  the data artifact, not the plan);
- embeddings are rotated by replica positions (same norms/labels,
  different directions → different LSH/IVF cells);
- fixed dims (region, nation) are copied once, like TPC-H.

Usage: python tools/sf1_probe.py [--rebuild]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1_synth"
REPLICAS = 10
STRIDE = 10_000_000_000

# the heaviest bench entries (round-6 verdict's plan-audit list) plus
# the round-7/8 code-view queries (r7 verdict item 7: include the new
# heavy extraction queries, q156 especially post-single-pass)
PROBE_QUERIES = [
    "q82_pagerank",
    "q67_motif_cosupplier",
    "q126_detector_eval",
    "q152_element_kinds",
    "q148_bigram_surprisal",
    "q146_shingle_containment",
    "q114_semdedup",
    "q117_mmr_rerank",
    "q31_ngram_jaccard_pairs",
    "q104_bfs_reachability",
    "q153_element_namespaces",
    "q154_callsite_indegree",
    "q156_qualified_usage_search",
    # r10: the seek probe served from q156's index — q156 just built it
    # in this process, so this times the pruned READ path at each scale
    "q162_usage_probe_served",
    "q157_python_swift_elements",
    "q158_multilang_usage_resolution",
    # r9: the corpus code-views index — its served sync (extraction +
    # probe-layout write) lands in the first iteration, the min is the
    # file-pruned probe read
    "q161_code_views_index_probe",
    # r11: one member per served FAMILY index (defs/chunks/caps/imports)
    # — the first named query of a family pays that family's one-time
    # sync in its first iteration (visible in wall clock; the per-tag
    # cost is also a first-class bench number now, sync_sec), the min
    # is the steady-state read whose scaling these entries pin
    "q49_definition_views",
    "q98_brace_definitions",
    "q29_ast_chunks",
    "q48_structural_captures",
    "q151_import_indegree",
]

_SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def synthesize(spark) -> None:
    from cocoindex_spark.queries.registry import table

    os.makedirs(DST, exist_ok=True)
    for name in ["region", "nation"]:
        table(spark, SRC, name).write.mode("overwrite").parquet(
            os.path.join(DST, f"{name}.parquet")
        )
    for name, keys in _SHIFTS.items():
        base = table(spark, SRC, name)
        parts = []
        for r in range(REPLICAS):
            df = base
            for k in keys:
                df = df.withColumn(k, (F.col(k) + F.lit(r * STRIDE)).cast("long"))
            if name == "documents" and r > 0:
                df = df.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda w: F.concat(F.lit(f"r{r}"), w),
                        ),
                        " ",
                    ),
                )
            if name == "embeddings" and r > 0:
                df = df.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {r + 1}, size(embedding) - {r}),"
                        f" slice(embedding, 1, {r}))"
                    ),
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(DST, f"{name}.parquet"))
        print(f"synthesized {name}", flush=True)


def main() -> None:
    from cocoindex_spark.queries import all_queries
    from cocoindex_spark.session import get_spark

    spark = get_spark("sf1-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if "--rebuild" in sys.argv or not os.path.isdir(
        os.path.join(DST, "embeddings.parquet")
    ):
        synthesize(spark)

    queries = all_queries()
    results: dict[str, dict] = {}
    worst = 0.0
    for name in PROBE_QUERIES:
        fn = queries[name]
        t0 = time.perf_counter()
        fn(spark, SRC).collect()
        t_small = time.perf_counter() - t0
        t0 = time.perf_counter()
        n = len(fn(spark, DST).collect())
        t_big = time.perf_counter() - t0
        ratio = t_big / t_small if t_small > 0 else float("inf")
        worst = max(worst, ratio)
        results[name] = {
            "sf0.1_sec": round(t_small, 2),
            "sf1_sec": round(t_big, 2),
            "ratio": round(ratio, 2),
            "sf1_rows": n,
        }
        print(f"{name}: sf0.1 {t_small:.2f}s  sf1 {t_big:.2f}s  x{ratio:.1f}", flush=True)

    doc = {
        "sf_small": 0.1,
        "sf_big": 1.0,
        "replicas": REPLICAS,
        "worst_ratio": round(worst, 2),
        # 10x data: ratios well under ~12x mean no super-linear blowup
        # (fixed job-submission overhead amortizes, shuffles are keyed)
        "queries": results,
    }
    os.makedirs("bench_results", exist_ok=True)
    with open("bench_results/sf1_probe.json", "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"sf1_probe_worst_ratio": doc["worst_ratio"]}))


if __name__ == "__main__":
    main()
