"""Sketch queries — mergeable cardinality/frequency estimation over
the documents corpus (operators/sketch.py). At 100 TB exact
countDistinct shuffles every distinct token; the HLL register table is
m rows per group and merges with MAX, the Count-Min table is d·w rows
total and merges with SUM — bounded state regardless of corpus size,
the property that makes them per-partition/per-sync mergeable.

Both estimators are integer-deterministic (md5-prefix hashes, bitlength
ranks, exact-BIGINT harmonic sums) so the estimates — not just the
exact counts — are value-oracled cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cocoindex_spark.operators.bloom import (
    bloom_prefilter,
    bloom_words,
    sql_bloom_pass,
    sql_bloom_words,
)
from cocoindex_spark.operators.sketch import (
    cm_cells_from_counts,
    hist_cells,
    hist_quantiles,
    sql_hist_bucket,
    sql_hist_lower,
    cm_lookup,
    hll_estimate,
    hll_registers,
    sql_cm_cells,
    sql_cm_probe_cells,
    sql_hll_estimate,
    sql_hll_estimate_from_regs,
    sql_hll_registers,
)
from cocoindex_spark.queries.registry import register, served, table

_TOKENS_SQL = (
    "(SELECT source, UNNEST(string_split(trim(text), ' ')) AS tok FROM documents)"
)


# --- q102: per-source distinct-token cardinality — exact vs HLL.
#     The exact side is the oracle-of-record; the HLL side is the
#     operator under test: ~6.5% standard error from 256 registers per
#     source, and at scale the register table is what ships between
#     stages (merge = MAX per register), not the token stream.
@register(
    "q102_hll_distinct",
    oracle=f"""
WITH hll AS ({sql_hll_estimate(_TOKENS_SQL, "source", "tok")}),
exact AS (
  SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
  FROM {_TOKENS_SQL} GROUP BY source
)
SELECT e.source, e.exact_distinct, h.hll_estimate
FROM exact e JOIN hll h ON e.source = h.source
""",
)
def q102_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    regs = hll_registers(toks, ["source"], "tok")
    est = hll_estimate(regs, ["source"])
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("exact_distinct")
    )
    return exact.join(est, "source").select(
        "source", "exact_distinct", "hll_estimate"
    )


# --- q103: heavy hitters via Count-Min — the exact top-20 tokens with
#     their sketch estimates (cm_estimate ≥ exact by construction; the
#     gap is the sketch's collision overcount). The probe side is
#     d·20 cells broadcast onto the bounded (d·w)-row sketch — the
#     corpus is scanned once to build the sketch and never again.
@register(
    "q103_countmin_heavy_hitters",
    oracle=f"""
WITH toks AS (SELECT tok FROM {_TOKENS_SQL}),
sketch AS ({sql_cm_cells("toks", "tok")}),
top AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM toks GROUP BY tok
  ORDER BY exact_n DESC, tok LIMIT 20
),
cells AS ({sql_cm_probe_cells("top", "tok")}),
est AS (
  SELECT c.tok, CAST(MIN(s.n) AS BIGINT) AS cm_estimate
  FROM cells c JOIN sketch s ON c.row = s.row AND c.cell = s.cell
  GROUP BY c.tok
)
SELECT t.tok, t.exact_n, e.cm_estimate
FROM top t JOIN est e ON t.tok = e.tok
""",
)
def q103_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
    # Single corpus pass: the per-token count table feeds BOTH the
    # exact top-20 and the sketch (cell-identical to hashing every
    # occurrence, but md5 runs once per distinct token, spread across
    # the count shuffle's partitions — not once per occurrence on the
    # raw scan's input split, which for a small parquet is ONE task).
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    sketch = cm_cells_from_counts(counts, "tok", "cnt")
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(20)
        .select("tok", F.col("cnt").alias("exact_n"))
    )
    est = cm_lookup(sketch, top.select("tok"), "tok")
    return top.join(est, "tok").select("tok", "exact_n", "cm_estimate")


# --- q105: Bloom-filter runtime prefilter — the 100 TB semi-join
#     pattern. A selective dim subset (high-balance customers) becomes
#     a 256-bit OR-mergeable bitmap; the orders fact side probes it as
#     K broadcast joins (zero fact shuffles), and the exact join then
#     runs only over candidates. The output exposes the candidate /
#     exact / false-positive counts per priority class, so the
#     deterministic FP behavior itself is value-oracled. m=256 is the
#     didactic size (visible FPs at sf0.01); sizing m to the key count
#     is the knob, the plan shape is invariant.
_BLOOM_M_Q = 256
_b0c, _b0t = sql_bloom_pass("o.o_custkey", 0, _BLOOM_M_Q)
_b1c, _b1t = sql_bloom_pass("o.o_custkey", 1, _BLOOM_M_Q)


@register(
    "q105_bloom_prefilter_join",
    oracle=f"""
WITH dim AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9900),
words AS ({sql_bloom_words("dim", "c_custkey", _BLOOM_M_Q)}),
cand AS (
  SELECT o.o_orderpriority, o.o_custkey
  FROM orders o JOIN words w0 ON {_b0c} JOIN words w1 ON {_b1c}
  WHERE {_b0t} AND {_b1t}
)
SELECT c.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS bloom_candidates,
       CAST(SUM(CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS exact_matches,
       CAST(COUNT(*) - SUM(CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS false_positives
FROM cand c LEFT JOIN dim d ON c.o_custkey = d.c_custkey
GROUP BY c.o_orderpriority
""",
)
def q105_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_acctbal") > 9900).select("c_custkey")
    words = bloom_words(dim, "c_custkey", _BLOOM_M_Q)
    orders = table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    cand = bloom_prefilter(orders, "o_custkey", words, _BLOOM_M_Q)
    flagged = cand.join(
        F.broadcast(
            dim.select(F.col("c_custkey").alias("__dk"), F.lit(1).alias("__hit"))
        ),
        F.col("o_custkey") == F.col("__dk"),
        "left",
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("bloom_candidates"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("exact_matches"),
        )
        .withColumn(
            "false_positives",
            (F.col("bloom_candidates") - F.col("exact_matches")).cast("long"),
        )
    )


# --- q106: pairwise source-vocabulary overlap via HLL
#     inclusion-exclusion — the BOUNDED-STATE version of q89's overlap
#     matrix. Exact pairwise distinct-intersections at 100 TB shuffle
#     the full (token, source) relation once per consumer; here each
#     source is reduced to 256 registers, pair union = MAX-merge of
#     two register rows (190 pairs × ≤256 rows via a broadcast pair
#     list), and |A∩B| ≈ |A| + |B| − |A∪B| on the estimates. All
#     arithmetic is the integer-deterministic raw-HLL estimator, so
#     the approximate matrix itself is value-oracled cross-engine.
@register(
    "q106_hll_overlap_matrix",
    oracle=f"""
WITH regs AS ({sql_hll_registers(_TOKENS_SQL, "source", "tok")}),
srcs AS (SELECT DISTINCT source FROM regs),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
),
uregs AS (
  SELECT p.sa, p.sb, r.j, MAX(r.M) AS M
  FROM pairs p JOIN regs r ON r.source = p.sa OR r.source = p.sb
  GROUP BY p.sa, p.sb, r.j
),
uest AS ({sql_hll_estimate_from_regs("uregs", ["sa", "sb"])}),
sest AS ({sql_hll_estimate_from_regs("regs", ["source"])})
SELECT u.sa, u.sb,
       ea.hll_estimate AS a_distinct,
       eb.hll_estimate AS b_distinct,
       u.hll_estimate AS union_distinct,
       ea.hll_estimate + eb.hll_estimate - u.hll_estimate AS intersect_est
FROM uest u
JOIN sest ea ON ea.source = u.sa
JOIN sest eb ON eb.source = u.sb
""",
)
def q106_hll_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    regs = hll_registers(toks, ["source"], "tok")
    srcs = regs.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .join(srcs.select(F.col("source").alias("sb")), F.col("sa") < F.col("sb"))
    )
    # O(#pairs) broadcast onto the bounded register table; pair-union
    # registers then re-group with MAX — never touches the token stream.
    uregs = (
        regs.join(
            F.broadcast(pairs),
            (F.col("source") == F.col("sa")) | (F.col("source") == F.col("sb")),
        )
        .groupBy("sa", "sb", "j")
        .agg(F.max("M").alias("M"))
    )
    uest = hll_estimate(uregs, ["sa", "sb"]).withColumnRenamed(
        "hll_estimate", "union_distinct"
    )
    sest = hll_estimate(regs, ["source"])
    ea = sest.select(
        F.col("source").alias("sa"), F.col("hll_estimate").alias("a_distinct")
    )
    eb = sest.select(
        F.col("source").alias("sb"), F.col("hll_estimate").alias("b_distinct")
    )
    return (
        uest.join(F.broadcast(ea), "sa")
        .join(F.broadcast(eb), "sb")
        .select(
            "sa",
            "sb",
            "a_distinct",
            "b_distinct",
            "union_distinct",
            (
                F.col("a_distinct") + F.col("b_distinct") - F.col("union_distinct")
            ).alias("intersect_est"),
        )
    )


# --- q107: per-source length quantiles from the mergeable HDR-style
#     histogram (operators/sketch.py) vs exact rank-pick. Exact
#     percentiles at 100 TB need a full sort (or per-group rank
#     shuffle) per consumer; the histogram is ≤64·2^5 SUM-mergeable
#     rows per source, built in one pass, and its power-of-2/linear
#     sub-bucket decomposition is pure integer bit math — so the
#     ESTIMATES (bucket lower bounds, ≤3.1% relative error) are
#     value-oracled, not just the exact side.
_HIST_PS = (50, 90, 99)


def _sql_hist_est_branch(p: int) -> str:
    return (
        f"SELECT source, {p} AS p, MIN(bucket) AS b FROM cum"
        f" WHERE cum >= (tot * {p} + 99) // 100 GROUP BY source"
    )


def _sql_hist_exact_branch(p: int) -> str:
    return (
        f"SELECT source, {p} AS p,"
        f" CAST(MAX(CASE WHEN rn = (tot * {p} + 99) // 100 THEN n_chars END)"
        f" AS BIGINT) AS exact_q FROM ranked GROUP BY source"
    )


@register(
    "q107_hist_quantiles",
    oracle=f"""
WITH cells AS (
  SELECT source, {sql_hist_bucket("n_chars")} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, bucket
),
cum AS (
  SELECT source, bucket,
         SUM(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
         SUM(n) OVER (PARTITION BY source) AS tot
  FROM cells
),
est AS ({" UNION ALL ".join(_sql_hist_est_branch(p) for p in _HIST_PS)}),
ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS tot
  FROM documents
),
exact AS ({" UNION ALL ".join(_sql_hist_exact_branch(p) for p in _HIST_PS)})
SELECT e.source, e.p, e.exact_q, {sql_hist_lower('s.b')} AS est_q
FROM exact e JOIN est s ON e.source = s.source AND e.p = s.p
""",
)
def q107_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    cells = hist_cells(d, ["source"], "n_chars")
    est = hist_quantiles(cells, ["source"], list(_HIST_PS)).withColumnRenamed(
        "est", "est_q"
    )
    wr = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wp = Window.partitionBy("source")
    ranked = d.withColumn("rn", F.row_number().over(wr)).withColumn(
        "tot", F.count(F.lit(1)).over(wp)
    )
    parts = [
        ranked.filter(F.col("rn") == F.expr(f"(tot * {p} + 99) div 100")).select(
            "source", F.lit(p).alias("p"), F.col("n_chars").alias("exact_q")
        )
        for p in _HIST_PS
    ]
    exact = parts[0]
    for part in parts[1:]:
        exact = exact.unionByName(part)
    return exact.join(est, ["source", "p"]).select(
        "source", "p", "exact_q", "est_q"
    )


# --- q135/q136: SKETCHES AS SYNC-MAINTAINED INDEX TABLES — the
#     incremental twins of q102/q103 (same engine pattern as the LSH
#     band table, FTS postings, IVF cells, and the q99 signature
#     table). The target stores PER-DOCUMENT sketch contributions —
#     an edit recomputes exactly one doc's rows, a delete subtracts
#     its contribution exactly (a single global register/cell table
#     could not: HLL has no inverse, CM would need negative replay) —
#     and the query-time global sketch is a bounded rollup over the
#     maintained table: MAX per (source, register) for HLL, SUM per
#     (row, cell) for Count-Min. Both twins are VALUE-IDENTICAL to
#     their inline forms, so they share the inline oracle verbatim.
#     Maintenance semantics (edit → blast radius 1, delete-exact) are
#     pinned in tests/test_sketch_sync.py.
from cocoindex_spark.engine.function import fn as _coco_fn  # noqa: E402

# q102's token derivation verbatim (split with NO empty-filter): the
# rollup must be bit-identical to the inline sketch
_DOC_TOKS = "array_distinct(split(trim(text), ' '))"
_H48_OF_T = "CAST(conv(substring(md5(encode(t, 'UTF-8')), 1, 12), 16, 10) AS BIGINT)"


@_coco_fn(memo=True)
def _hll_contrib(df: DataFrame) -> DataFrame:
    # per-doc register contributions: one (j, rho) per distinct token,
    # bit-identical to operators/sketch hll_registers' hash/rank math.
    # The nested transform hashes each token ONCE (inlining the hash
    # into j and rho would run md5 three times per token).
    reg = (
        "struct(CAST(h % 256 AS BIGINT) AS j,"
        " CAST(CASE WHEN h div 256 > 0"
        " THEN 41 - length(bin(h div 256)) ELSE 41 END AS BIGINT) AS rho)"
    )
    return df.select(
        "__args_fp",
        "__component_path",
        "doc_id",
        "source",
        F.expr(
            f"transform(transform({_DOC_TOKS}, t -> {_H48_OF_T}), h -> {reg})"
        ).alias("regs"),
    )


@_coco_fn(memo=True)
def _cm_contrib(df: DataFrame) -> DataFrame:
    # per-doc (token, count) pairs over the UNFILTERED token list — the
    # per-doc counts SUM to the corpus counts, so the rolled CM cells
    # are cell-identical to cm_cells_from_counts over the global count
    # table. Counts come from an explode + (doc, tok) groupBy — linear,
    # partial-aggregated, keyed by the doc — NOT a per-distinct-token
    # array filter, which is quadratic in document length.
    toks = df.select(
        "__args_fp",
        "__component_path",
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("t"),
    )
    counts = toks.groupBy(
        "__args_fp", "__component_path", "doc_id", "t"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    cmh = (
        "CAST(conv(substring(md5(encode(concat('cm{i}#', t), 'UTF-8')), 1, 12),"
        " 16, 10) AS BIGINT) % 1024"
    )
    cells = ", ".join(
        f"struct({i} AS row, {cmh.format(i=i)} AS cell, n AS n)" for i in range(4)
    )
    return counts.select(
        "__args_fp",
        "__component_path",
        "doc_id",
        F.expr(f"array({cells})").alias("__cells4"),
    ).groupBy("__args_fp", "__component_path", "doc_id").agg(
        F.flatten(F.collect_list("__cells4")).alias("cells")
    )


@register(
    "q135_hll_sketch_read",
    oracle=f"""
WITH hll AS ({sql_hll_estimate(_TOKENS_SQL, "source", "tok")}),
exact AS (
  SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
  FROM {_TOKENS_SQL} GROUP BY source
)
SELECT e.source, e.exact_distinct, h.hll_estimate
FROM exact e JOIN hll h ON e.source = h.source
""",
)
def q135_hll_sketch_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")

    def build(app):
        t = app.target(
            f"{app.state.root}/hllidx",
            ["doc_id"],
            "doc_id LONG, source STRING, regs ARRAY<STRUCT<j BIGINT, rho BIGINT>>",
        )
        app.sync_table(
            d.select("doc_id", "source", "text"), ["doc_id"], _hll_contrib, t
        )
        return t

    # the GLOBAL per-source registers, rolled up from the served
    # per-doc contribution table
    regs = (
        served(spark, sf_dir, "hll", build)
        .read(spark)
        .select("source", F.explode("regs").alias("r"))
        .groupBy("source", F.col("r.j").alias("j"))
        .agg(F.max("r.rho").alias("M"))
    )
    est = hll_estimate(regs, ["source"])
    toks = d.select(
        "source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("exact_distinct")
    )
    return exact.join(est, "source").select(
        "source", "exact_distinct", "hll_estimate"
    )


@_coco_fn(memo=True)
def _cm_contrib_rows(df: DataFrame) -> DataFrame:
    """One row per (doc, row, cell) CM contribution — the exploded twin
    of _cm_contrib, keyed for the cell-probed storage layout (same-cell
    token collisions within a doc pre-sum here, so the target pk is
    unique)."""
    c = _cm_contrib(df)
    return (
        c.select(
            "__args_fp", "__component_path", "doc_id",
            F.explode("cells").alias("c"),
        )
        .groupBy(
            "__args_fp", "__component_path", "doc_id",
            F.col("c.row").alias("row"), F.col("c.cell").alias("cell"),
        )
        .agg(F.sum("c.n").cast("long").alias("n"))
    )


@register(
    "q136_cm_sketch_read",
    oracle=f"""
WITH toks AS (SELECT tok FROM {_TOKENS_SQL}),
sketch AS ({sql_cm_cells("toks", "tok")}),
top AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM toks GROUP BY tok
  ORDER BY exact_n DESC, tok LIMIT 20
),
cells AS ({sql_cm_probe_cells("top", "tok")}),
est AS (
  SELECT c.tok, CAST(MIN(s.n) AS BIGINT) AS cm_estimate
  FROM cells c JOIN sketch s ON c.row = s.row AND c.cell = s.cell
  GROUP BY c.tok
)
SELECT t.tok, t.exact_n, e.cm_estimate
FROM top t JOIN est e ON t.tok = e.tok
""",
)
def q136_cm_sketch_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seek-shaped CM point lookup over an engine-synced, CELL-probed
    contribution table (the q155-FTS treatment applied to sketch
    reads): the target is one row per (doc, row, cell) with a
    __probe=hash(cell)%64 partition level, so estimating k tokens
    reads ONLY the ≤ 4k probed cells' directories — planning-time file
    pruning — then sums exactly those cells and takes the per-token
    MIN. Cell-identical to the full-rollup path (every contribution to
    a probed cell lives in that cell's directories), so the oracle is
    unchanged. The exact top-20 is a function of the corpus alone, so
    the build computes it once and serves it, pinned on the driver,
    next to the target."""
    from cocoindex_spark.operators.sketch import cm_probe_cells
    from cocoindex_spark.session import to_local
    from cocoindex_spark.state.store import _PROBE_COL

    d = table(spark, sf_dir, "documents")

    def build(app):
        t = app.target(
            f"{app.state.root}/cmidx",
            ["doc_id", "row", "cell"],
            "doc_id LONG, row INT, cell BIGINT, n LONG",
        )
        t.declare_index("cm", "text", probe_col="cell", probe_buckets=64)
        app.sync_table(d.select("doc_id", "text"), ["doc_id"], _cm_contrib_rows, t)
        toks = d.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
        top = to_local(  # bounded: 20 rows
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("exact_n"))
            .orderBy(F.col("exact_n").desc(), F.col("tok"))
            .limit(20)
        )
        return t, top

    t, top = served(spark, sf_dir, "cm", build)
    cell_vals = [
        r["cell"]
        for r in cm_probe_cells(top, "tok").select("cell").distinct().collect()
    ]  # bounded: ≤ 20 tokens × CM_DEPTH rows
    pids = t.probe_partitions(spark, cell_vals)
    pruned = (
        t.read_indexed(spark)
        .filter(F.col(_PROBE_COL).isin(pids))
        .groupBy("row", "cell")
        .agg(F.sum("n").alias("n"))
    )
    est = cm_lookup(pruned, top.select("tok"), "tok")
    return top.join(est, "tok").select("tok", "exact_n", "cm_estimate")
