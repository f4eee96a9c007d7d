"""Text tokenization / shingling / hashing primitives shared by the
dedup and text-analysis operators.

All formulas exist twice — as Spark Column expressions and as DuckDB
SQL fragments — generated from the same constants so the oracle
hash-matches. md5 produces identical lowercase hex in both engines,
which is the cross-engine hash primitive everything here builds on.

Scale notes: everything is built from JVM-side built-ins (split,
transform, md5, explode) — no Python UDFs — so whole-stage codegen
applies, and shingle/minhash tables are (doc_id, value) DataFrames
that shuffle on the hash value (equi-join), never a cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def words(text: Column) -> Column:
    """Whitespace tokens (documents are single-spaced synthetic text)."""
    return F.split(F.trim(text), " ")


def sql_words(text: str) -> str:
    return f"string_split(trim({text}), ' ')"


def kgrams(w: Column, k: int) -> Column:
    """Sliding word k-grams (space-joined) over a token-array column.

    Built as a ``zip_with`` chain against shifted slices of the array —
    one linear pass per shift, O(k·n) total. The tempting alternative,
    ``transform(sequence(1, n-k+1), i -> element_at(w, i)...)``, embeds
    the *defining expression* of ``w`` into the lambda body, so an
    upstream ``split(text)`` is re-evaluated per element → O(k·n²) per
    row (measured 8× slower at 100-token docs). ``zip_with`` references
    ``w`` only in argument position, which is evaluated once per row.

    Tail positions (start > n-k+1) zip against nulls — ``concat_ws``
    drops them, producing short grams — and are sliced away.
    """
    n = F.size(w)
    out = w
    for j in range(1, k):
        out = F.zip_with(
            out,
            F.slice(w, j + 1, F.greatest(n - j, F.lit(0))),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return F.when(n >= k, F.slice(out, 1, F.greatest(n - (k - 1), F.lit(0)))).otherwise(
        F.expr("CAST(array() AS ARRAY<STRING>)")
    )


def shingles_expr(text_col: str, k: int = 3) -> Column:
    """Distinct word k-grams as an array column (empty if < k words)."""
    return F.array_distinct(kgrams(words(F.col(text_col)), k))


def md5_hex(col: Column) -> Column:
    return F.md5(F.encode(col, "UTF-8"))


def hex_to_int(col: Column, n_chars: int) -> Column:
    """Parse the first n hex chars of a lowercase hex string → BIGINT.

    ``conv(hex, 16, 10)`` — ONE evaluation of ``col``. The previous
    per-digit instr polynomial inlined ``col`` n_chars times, so a
    ``hex_to_int(md5(...), 12)`` evaluated the md5 twelve times per
    row (and the polynomial re-appeared verbatim in join keys and
    filters — q105's fact-side probe paid ~24 md5s/row). Values are
    identical: every call site passes an md5 hex string (≥ n_chars,
    lowercase), where base-16 digit folding and conv agree exactly and
    48 bits fit BIGINT. The DuckDB twin keeps the strpos spelling
    (no conv there) — cross-engine equality is pinned by the full
    oracle gate and tests/test_cross_engine.py.
    """
    return F.conv(F.substring(col, 1, n_chars), 16, 10).cast("long")


def sql_hex_to_int(expr: str, n_chars: int) -> str:
    out = "CAST(0 AS BIGINT)"
    for i in range(n_chars):
        out = f"({out} * 16 + (strpos('{HEX}', substr({expr}, {i + 1}, 1)) - 1))"
    return out


def token_hash16(col: Column) -> Column:
    """16-bit deterministic token hash: first 4 hex chars of md5."""
    return hex_to_int(md5_hex(col), 4)


def sql_token_hash16(expr: str) -> str:
    return sql_hex_to_int(f"md5({expr})", 4)


def simhash16(
    df: DataFrame, id_col: str, token_col: str, tokens_distinct: bool = False
) -> DataFrame:
    """16-bit SimHash per id from a (id, token) DataFrame.

    bit_j = 1 iff sum over distinct tokens of ±1 (sign of token-hash
    bit j) is > 0. Ties → 0, deterministic.

    ``tokens_distinct=True`` skips the (id, token) distinct — pass it
    when the caller already deduped per id (``array_distinct`` before
    the explode): that dedup is map-side and free, while the distinct
    here is a full extra shuffle of the token stream.
    """
    toks = df.select(id_col, F.col(token_col).alias("__tok"))
    if not tokens_distinct:
        toks = toks.distinct()
    toks = (
        toks
        .withColumn("__h", token_hash16(F.col("__tok")))
    )
    aggs = []
    for j in range(16):
        bit = F.expr(f"__h div {1 << j}") % 2
        contrib = F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))
        aggs.append(F.sum(contrib).alias(f"__s{j}"))
    summed = toks.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for j in range(16):
        sim = sim + F.when(F.col(f"__s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return summed.select(id_col, sim.alias("simhash"))


def sql_simhash16(token_table: str, id_col: str, token_col: str) -> str:
    """DuckDB twin of simhash16; ``token_table`` yields distinct (id, token)."""
    h = sql_token_hash16(token_col)
    s_cols = ", ".join(
        f"SUM(CASE WHEN (__h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS __s{j}"
        for j in range(16)
    )
    bits = " + ".join(f"(CASE WHEN __s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
  SELECT {id_col}, CAST({bits} AS BIGINT) AS simhash
  FROM (
    SELECT {id_col}, {s_cols}
    FROM (SELECT DISTINCT {id_col}, {token_col}, {h} AS __h FROM {token_table})
    GROUP BY {id_col}
  )
"""


def simhash_wide(
    df: DataFrame,
    id_col: str,
    token_col: str,
    n_bits: int = 60,
    tokens_distinct: bool = False,
) -> DataFrame:
    """Wide SimHash per id from a (id, token) DataFrame.

    The scale path past simhash16: a 16-bit signature space (65,536
    values) saturates once the corpus outgrows it — candidate pairs
    grow ~n²/2¹⁶. 60 bits (15 md5 hex chars) is the widest signature
    that stays strictly inside a signed 64-bit integer in BOTH engines
    (16 chars can set the sign bit: Java wraps, DuckDB errors — so 64
    exactly is not portable). With 4×15-bit bands, any pair within
    hamming distance 3 shares at least one intact band (pigeonhole).
    """
    if not 1 <= n_bits <= 60:
        raise ValueError("simhash_wide: n_bits must be in [1, 60]")
    # id_col may be a single column name or a composite key (the sync
    # engine's @fn transforms carry (__args_fp, __component_path, pk)).
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    n_hex = (n_bits + 3) // 4
    toks = df.select(*ids, F.col(token_col).alias("__tok"))
    if not tokens_distinct:
        # ``tokens_distinct=True`` callers deduped per id map-side
        # (array_distinct before the explode) — this distinct is a full
        # extra shuffle of the token stream, skip it then.
        toks = toks.distinct()
    toks = toks.withColumn("__h", hex_to_int(md5_hex(F.col("__tok")), n_hex))
    aggs = []
    for j in range(n_bits):
        bit = F.expr(f"__h div {1 << j}") % 2
        contrib = F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))
        aggs.append(F.sum(contrib).alias(f"__s{j}"))
    summed = toks.groupBy(*ids).agg(*aggs)
    sim = F.lit(0).cast("long")
    for j in range(n_bits):
        sim = sim + F.when(F.col(f"__s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return summed.select(*ids, sim.alias("simhash"))


def sql_simhash_wide(
    token_table: str, id_col: str, token_col: str, n_bits: int = 60
) -> str:
    """DuckDB twin of simhash_wide."""
    n_hex = (n_bits + 3) // 4
    h = sql_hex_to_int(f"md5({token_col})", n_hex)
    s_cols = ", ".join(
        f"SUM(CASE WHEN (__h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS __s{j}"
        for j in range(n_bits)
    )
    bits = " + ".join(
        f"(CASE WHEN __s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_bits)
    )
    return f"""
  SELECT {id_col}, CAST({bits} AS BIGINT) AS simhash
  FROM (
    SELECT {id_col}, {s_cols}
    FROM (SELECT DISTINCT {id_col}, {token_col}, {h} AS __h FROM {token_table})
    GROUP BY {id_col}
  )
"""


def hashed_shingles_expr(text_col: str, k: int = 3) -> Column:
    """Distinct word k-grams hashed to 48-bit BIGINTs (md5-prefix).

    The join/shuffle representation for dedup pipelines: an 8-byte key
    shuffles and compares much cheaper than a multi-word string, and
    both engines derive the identical value from the identical md5, so
    any (astronomically rare) collision is mirrored on the oracle side
    — cross-engine results stay bit-identical. Distinctness is applied
    AFTER hashing in both engines so a within-doc collision cannot
    produce asymmetric duplicates.
    """
    grams = kgrams(words(F.col(text_col)), k)
    hashed = F.transform(grams, lambda g: hex_to_int(md5_hex(g), 12))
    return F.array_distinct(hashed)


def sql_hashed_shingle_table(doc_table: str, id_col: str, text_col: str, k: int = 3) -> str:
    """DuckDB CTE body producing (id, g BIGINT) distinct hashed-shingle
    rows — the twin of ``hashed_shingles_expr`` exploded."""
    parts = " || ' ' || ".join(f"w[i + {j}]" for j in range(k))
    return f"""
  SELECT DISTINCT {id_col}, {sql_hex_to_int(f"md5({parts})", 12)} AS g
  FROM (SELECT {id_col}, {sql_words(text_col)} AS w FROM {doc_table})
  CROSS JOIN UNNEST(range(1, greatest(len(w) - {k - 1}, 0) + 1)) AS t(i)
  WHERE i + {k - 1} <= len(w)
"""


def hashed_shingles_arrow(text_col: str, k: int = 3) -> Column:
    """Arrow spelling of ``hashed_shingles_expr`` — same 48-bit md5-
    prefix values, order-preserving first-occurrence dedupe (matching
    ``array_distinct``), ~4× the interpreted expression chain on
    measured corpora. Python's md5 and the engines' md5 agree, so the
    oracle twin (``sql_hashed_shingle_table``) is unchanged."""
    import hashlib

    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    def _hash(s):
        out = []
        for arr in s:
            seen: list[int] = []
            seen_set: set[int] = set()
            for g in arr:
                v = int(hashlib.md5(g.encode()).hexdigest()[:12], 16)
                if v not in seen_set:
                    seen_set.add(v)
                    seen.append(v)
            out.append(seen)
        return pd.Series(out)

    _hash.__annotations__ = {"s": pd.Series, "return": pd.Series}
    grams = kgrams(words(F.col(text_col)), k)
    return F.pandas_udf(ArrayType(LongType()))(_hash)(grams)


def positional_window_hashes_arrow(text_col: str, k: int) -> Column:
    """Every word k-gram window as (pos, h) structs — 1-based word
    position, 48-bit md5-prefix hash. Arrow batch that builds the
    windows in ONE pass over the token list; the expression-chain
    alternative (``kgrams`` at k=16 = 15 stacked zip_with passes, each
    re-shuffling the interpreter) measured ~5× slower on q115's span
    sweep. Tokenization mirrors ``words()`` (trim + single-space
    split); Python's md5 and the engines' agree, so the SQL twin stays
    the strpos/array_to_string spelling."""
    import hashlib

    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    schema = ArrayType(
        StructType([StructField("pos", LongType()), StructField("h", LongType())])
    )

    def _win(s):
        out = []
        for txt in s:
            toks = txt.strip().split(" ") if txt is not None else []
            row = []
            join = " ".join
            md5 = hashlib.md5
            for i in range(len(toks) - k + 1):
                g = join(toks[i : i + k])
                row.append((i + 1, int(md5(g.encode()).hexdigest()[:12], 16)))
            out.append(row)
        return pd.Series(out)

    _win.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(schema)(_win)(F.col(text_col))


def sql_stem_lite(t: str) -> str:
    """Light suffix stemmer (plural/participle stripping with length
    guards — a deliberately rule-tiny Porter cousin) as a CASE chain in
    the SQL dialect SUBSET Spark and DuckDB share (length/substr/CASE),
    so the ONE string serves both engines verbatim: Spark via
    ``F.expr``, DuckDB in the oracle. Exactly one rule fires per token.
    """
    ln = f"length({t})"
    suf = lambda k: f"substr({t}, {ln} - {k - 1}, {k})"  # noqa: E731
    keep = lambda k: f"substr({t}, 1, {ln} - {k})"  # noqa: E731
    return (
        "CASE "
        f"WHEN {ln} >= 4 AND {suf(4)} = 'sses' THEN {keep(2)} "
        f"WHEN {ln} > 4 AND {suf(3)} = 'ies' THEN {keep(2)} "
        f"WHEN {ln} >= 2 AND {suf(2)} = 'ss' THEN {t} "
        f"WHEN {ln} > 3 AND {suf(1)} = 's' THEN {keep(1)} "
        f"WHEN {ln} > 5 AND {suf(3)} = 'ing' THEN {keep(3)} "
        f"WHEN {ln} > 4 AND {suf(2)} = 'ed' THEN {keep(2)} "
        f"ELSE {t} END"
    )
