"""Code-ops query pack: language detection + two-phase structural
pattern matching (SURVEY.md §2.3 `detect_code_language` /
`CodePattern.might_match`, §2.10 `CodePattern.match_source`).

The documents table has no file paths, so a path column is derived
deterministically from (source, doc_id) — identical arithmetic in the
Spark query and the DuckDB oracle — and the detection operator runs on
that derived column, exactly as it would on a real `binaryFile` scan's
`path` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cocoindex_spark.operators.code_ops import (
    detect_code_language,
    match_pattern,
    sql_detect_code_language,
)
from cocoindex_spark.queries.registry import register, served, table

_EXTS = ["py", "rs", "go", "js", "md", "sql", "java", "cpp", "yaml", "bin"]
_SQL_EXT_LIST = "[" + ", ".join(f"'{e}'" for e in _EXTS) + "]"


def _with_path(d: DataFrame) -> DataFrame:
    ext = F.element_at(
        F.array(*[F.lit(e) for e in _EXTS]), (F.col("doc_id") % 10 + 1).cast("int")
    )
    return d.withColumn(
        "path",
        F.concat(F.lit("repo/"), F.col("source"), F.lit("/f"), F.col("doc_id"), F.lit("."), ext),
    )


_SQL_PATH = (
    f"('repo/' || source || '/f' || doc_id || '.' || {_SQL_EXT_LIST}[CAST(doc_id % 10 AS INT) + 1])"
)


# --- q46: detect_code_language over a path column (broadcast CASE chain,
#     ops/text.py:20; language table prog_langs.rs) → counts per language
@register(
    "q46_code_language",
    oracle=f"""
SELECT {sql_detect_code_language(_SQL_PATH)} AS language, COUNT(*) AS n_files
FROM documents
GROUP BY 1
""",
)
def q46_code_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _with_path(table(spark, sf_dir, "documents"))
    return (
        d.select(detect_code_language(F.col("path")).alias("language"))
        .groupBy("language")
        .agg(F.count("*").alias("n_files"))
    )


# --- q47: two-phase pattern match (contains-prefilter → regex captures →
#     explode → group count), CodePattern.match_source + might_match
_PATTERN = r"(\w+) join"


@register(
    "q47_code_pattern",
    oracle=f"""
SELECT m AS match, COUNT(*) AS n
FROM (
  SELECT UNNEST(regexp_extract_all(text, '{_PATTERN}', 1)) AS m
  FROM documents
  WHERE contains(text, 'join')
)
GROUP BY m
""",
)
def q47_code_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    matched = match_pattern(d, "text", _PATTERN, capture_group=1, prefilter_tokens=["join"])
    return matched.groupBy(F.col("match")).agg(F.count("*").alias("n"))


# --- q48: STRUCTURAL pattern matching with metavariable captures
#     (CodePattern `\NAME` / `\(A*\)` syntax, ops/code.py:115-160;
#     rust/code_match/src/lexer.rs metavar table, matcher.rs node-snap
#     semantics — here the token/balanced-group matcher,
#     operators/code_match.py). A synthetic code corpus is derived
#     deterministically from doc_id — four shapes, two of which contain
#     a function definition — and the oracle reconstructs the expected
#     captures (function name, arg list, returned expr) independently
#     with pure string SQL, so any matcher deviation (wrong span, wrong
#     capture, missed/extra match) hash-diverges.
@register(
    "q48_structural_captures",
    oracle="""
SELECT doc_id,
  CASE WHEN doc_id % 4 = 0 THEN 'f' || CAST(doc_id AS VARCHAR)
       ELSE 'g' || CAST(doc_id AS VARCHAR) END AS fn_name,
  CASE WHEN doc_id % 4 = 0 THEN '' ELSE 'x, y=2' END AS args,
  CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id AS VARCHAR) ELSE 'x' END AS ret
FROM documents
WHERE doc_id % 4 IN (0, 1)
""",
)
def q48_structural_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the captures-family index (r11): the structural match
    # runs once at sync time; this read is a pure scan + filter.
    return _caps_read(spark, sf_dir, "q48").select(
        "doc_id",
        F.col("c1").alias("fn_name"),
        F.col("c2").alias("args"),
        F.col("c3").alias("ret"),
    )


# --- q29: AST-exact recursive chunking (rust/ops_text/src/split/
#     recursive.rs:591-650 tree-sitter path; here stdlib-ast-driven,
#     operators/pyast.py). Every synthetic source embeds a "def fake()"
#     INSIDE a triple-quoted string — a regex boundary hierarchy splits
#     there (wrong), the parse tree does not — so the oracle's
#     hand-reconstructed chunk spans only match when chunking is truly
#     AST-driven. chunk_size=70 forces exactly one split, at the start
#     of the second top-level def.
@register(
    "q29_ast_chunks",
    oracle="""
WITH parts AS (
  SELECT doc_id,
    'def a' || CAST(doc_id AS VARCHAR) || '():' || chr(10) ||
    '    s = ' || repeat(chr(34), 3) || chr(10) || 'def fake():' || chr(10) ||
    '    pass' || chr(10) || repeat(chr(34), 3) || chr(10) ||
    '    return s' || chr(10) AS p1,
    'def b' || CAST(doc_id AS VARCHAR) || '():' || chr(10) ||
    '    return ' || CAST(doc_id AS VARCHAR) || chr(10) AS p2
  FROM documents
)
SELECT doc_id, 0 AS chunk_idx, md5(p1 || chr(10)) AS chunk_md5,
       0 AS start_char, CAST(strlen(p1) + 1 AS INT) AS end_char
FROM parts
UNION ALL
SELECT doc_id, 1, md5(p2),
       CAST(strlen(p1) + 1 AS INT), CAST(strlen(p1) + 1 + strlen(p2) AS INT)
FROM parts
""",
)
def q29_ast_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the chunks-family index (r11, see _served_family_index):
    # the AST-driven split runs once at sync time; this read is a pure
    # parquet scan + pushed qtag filter — zero Python nodes.
    return _chunks_read(spark, sf_dir, "q29")


# --- q79: AST-exact definition views — q49's adversarial twin. Every
#     synthetic source hides a fake def inside a docstring and a fake
#     class inside a comment; the token-matcher path would report both,
#     the stdlib-ast path (operators/pyast.py via definitions()) reports
#     exactly the real ones with exact end-exclusive spans. The oracle
#     reconstructs (kind, name, span_chars) by string arithmetic.
@register(
    "q79_ast_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    'def real' || CAST(doc_id AS VARCHAR) || '(x):' || chr(10) ||
    '    s = ' || repeat(chr(34), 3) || chr(10) ||
    'def fake():' || chr(10) || '    pass' || chr(10) ||
    repeat(chr(34), 3) || chr(10) ||
    '    # class Fake2: pass' || chr(10) ||
    '    return s' || chr(10) AS fn_text,
    'class C' || CAST(doc_id AS VARCHAR) || ':' || chr(10) ||
    '    tag = "def not_a_def(): pass"' || chr(10) AS cls_text
  FROM documents
)
SELECT doc_id, 'function' AS def_kind,
       'real' || CAST(doc_id AS VARCHAR) AS def_name,
       CAST(strlen(fn_text) - 1 AS BIGINT) AS span_chars
FROM src
UNION ALL
SELECT doc_id, 'class', 'C' || CAST(doc_id AS VARCHAR),
       CAST(strlen(cls_text) - 1 AS BIGINT)
FROM src
""",
)
def q79_ast_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q79").select(
        "doc_id",
        "def_kind",
        "def_name",
        (F.col("def_end") - F.col("def_start")).alias("span_chars"),
    )


# --- q49: definition views (the code_ast region classification,
#     rust/code_ast/src/view/lang.rs classify/is_region → named
#     function/class/type regions; here operators/code_match.py
#     `definitions` over the token matcher). Synthetic per-doc snippets
#     in three languages with known definition sets; the oracle
#     reconstructs the expected (kind, name) rows with pure SQL.
@register(
    "q49_definition_views",
    oracle="""
SELECT doc_id, def_kind, def_name FROM (
  SELECT doc_id, 'function' AS def_kind, 'p' || CAST(doc_id AS VARCHAR) AS def_name
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, 'class', 'C' || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, 'function', 'g' || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id, 'type', 'T' || CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 3 = 1
)
""",
)
def q49_definition_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11, see _served_family_index):
    # extraction runs once at sync time; this read is a pure parquet
    # scan + pushed qtag filter — zero Python nodes, no unions.
    return _defs_read(spark, sf_dir, "q49").select(
        "doc_id", "def_kind", "def_name"
    )


# --- q98: lexer-exact definitions for a brace language (Rust) — the
#     q29/q79 guarantee extended past Python: a `fn` inside a string
#     literal, a `// fn` line comment, or a `/* struct */` block comment
#     is NEVER a definition, because the comment/string-stripping token
#     stream (operators/code_boundaries.py brace_definitions) already
#     dropped it — the failure mode of regex definition patterns.
#     Spans are full regions (keyword statement → matching `}` or `;`),
#     the shape tree-sitter yields (reference:
#     rust/code_ast/src/view/lang.rs region classification). Executes
#     as one Arrow-batched pandas_udf pass — per-row, no shuffle.
@register(
    "q98_brace_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    'pub fn real' || CAST(doc_id AS VARCHAR) || '(x: i64) -> i64 {' || chr(10) ||
    '    let s = "fn fake_str() {}";' || chr(10) ||
    '    // fn fake_line() {}' || chr(10) ||
    '    /* struct FakeBlock; */' || chr(10) ||
    '    x + 1' || chr(10) || '}' || chr(10) AS p1,
    'struct Point' || CAST(doc_id AS VARCHAR) || ';' || chr(10) AS p2,
    'trait Greet' || CAST(doc_id AS VARCHAR) || ' {' || chr(10) ||
    '    fn hello(&self);' || chr(10) || '}' || chr(10) AS p3
  FROM documents
)
SELECT doc_id, 'function' AS def_kind, 'real' || sid AS def_name,
       CAST(0 AS BIGINT) AS def_start, CAST(strlen(p1) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'struct', 'Point' || sid,
       CAST(strlen(p1) AS BIGINT), CAST(strlen(p1) + strlen(p2) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'trait', 'Greet' || sid,
       CAST(strlen(p1) + strlen(p2) AS BIGINT),
       CAST(strlen(p1) + strlen(p2) + strlen(p3) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'function', 'hello',
       CAST(strlen(p1) + strlen(p2) + 18 + strlen(sid) AS BIGINT),
       CAST(strlen(p1) + strlen(p2) + 34 + strlen(sid) AS BIGINT)
FROM src
""",
)
def q98_brace_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q98").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q100: lexer-exact recursive chunking for a brace language (Rust)
#     — q29's guarantee past Python: the chunk boundary between the two
#     functions comes from the comment/string-stripping TOKEN stream
#     (operators/code_boundaries.py brace_boundaries via
#     split_recursive), so the `fn` inside the first function's string
#     literal is never a split point — the regex-hierarchy failure mode
#     this oracle pins. Arrow-batched split + explode, shuffle-free.
@register(
    "q100_brace_chunks",
    oracle="""
WITH parts AS (
  SELECT doc_id,
    'fn a' || CAST(doc_id AS VARCHAR) || '() -> i64 {' || chr(10) ||
    '    let s = "fn fake() {}";' || chr(10) ||
    '    1' || chr(10) || '}' || chr(10) AS p1,
    'fn b' || CAST(doc_id AS VARCHAR) || '() -> i64 {' || chr(10) ||
    '    2' || chr(10) || '}' || chr(10) AS p2
  FROM documents
)
SELECT doc_id, 0 AS chunk_idx, md5(p1 || chr(10)) AS chunk_md5,
       0 AS start_char, CAST(strlen(p1) + 1 AS INT) AS end_char
FROM parts
UNION ALL
SELECT doc_id, 1, md5(p2),
       CAST(strlen(p1) + 1 AS INT), CAST(strlen(p1) + 1 + strlen(p2) AS INT)
FROM parts
""",
)
def q100_brace_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the chunks-family index (r11): pure scan + filter.
    return _chunks_read(spark, sf_dir, "q100")


# --- q108: template-literal-exact chunking for JavaScript — the q100
#     guarantee extended to the string form only a real lexer can see:
#     the first function holds a template literal containing a fake
#     `function` AND an interpolation `${ {x: 1} }` whose inner braces
#     would desync a naive depth counter (the regex-hierarchy failure
#     mode AND the plain-string-lexer failure mode at once). The token
#     stream (code_match._scan_template) carries the whole template as
#     one string token, so the only depth-0 boundary is the real
#     `function b` line. Arrow-batched split + explode, shuffle-free.
@register(
    "q108_template_literal_chunks",
    oracle="""
WITH parts AS (
  SELECT doc_id,
    'function a' || CAST(doc_id AS VARCHAR) || '() {' || chr(10) ||
    '  const s = `function fake() {} ${ {x: 1} } more`;' || chr(10) ||
    '  return 1;' || chr(10) || '}' || chr(10) AS p1,
    'function b' || CAST(doc_id AS VARCHAR) || '() {' || chr(10) ||
    '  return 2;' || chr(10) || '}' || chr(10) AS p2
  FROM documents
)
SELECT doc_id, 0 AS chunk_idx, md5(p1 || chr(10)) AS chunk_md5,
       0 AS start_char, CAST(strlen(p1) + 1 AS INT) AS end_char
FROM parts
UNION ALL
SELECT doc_id, 1, md5(p2),
       CAST(strlen(p1) + 1 AS INT), CAST(strlen(p1) + 1 + strlen(p2) AS INT)
FROM parts
""",
)
def q108_template_literal_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the chunks-family index (r11): pure scan + filter.
    return _chunks_read(spark, sf_dir, "q108")


# --- q110: lexer-exact C definitions under preprocessor fire — the
#     q98 guarantee extended to C, whose failure modes are different:
#     a `#define` body containing a fake struct AND an unbalanced `{`
#     (with a backslash continuation) must neither define a region nor
#     corrupt the brace depth, because the whole directive lexes as ONE
#     token (code_match._scan_preproc; tree-sitter's C grammar likewise
#     parses directives as single preproc nodes). Keywordless C
#     functions come from the `name(args) {` header pass, and typedef
#     names resolve to the identifier BEFORE the terminating `;`
#     (operators/code_boundaries.py; reference:
#     rust/code_ast/src/view/lang.rs C region classification).
@register(
    "q110_c_preproc_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid,
    '#define MK(x) struct Fake##x { int v; } \\' || chr(10) ||
    '    extra(y) {' || chr(10) AS p0,
    'struct Point' || CAST(doc_id AS VARCHAR) || ' { int x; };' || chr(10) AS p1,
    'static int add' || CAST(doc_id AS VARCHAR) || '(int a, int b) {' || chr(10) ||
    '    const char *s = "struct FakeStr { int z; };";' || chr(10) ||
    '    /* union FakeCmt; */' || chr(10) ||
    '    return a + b;' || chr(10) || '}' || chr(10) AS p2,
    'typedef struct { int q; } handle' || CAST(doc_id AS VARCHAR) || '_t;' || chr(10) AS p3
  FROM documents
)
SELECT doc_id, 'struct' AS def_kind, 'Point' || sid AS def_name,
       CAST(strlen(p0) AS BIGINT) AS def_start,
       CAST(strlen(p0) + strlen(p1) - 2 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'function', 'add' || sid,
       CAST(strlen(p0) + strlen(p1) AS BIGINT),
       CAST(strlen(p0) + strlen(p1) + strlen(p2) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'type', 'handle' || sid || '_t',
       CAST(strlen(p0) + strlen(p1) + strlen(p2) AS BIGINT),
       CAST(strlen(p0) + strlen(p1) + strlen(p2) + strlen(p3) - 1 AS BIGINT)
FROM src
""",
)
def q110_c_preproc_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q110").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q111: lexer-exact definitions for a keyword-block language (Ruby)
#     — the q98 guarantee extended past braces: blocks close with `end`,
#     so region spans come from a STACK of opener keywords over the
#     comment/string-exact token stream
#     (operators/code_boundaries.py keyword_block_definitions). The
#     oracle pins the three forms only a lexer can get right: a `def`
#     inside a squiggly heredoc (ONE string token), a `# def` comment,
#     a `"def"` string — none defines; a modifier `if` (`x = 1 if y`)
#     opens no block, so the enclosing spans stay exact; an endless
#     `def ping = 1` ends at its line, consuming no `end`. Reference:
#     tree-sitter ruby region classification,
#     rust/code_ast/src/view/lang.rs. One Arrow pass, no shuffle.
@register(
    "q111_ruby_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    'module Api' || CAST(doc_id AS VARCHAR) || chr(10) ||
    '  DOC = <<~EOT' || chr(10) ||
    '    def fake_heredoc' || chr(10) ||
    '  EOT' || chr(10) AS head,
    '  def get' || CAST(doc_id AS VARCHAR) || '(x)' || chr(10) ||
    '    s = "def fake_str"' || chr(10) ||
    '    # def fake_line' || chr(10) ||
    '    x = 1 if x' || chr(10) ||
    '  end' || chr(10) AS defpart,
    'end' || chr(10) AS tail,
    'def ping' || CAST(doc_id AS VARCHAR) || ' = 1' || chr(10) AS p2
  FROM documents
)
SELECT doc_id, 'module' AS def_kind, 'Api' || sid AS def_name,
       CAST(0 AS BIGINT) AS def_start,
       CAST(strlen(head) + strlen(defpart) + strlen(tail) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'function', 'get' || sid,
       CAST(strlen(head) + 2 AS BIGINT),
       CAST(strlen(head) + strlen(defpart) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'function', 'ping' || sid,
       CAST(strlen(head) + strlen(defpart) + strlen(tail) AS BIGINT),
       CAST(strlen(head) + strlen(defpart) + strlen(tail) + strlen(p2) - 1 AS BIGINT)
FROM src
""",
)
def q111_ruby_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q111").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q112: lexer-exact definitions for Lua — `function…end` regions
#     balanced through nested if/then and for/do blocks (one `end`
#     each, `elseif…then` opens nothing), with Lua's long brackets
#     lexing as single tokens: a `function` inside `--[[ … ]]` or
#     `[[ … ]]` never defines. `local` is the modifier, included in
#     the span like `pub fn`. Same machinery and oracle style as q111.
@register(
    "q112_lua_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    '--[[ function fake_comment() end ]]' || chr(10) ||
    's = [[ function fake_str() end ]]' || chr(10) AS p1,
    'local function calc' || CAST(doc_id AS VARCHAR) || '(x)' || chr(10) ||
    '  if x > 0 then' || chr(10) ||
    '    return x' || chr(10) ||
    '  elseif x < 0 then' || chr(10) ||
    '    return -x' || chr(10) ||
    '  end' || chr(10) ||
    'end' || chr(10) AS p2,
    'function M.run' || CAST(doc_id AS VARCHAR) || '(y)' || chr(10) ||
    '  for i = 1, y do' || chr(10) ||
    '    y = y - 1' || chr(10) ||
    '  end' || chr(10) ||
    'end' || chr(10) AS p3
  FROM documents
)
SELECT doc_id, 'function' AS def_kind, 'calc' || sid AS def_name,
       CAST(strlen(p1) AS BIGINT) AS def_start,
       CAST(strlen(p1) + strlen(p2) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'function', 'M.run' || sid,
       CAST(strlen(p1) + strlen(p2) AS BIGINT),
       CAST(strlen(p1) + strlen(p2) + strlen(p3) - 1 AS BIGINT)
FROM src
""",
)
def q112_lua_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q112").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q122: lexer-exact definitions for Julia — end-terminated blocks
#     over the same comment/string-exact token stream (keyword_block
#     machinery): triple-quoted strings, NESTED #= =# block comments,
#     and backtick command literals each lex as ONE token so a
#     `function` inside them never defines; `x[end]` indexing and
#     bracket-comprehension `for` never desync the block stack;
#     `mutable struct` starts at its modifier; short-form
#     `f(x) = expr` defs span exactly their line. Reference:
#     tree-sitter julia region table, rust/code_ast/src/view/lang.rs.
@register(
    "q122_julia_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    'module Api' || CAST(doc_id AS VARCHAR) || chr(10) ||
    'DOC = ' || repeat(chr(34), 3) || chr(10) ||
    'function fake_triple' || chr(10) ||
    repeat(chr(34), 3) || chr(10) ||
    '# function fake_line' || chr(10) AS head,
    'function get' || CAST(doc_id AS VARCHAR) || '(x)' || chr(10) ||
    '    y = x[end]' || chr(10) ||
    '    s = "function fake_str"' || chr(10) ||
    'end' || chr(10) AS fn,
    'mutable struct Point' || CAST(doc_id AS VARCHAR) || chr(10) ||
    '    x::Int' || chr(10) ||
    'end' || chr(10) AS st,
    'end' || chr(10) AS tail,
    'short' || CAST(doc_id AS VARCHAR) || '(x) = x + 1' || chr(10) AS p2
  FROM documents
)
SELECT doc_id, 'module' AS def_kind, 'Api' || sid AS def_name,
       CAST(0 AS BIGINT) AS def_start,
       CAST(strlen(head) + strlen(fn) + strlen(st) + strlen(tail) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'function', 'get' || sid,
       CAST(strlen(head) AS BIGINT),
       CAST(strlen(head) + strlen(fn) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'struct', 'Point' || sid,
       CAST(strlen(head) + strlen(fn) AS BIGINT),
       CAST(strlen(head) + strlen(fn) + strlen(st) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'function', 'short' || sid,
       CAST(strlen(head) + strlen(fn) + strlen(st) + strlen(tail) AS BIGINT),
       CAST(strlen(head) + strlen(fn) + strlen(st) + strlen(tail) + strlen(p2) - 1 AS BIGINT)
FROM src
""",
)
def q122_julia_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q122").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q123: lexer-exact definitions for R — assignment-form functions
#     (`name <- function(…) {…}`, also `=` and `<<-`), which no
#     keyword table can catch. Comment/string fakes never define; the
#     lexer splits `<-` into `<`,`-` and the matcher requires the two
#     tokens ADJACENT, so a spaced `x < - 3` comparison is not an
#     arrow; single-expression bodies span exactly their line.
#     Reference: tree-sitter R function_definition under a binding
#     (rust/code_ast/src/view/lang.rs).
@register(
    "q123_r_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    '# fake <- function(x)' || chr(10) ||
    's <- "fake <- function(y)"' || chr(10) AS head,
    'helper' || CAST(doc_id AS VARCHAR) || ' <- function(a) {' || chr(10) || '  ' AS h1,
    'inner' || CAST(doc_id AS VARCHAR) || ' <- function(z) {' || chr(10) ||
    '    z + 1' || chr(10) || '  }' AS ip,
    chr(10) || '  inner' || CAST(doc_id AS VARCHAR) || '(a)' || chr(10) || '}' || chr(10) AS h2,
    'short' || CAST(doc_id AS VARCHAR) || ' = function(z) z * 2' || chr(10) AS p2
  FROM documents
)
SELECT doc_id, 'function' AS def_kind, 'helper' || sid AS def_name,
       CAST(strlen(head) AS BIGINT) AS def_start,
       CAST(strlen(head) + strlen(h1) + strlen(ip) + strlen(h2) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'function', 'inner' || sid,
       CAST(strlen(head) + strlen(h1) AS BIGINT),
       CAST(strlen(head) + strlen(h1) + strlen(ip) AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'function', 'short' || sid,
       CAST(strlen(head) + strlen(h1) + strlen(ip) + strlen(h2) AS BIGINT),
       CAST(strlen(head) + strlen(h1) + strlen(ip) + strlen(h2) + strlen(p2) - 1 AS BIGINT)
FROM src
""",
)
def q123_r_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q123").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q124: lexer-exact definitions for SQL DDL — CREATE-statement
#     regions through their terminating `;`, with `--`/`/* */`
#     comments and dollar-quoted bodies lexing as single tokens (a
#     `create table` in a comment or $tag$ body never defines, and a
#     `;` inside a function body never cuts the region early);
#     case-insensitive keywords, OR REPLACE / IF NOT EXISTS / UNIQUE
#     skipped, dotted schema.name kept. Reference: tree-sitter SQL
#     region table, rust/code_ast/src/view/lang.rs.
@register(
    "q124_sql_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    '-- create table fake_line (x int);' || chr(10) AS head,
    'CREATE TABLE users' || CAST(doc_id AS VARCHAR) ||
    ' (id BIGINT, note VARCHAR DEFAULT ''create view fake_str'');' || chr(10) AS t1,
    '/* create index fake_block; */' || chr(10) AS c2,
    'CREATE OR REPLACE VIEW api.v' || CAST(doc_id AS VARCHAR) ||
    ' AS SELECT 1;' || chr(10) AS t2,
    'CREATE FUNCTION f' || CAST(doc_id AS VARCHAR) ||
    '() RETURNS BIGINT AS $body$ SELECT 1; -- fake' || chr(10) ||
    '$body$ LANGUAGE sql;' || chr(10) AS t3
  FROM documents
)
SELECT doc_id, 'table' AS def_kind, 'users' || sid AS def_name,
       CAST(strlen(head) AS BIGINT) AS def_start,
       CAST(strlen(head) + strlen(t1) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'view', 'api.v' || sid,
       CAST(strlen(head) + strlen(t1) + strlen(c2) AS BIGINT),
       CAST(strlen(head) + strlen(t1) + strlen(c2) + strlen(t2) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'function', 'f' || sid,
       CAST(strlen(head) + strlen(t1) + strlen(c2) + strlen(t2) AS BIGINT),
       CAST(strlen(head) + strlen(t1) + strlen(c2) + strlen(t2) + strlen(t3) - 1 AS BIGINT)
FROM src
""",
)
def q124_sql_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q124").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q125: Markdown section regions — a heading opens a region that
#     runs to the next same-or-higher heading; fenced code blocks are
#     opaque, so a `# fake heading` inside ``` … ``` neither starts a
#     section nor ends one early. The document-structure view the
#     reference's markdown tree-sitter grammar provides
#     (rust/code_ast/src/view/lang.rs; chunking table docs/ops/
#     text.mdx) — and the split hierarchy markdown chunking hangs off.
@register(
    "q125_markdown_sections",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    '# Title' || CAST(doc_id AS VARCHAR) || chr(10) ||
    'intro' || chr(10) ||
    '```python' || chr(10) ||
    '# fake heading in fence' || chr(10) ||
    '```' || chr(10) AS head,
    '## Sub' || CAST(doc_id AS VARCHAR) || chr(10) ||
    'body' || chr(10) AS sub,
    '# Next' || CAST(doc_id AS VARCHAR) || chr(10) ||
    'tail' || chr(10) AS nxt
  FROM documents
)
SELECT doc_id, 'h1' AS def_kind, 'Title' || sid AS def_name,
       CAST(0 AS BIGINT) AS def_start,
       CAST(strlen(head) + strlen(sub) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'h2', 'Sub' || sid,
       CAST(strlen(head) AS BIGINT),
       CAST(strlen(head) + strlen(sub) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'h1', 'Next' || sid,
       CAST(strlen(head) + strlen(sub) AS BIGINT),
       CAST(strlen(head) + strlen(sub) + strlen(nxt) - 1 AS BIGINT)
FROM src
""",
)
def q125_markdown_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q125").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q128: HTML element regions — document structure for the markup
#     family (html, and the vue/svelte/astro component containers):
#     elements at depth ≤ 2, name = tag or tag#id. Opaque spans pinned
#     by the oracle: a literal </div> inside a <script> body and a
#     commented-out <div> never pop or push the stack; a '>' inside a
#     quoted attribute never truncates its tag; void elements never
#     open. Reference: tree-sitter html grammar regions,
#     rust/code_ast/src/view/lang.rs.
@register(
    "q128_html_regions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    '<body>' || chr(10) AS b0,
    '<script>var s = "</div><div id=' || chr(39) || 'fake' || chr(39) || '>";</script>' || chr(10) AS sc,
    '<!-- <div id="fake2"> -->' || chr(10) AS cm,
    '<div id="m' || CAST(doc_id AS VARCHAR) || '"><p>x</p></div>' || chr(10) AS dv,
    '</body>' || chr(10) AS b1
  FROM documents
)
SELECT doc_id, 'body' AS def_kind, 'body' AS def_name,
       CAST(0 AS BIGINT) AS def_start,
       CAST(strlen(b0) + strlen(sc) + strlen(cm) + strlen(dv) + strlen(b1) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'script', 'script',
       CAST(strlen(b0) AS BIGINT),
       CAST(strlen(b0) + strlen(sc) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'div', 'div#m' || sid,
       CAST(strlen(b0) + strlen(sc) + strlen(cm) AS BIGINT),
       CAST(strlen(b0) + strlen(sc) + strlen(cm) + strlen(dv) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'p', 'p',
       CAST(strlen(b0) + strlen(sc) + strlen(cm) + strlen('<div id="m' || sid || '">') AS BIGINT),
       CAST(strlen(b0) + strlen(sc) + strlen(cm) + strlen('<div id="m' || sid || '"><p>x</p>') AS BIGINT)
FROM src
""",
)
def q128_html_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q128").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q129: TOML/YAML config sections — the data-config half of the
#     reference's 31-language table. TOML `[table]`/`[[array]]`
#     headers through the next header, with multiline strings opaque
#     (a `[fake]` inside `\"\"\"…\"\"\"` never starts a region); YAML
#     column-0 keys through the next key, with block scalars opaque
#     (a `fake:` line inside `key: |` never starts one). One query
#     pins both walkers: per doc, the TOML sections of a synthesized
#     config and the YAML keys of its mirror.
@register(
    "q129_config_sections",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    'title = "x"' || chr(10) AS t0,
    '[server' || CAST(doc_id AS VARCHAR) || ']' || chr(10) ||
    'doc = ' || repeat(chr(34), 3) || chr(10) ||
    '[fake]' || chr(10) ||
    repeat(chr(34), 3) || chr(10) AS t1,
    '[[jobs]]' || chr(10) || 'n = 1' || chr(10) AS t2,
    'top: 1' || chr(10) AS y0,
    'script: |' || chr(10) || '  fake: in block' || chr(10) AS y1,
    'last: 2' || chr(10) AS y2
  FROM documents
)
SELECT doc_id, 'toml' AS fmt, 'table' AS def_kind, 'server' || sid AS def_name,
  CAST(strlen(t0) AS BIGINT) AS def_start,
  CAST(strlen(t0) + strlen(t1) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'toml', 'array_table', 'jobs',
  CAST(strlen(t0) + strlen(t1) AS BIGINT),
  CAST(strlen(t0) + strlen(t1) + strlen(t2) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'yaml', 'key', 'top',
  CAST(0 AS BIGINT), CAST(strlen(y0) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'yaml', 'key', 'script',
  CAST(strlen(y0) AS BIGINT),
  CAST(strlen(y0) + strlen(y1) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'yaml', 'key', 'last',
  CAST(strlen(y0) + strlen(y1) AS BIGINT),
  CAST(strlen(y0) + strlen(y1) + strlen(y2) - 1 AS BIGINT)
FROM src
""",
)
def q129_config_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter;
    # the stored lang column IS the fmt discriminator.
    return _defs_read(spark, sf_dir, "q129").select(
        "doc_id", F.col("lang").alias("fmt"), "def_kind", "def_name",
        "def_start", "def_end"
    )


# --- q130: CSS rule regions — `selector { … }` rules at depth ≤ 1
#     (and one level inside at-rule blocks), comments and quoted
#     string values opaque: a commented-out rule never opens, a `}`
#     inside a content string never closes, a blockless @import emits
#     nothing. Reference: tree-sitter css grammar regions,
#     rust/code_ast/src/view/lang.rs.
@register(
    "q130_css_regions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    '/* .fake { } */' || chr(10) AS c0,
    '.btn' || CAST(doc_id AS VARCHAR) || ' {' || chr(10) ||
    '  content: "} .fake2 {";' || chr(10) ||
    '}' || chr(10) AS r1,
    '@media (min-width: 10px) {' || chr(10) ||
    '  .nav' || CAST(doc_id AS VARCHAR) || ' { display: none; }' || chr(10) ||
    '}' || chr(10) AS r2
  FROM documents
)
SELECT doc_id, 'rule' AS def_kind, '.btn' || sid AS def_name,
  CAST(strlen(c0) AS BIGINT) AS def_start,
  CAST(strlen(c0) + strlen(r1) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'media', '@media (min-width: 10px)',
  CAST(strlen(c0) + strlen(r1) AS BIGINT),
  CAST(strlen(c0) + strlen(r1) + strlen(r2) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'rule', '.nav' || sid,
  CAST(strlen(c0) + strlen(r1) + strlen('@media (min-width: 10px) {') + 3 AS BIGINT),
  CAST(strlen(c0) + strlen(r1) + strlen(r2) - strlen(chr(10) || '}' || chr(10)) AS BIGINT)
FROM src
""",
)
def q130_css_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q130").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q131: Fortran program-unit regions + JSON top-level keys — the
#     last in-reach rows of the 31-language table. Fortran:
#     case-insensitive module/function/subroutine/program … end
#     blocks, `!` comments and quoted strings opaque, `end function
#     name` pops exactly one frame. JSON: top-level keys spanning
#     their full value with string-opaque brace tracking (a `}`
#     inside a string value never moves the scanner).
@register(
    "q131_fortran_json_regions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    '! subroutine fake' || chr(10) AS f0,
    'module geo' || CAST(doc_id AS VARCHAR) || chr(10) || 'contains' || chr(10) AS f1,
    '  function area' || CAST(doc_id AS VARCHAR) || '(r)' || chr(10) ||
    '    s = "subroutine fake_str"' || chr(10) ||
    '  end function' || chr(10) AS f2,
    'end module' || chr(10) AS f3,
    '{' || chr(10) || '  "name": "x}y",' || chr(10) AS j0,
    '  "deps' || CAST(doc_id AS VARCHAR) || '": {"fake": "}"}' || chr(10) AS j1
  FROM documents
)
SELECT doc_id, 'fortran' AS fmt, 'module' AS def_kind, 'geo' || sid AS def_name,
  CAST(strlen(f0) AS BIGINT) AS def_start,
  CAST(strlen(f0) + strlen(f1) + strlen(f2) + strlen(f3) - 1 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'fortran', 'function', 'area' || sid,
  CAST(strlen(f0) + strlen(f1) + 2 AS BIGINT),
  CAST(strlen(f0) + strlen(f1) + strlen(f2) - 1 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'json', 'key', 'name',
  CAST(strlen('{' || chr(10) || '  ') AS BIGINT),
  CAST(strlen(j0) - 2 AS BIGINT)
FROM src
UNION ALL
SELECT doc_id, 'json', 'key', 'deps' || sid,
  CAST(strlen(j0) + 2 AS BIGINT),
  CAST(strlen(j0) + strlen(j1) - 1 AS BIGINT)
FROM src
""",
)
def q131_fortran_json_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter;
    # the stored lang column IS the fmt discriminator.
    return _defs_read(spark, sf_dir, "q131").select(
        "doc_id", F.col("lang").alias("fmt"), "def_kind", "def_name",
        "def_start", "def_end"
    )


# --- q132: Pascal routine regions — the 31st language. procedure/
#     function/constructor/destructor blocks (case-insensitive) with
#     { }, (* *), // comments and ''-escaped strings opaque; nested
#     routines declared before the outer begin stack correctly;
#     case…end inside a body balances; `forward;` declarations emit
#     nothing. Completes structural coverage of the reference's full
#     31-language table (docs/ops/text.mdx; rust/code_ast/src/view/
#     lang.rs).
@register(
    "q132_pascal_definitions",
    oracle="""
WITH src AS (
  SELECT doc_id,
    CAST(doc_id AS VARCHAR) AS sid,
    '{ procedure Fake1; }' || chr(10) AS c0,
    'procedure Outer' || CAST(doc_id AS VARCHAR) || '(x: Integer);' || chr(10) ||
    '  function Inner' || CAST(doc_id AS VARCHAR) || '(y: Integer): Integer;' || chr(10) ||
    '  begin' || chr(10) ||
    '    Inner' || CAST(doc_id AS VARCHAR) || ' := y + 1;' || chr(10) ||
    '  end;' || chr(10) AS p1,
    'begin' || chr(10) ||
    '  s := ''procedure Fake2;'';' || chr(10) ||
    '  case x of 1: s := ''a''; end;' || chr(10) ||
    'end;' || chr(10) AS p2
  FROM documents
)
SELECT doc_id, 'procedure' AS def_kind, 'Outer' || sid AS def_name,
  CAST(strlen(c0) AS BIGINT) AS def_start,
  CAST(strlen(c0) + strlen(p1) + strlen(p2) - 2 AS BIGINT) AS def_end
FROM src
UNION ALL
SELECT doc_id, 'function', 'Inner' || sid,
  CAST(strlen(c0) + strlen('procedure Outer' || sid || '(x: Integer);') + 3 AS BIGINT),
  CAST(strlen(c0) + strlen(p1) - 2 AS BIGINT)
FROM src
""",
)
def q132_pascal_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the defs-family index (r11): pure scan + filter.
    return _defs_read(spark, sf_dir, "q132").select(
        "doc_id", "def_kind", "def_name", "def_start", "def_end"
    )


# --- q133: fence-exact markdown chunking — the q100/q108 guarantee on
#     the document side: recursive chunking driven by the markdown
#     region walker, so the ONLY section boundary is the real heading;
#     a `# fake heading` inside a code fence can never start a chunk
#     (the regex `\\n(?=#…)` hierarchy's failure mode). Exact chunk
#     spans + md5s oracled.
@register(
    "q133_markdown_chunks",
    oracle="""
WITH parts AS (
  SELECT doc_id,
    '# A' || CAST(doc_id AS VARCHAR) || chr(10) ||
    'intro words here' || chr(10) ||
    '```' || chr(10) ||
    '# fake heading' || chr(10) ||
    'code' || chr(10) ||
    '```' || chr(10) AS p1,
    '# B' || CAST(doc_id AS VARCHAR) || chr(10) ||
    'body tail words' || chr(10) AS p2
  FROM documents
)
SELECT doc_id, 0 AS chunk_idx, md5(p1) AS chunk_md5,
       0 AS start_char, CAST(strlen(p1) AS INT) AS end_char
FROM parts
UNION ALL
SELECT doc_id, 1, md5(p2),
       CAST(strlen(p1) AS INT), CAST(strlen(p1) + strlen(p2) AS INT)
FROM parts
""",
)
def q133_markdown_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the chunks-family index (r11): pure scan + filter.
    return _chunks_read(spark, sf_dir, "q133")


# --- q134: Rust AST-capture parity — `\NAME` / `\(A*\)` metavariables
#     over the LEXER-EXACT Rust token stream, where a metavar snaps a
#     whole generic type (`Vec<Vec<u8>>`, `Result<u64, E>`) or scoped
#     path into ONE unit, the node-snap the reference gets from
#     tree-sitter (rust/code_match/src/matcher.rs; feature corpus
#     code_match/tests/features.rs). Every synthetic source carries
#     DECOY `fn` definitions inside a line comment, a plain string, a
#     raw string `r#"…"#`, or a block comment — a regex matcher (or a
#     matcher on a non-stripping lexer) captures those too and
#     hash-diverges; the nested-generic arg and return types diverge on
#     any matcher that can't close `>>` one angle at a time. The oracle
#     reconstructs the expected captures independently in pure SQL.
@register(
    "q134_rust_captures",
    oracle="""
SELECT doc_id,
  CASE WHEN doc_id % 4 = 0 THEN 'f' || CAST(doc_id AS VARCHAR)
       ELSE 'g' || CAST(doc_id AS VARCHAR) END AS fn_name,
  CASE WHEN doc_id % 4 = 0
       THEN 'x: Vec<Vec<u8>>, n' || CAST(doc_id AS VARCHAR) || ': usize'
       ELSE '' END AS args,
  CASE WHEN doc_id % 4 = 0
       THEN 'Result<u64, E' || CAST(doc_id AS VARCHAR) || '>'
       ELSE 'u64' END AS ret
FROM documents
WHERE doc_id % 4 IN (0, 1)
""",
)
def q134_rust_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the captures-family index (r11): pure scan + filter.
    return _caps_read(spark, sf_dir, "q134").select(
        "doc_id",
        F.col("c1").alias("fn_name"),
        F.col("c2").alias("args"),
        F.col("c3").alias("ret"),
    )


# --- q138: containment matching `\{{ ... \}}` — the reference's
#     descendant-containment predicate (rust/code_match/src/lexer.rs
#     `S{{ INNER S}}`, matcher.rs match_contains; feature corpus
#     code_match/tests/features.rs "containment" block): match a
#     function whose BODY contains `return <expr>;` at ANY depth, with
#     the returned expression captured and the whole function reported.
#     Half the matching docs nest the return inside an `if` — a
#     shallow matcher misses those; docs with no return (and decoy
#     returns inside strings) must not match.
@register(
    "q138_containment_match",
    oracle="""
SELECT doc_id,
  'f' || CAST(doc_id AS VARCHAR) AS fn_name,
  CASE WHEN doc_id % 4 = 0 THEN 'x + ' || CAST(doc_id AS VARCHAR)
       ELSE 'y * 2' END AS ret_expr
FROM documents
WHERE doc_id % 4 IN (0, 1)
""",
)
def q138_containment_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the captures-family index (r11): pure scan + filter.
    return _caps_read(spark, sf_dir, "q138").select(
        "doc_id",
        F.col("c1").alias("fn_name"),
        F.col("c2").alias("ret_expr"),
    )


# --- q151: import-dependency indegree — the dependency-edge slice of
#     the reference's AST element views (rust/code_ast/src/elements/
#     lang/go.rs:24 base_namespace; view classification lang.rs) as a
#     query: per-language import extraction over a polyglot corpus
#     (python / javascript / java snippets derived from doc_id), then
#     module indegree — the "which modules does this corpus depend on"
#     rollup a multi-codebase summarizer starts from. Decoy imports in
#     strings and comments must NOT count (the extractor shares the
#     comment/string-exact lexer). Scale shape: Arrow-batched per-row
#     extraction + explode, ONE module hash agg — no joins, no window.
@register(
    "q151_import_indegree",
    oracle="""
WITH d AS (SELECT doc_id FROM documents),
imp AS (
  SELECT doc_id, 'mod' || CAST(doc_id % 5 AS VARCHAR) AS module
  FROM d WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, 'pkg' || CAST(doc_id % 4 AS VARCHAR) FROM d WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, 'lib' || CAST(doc_id % 5 AS VARCHAR) FROM d WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id, 'util' || CAST(doc_id % 4 AS VARCHAR) FROM d WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id, 'com.ex.Mod' || CAST(doc_id % 5 AS VARCHAR)
  FROM d WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id, 'com.ex.Util' || CAST(doc_id % 4 AS VARCHAR) || '.*'
  FROM d WHERE doc_id % 3 = 2
)
SELECT module, CAST(COUNT(*) AS BIGINT) AS indegree,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM imp GROUP BY module
""",
)
def q151_import_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the imports index (r11): the per-language import
    # extraction runs once at sync time; this read is a pure scan +
    # ONE module hash agg — zero Python nodes.
    edges = _served_family_index(spark, sf_dir, "imports").read(spark)
    return edges.groupBy("module").agg(
        F.count(F.lit(1)).cast("long").alias("indegree"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


# --- q152: element-kind classification with METHOD — the
#     DeclarationKind::Method slice of the reference's AST element
#     views (rust/code_ast/src/elements/types.rs: Class/Struct/…/
#     Function/Method; the view layer classifies a function nested in
#     a type's region as a method). Token-level derivation: a
#     `function` definition whose span is CONTAINED in an `impl`
#     region is a method; top-level fns stay functions. Decoy fns in
#     comments/strings are invisible (shared lexer). Scale shape:
#     Arrow extraction + explode, one doc_id-keyed equi-join for the
#     containment test (bounded per doc), one pass-through union.
@register(
    "q152_element_kinds",
    oracle="""
WITH d AS (SELECT doc_id FROM documents)
SELECT doc_id, 'struct' AS element_kind, 'S' || CAST(doc_id % 4 AS VARCHAR) AS name FROM d
UNION ALL
SELECT doc_id, 'impl', 'S' || CAST(doc_id % 4 AS VARCHAR) FROM d
UNION ALL
SELECT doc_id, 'method', 'm' || CAST(doc_id % 5 AS VARCHAR) FROM d
UNION ALL
SELECT doc_id, 'function', 'free' || CAST(doc_id % 3 AS VARCHAR) FROM d
""",
)
def q152_element_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the engine-synced code-views index (see q154): the
    # extractor's element classifier already promotes a fn whose span
    # sits inside an impl region to `method` (the same containment rule
    # the pre-r10 definitions_df join computed at query time), so THIS
    # read plan is a pure parquet scan + filter — zero extraction, no
    # join, no window.
    views = _code_views_read(spark, sf_dir, "q152")
    return views.filter(
        (F.col("row_kind") == "element")
        & F.col("kind").isin("struct", "impl", "method", "function")
    ).select(
        "doc_id",
        F.col("kind").alias("element_kind"),
        F.col("name").alias("name"),
    )


def _q152_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    a = (F.col("doc_id") % 4).cast("string")
    b = (F.col("doc_id") % 5).cast("string")
    c = (F.col("doc_id") % 3).cast("string")
    code = F.concat(
        F.lit("struct S"), a, F.lit(";\nimpl S"), a,
        F.lit(" {\n    fn m"), b, F.lit("(&self) -> u64 { 1 }\n}\nfn free"),
        c, F.lit("() -> u64 { 2 }\n// fn fake() {}\n"),
        F.lit('const X: &str = "fn fake2() {}";\n'),
    )
    return d.select("doc_id", F.lit("rust").alias("lang"), code.alias("code"))


# --- q153: full element views — kind classification (field / constant
#     / constructor / extension / property / method) WITH namespace
#     attribution, across three languages (reference:
#     rust/code_ast/src/elements/types.rs:25-45 DeclarationKind,
#     :119-142 Declaration.namespace; per-language configs
#     elements/lang/rust.rs, java.rs, csharp.rs). Decoy declarations in
#     comments/strings are invisible (shared lexer). Scale shape:
#     Arrow-batched per-row extraction + explode, a pass-through
#     union — no join, no window, no shuffle before the driver's sort.
@register(
    "q153_element_namespaces",
    oracle="""
WITH d AS (SELECT doc_id FROM documents),
r AS (SELECT doc_id, CAST(doc_id % 5 AS VARCHAR) AS a,
             CAST(doc_id % 4 AS VARCHAR) AS b,
             CAST(doc_id % 7 AS VARCHAR) AS c
      FROM d WHERE doc_id % 3 = 0),
j AS (SELECT doc_id, CAST(doc_id % 5 AS VARCHAR) AS a,
             CAST(doc_id % 4 AS VARCHAR) AS b,
             CAST(doc_id % 7 AS VARCHAR) AS c
      FROM d WHERE doc_id % 3 = 1),
cs AS (SELECT doc_id, CAST(doc_id % 5 AS VARCHAR) AS a,
             CAST(doc_id % 4 AS VARCHAR) AS b,
             CAST(doc_id % 7 AS VARCHAR) AS c
      FROM d WHERE doc_id % 3 = 2)
SELECT doc_id, 'rust' AS lang, el_kind, el_name, el_namespace FROM (
  SELECT doc_id, 'module' AS el_kind, 'm' || a AS el_name, '' AS el_namespace FROM r
  UNION ALL SELECT doc_id, 'struct', 'S' || b, 'm' || a FROM r
  UNION ALL SELECT doc_id, 'field', 'f' || c, 'm' || a || '.S' || b FROM r
  UNION ALL SELECT doc_id, 'impl', 'S' || b, 'm' || a FROM r
  UNION ALL SELECT doc_id, 'constant', 'C' || c, 'm' || a || '.S' || b FROM r
  UNION ALL SELECT doc_id, 'method', 'get' || c, 'm' || a || '.S' || b FROM r
  UNION ALL SELECT doc_id, 'constant', 'TOP' || a, '' FROM r
)
UNION ALL
SELECT doc_id, 'java', el_kind, el_name, el_namespace FROM (
  SELECT doc_id, 'class' AS el_kind, 'K' || b AS el_name,
         'com.ex.p' || a AS el_namespace FROM j
  UNION ALL SELECT doc_id, 'field', 'v' || c, 'com.ex.p' || a || '.K' || b FROM j
  UNION ALL SELECT doc_id, 'constant', 'MAX' || a, 'com.ex.p' || a || '.K' || b FROM j
  UNION ALL SELECT doc_id, 'constructor', 'K' || b, 'com.ex.p' || a || '.K' || b FROM j
  UNION ALL SELECT doc_id, 'method', 'get' || c, 'com.ex.p' || a || '.K' || b FROM j
)
UNION ALL
SELECT doc_id, 'c_sharp', el_kind, el_name, el_namespace FROM (
  SELECT doc_id, 'class' AS el_kind, 'C' || b AS el_name,
         'Ex.N' || a AS el_namespace FROM cs
  UNION ALL SELECT doc_id, 'field', 'n' || c, 'Ex.N' || a || '.C' || b FROM cs
  UNION ALL SELECT doc_id, 'constant', 'TAG' || a, 'Ex.N' || a || '.C' || b FROM cs
  UNION ALL SELECT doc_id, 'property', 'P' || c, 'Ex.N' || a || '.C' || b FROM cs
  UNION ALL SELECT doc_id, 'constructor', 'C' || b, 'Ex.N' || a || '.C' || b FROM cs
  UNION ALL SELECT doc_id, 'method', 'Get' || c, 'Ex.N' || a || '.C' || b FROM cs
)
""",
)
def q153_element_namespaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the engine-synced code-views index (see q154): the
    # index's element rows ARE elements_df's output (same extractor,
    # namespace stored as `owner`), so the full 3-language element view
    # is a pure parquet scan + filter — zero query-time extraction.
    views = _code_views_read(spark, sf_dir, "q153")
    return views.filter(F.col("row_kind") == "element").select(
        "doc_id",
        "lang",
        F.col("kind").alias("el_kind"),
        F.col("name").alias("el_name"),
        F.col("owner").alias("el_namespace"),
    )


def _q153_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    a = (F.col("doc_id") % 5).cast("string")
    b = (F.col("doc_id") % 4).cast("string")
    c = (F.col("doc_id") % 7).cast("string")
    rust = F.concat(
        F.lit("mod m"), a, F.lit(" {\n    pub struct S"), b,
        F.lit(" { pub f"), c, F.lit(": u64 }\n    impl S"), b,
        F.lit(" {\n        const C"), c, F.lit(": u64 = 1;\n        pub fn get"),
        c, F.lit("(&self) -> u64 { self.f"), c, F.lit(" }\n    }\n}\nconst TOP"),
        a, F.lit(": u64 = 2;\n// const FAKE: u64 = 3; fn fake() {}\n"),
    )
    java = F.concat(
        F.lit("package com.ex.p"), a, F.lit(";\npublic class K"), b,
        F.lit(" {\n    private long v"), c,
        F.lit(";\n    public static final int MAX"), a,
        F.lit(" = 1;\n    public K"), b, F.lit("(long v) { }\n    public long get"),
        c, F.lit("() { return v"), c, F.lit("; }\n}\n// class Fake { int x; }\n"),
    )
    cs = F.concat(
        F.lit("namespace Ex.N"), a, F.lit(";\npublic class C"), b,
        F.lit(" {\n    private int n"), c,
        F.lit(";\n    public const string TAG"), a,
        F.lit(' = "const Fake = 1;";\n    public int P'), c,
        F.lit(" { get; set; }\n    public C"), b,
        F.lit("(int n) { }\n    public int Get"), c,
        F.lit("() { return n"), c, F.lit("; }\n}\n"),
    )
    m3 = F.col("doc_id") % 3
    code = F.when(m3 == 0, rust).when(m3 == 1, java).otherwise(cs)
    lang = (
        F.when(m3 == 0, F.lit("rust"))
        .when(m3 == 1, F.lit("java"))
        .otherwise(F.lit("c_sharp"))
    )
    return d.select("doc_id", lang.alias("lang"), code.alias("code"))


# --- q154: call-site indegree per definition — the def⋈ref join over
#     usage References (reference types.rs:142 Reference; the
#     real-code twin of q151's import indegree). References come from
#     the comment/string-exact lexer (decoy calls in comments/strings
#     never count); the join is doc_id-keyed (bounded per document),
#     then ONE name agg. Defs that are never called still report
#     indegree 0 (left join) — the dead-code signal.
@register(
    "q154_callsite_indegree",
    oracle="""
WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS VARCHAR) AS a,
                  CAST(doc_id % 3 AS VARCHAR) AS b
           FROM documents),
defs AS (
  SELECT doc_id, 'util' || a AS name FROM d
  UNION ALL SELECT doc_id, 'run' || b FROM d
),
refs AS (  -- two util calls per doc inside run's body
  SELECT doc_id, 'util' || a AS name, 2 AS calls FROM d
)
SELECT defs.name AS fn_name,
       CAST(COALESCE(SUM(refs.calls), 0) AS BIGINT) AS total_calls,
       CAST(COUNT(DISTINCT CASE WHEN refs.calls IS NOT NULL
                                THEN defs.doc_id END) AS BIGINT) AS n_calling_docs
FROM defs LEFT JOIN refs ON defs.doc_id = refs.doc_id AND defs.name = refs.name
GROUP BY defs.name
""",
)
def q154_callsite_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the engine-synced code_views family index (extract-
    # once-serve-many, core_concepts.mdx:52-54): the first element-view
    # query per (session, sf) syncs every member corpus's element/
    # reference rows into it; THIS read plan is a pure parquet scan of
    # the q154 slice + joins/aggs — zero extraction (no Python eval
    # nodes), audit-asserted.
    views = _code_views_read(spark, sf_dir, "q154")
    defs = views.filter(
        (F.col("row_kind") == "element")
        & F.col("kind").isin("function", "method")
    ).select("doc_id", F.col("name").alias("fn_name"))
    refs = (
        views.filter(F.col("row_kind") == "reference")
        .groupBy("doc_id", F.col("name").alias("fn_name"))
        .agg(F.count(F.lit(1)).alias("calls"))
    )
    return (
        defs.join(refs, ["doc_id", "fn_name"], "left")
        .groupBy("fn_name")
        .agg(
            F.coalesce(F.sum("calls"), F.lit(0)).cast("long").alias("total_calls"),
            F.countDistinct(
                F.when(F.col("calls").isNotNull(), F.col("doc_id"))
            ).cast("long").alias("n_calling_docs"),
        )
    )


def _q154_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    a = (F.col("doc_id") % 5).cast("string")
    b = (F.col("doc_id") % 3).cast("string")
    code = F.concat(
        F.lit("fn util"), a, F.lit("() -> u64 { 1 }\nfn run"), b,
        F.lit("() -> u64 { util"), a, F.lit("() + util"), a,
        F.lit("() + ext() }\n// fn fake() { util9() }\n"),
        F.lit('const S: &str = "util8()";\n'),
    )
    return d.select("doc_id", F.lit("rust").alias("lang"), code.alias("code"))


def _q156_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q156/q159/q162 rust corpus (doc_id, lang, code): every doc
    carries a qualified caller; docs with doc_id % 7 == 0 additionally
    define `mod srv{b} { fn api{c} }` (b = doc_id % 3, c = doc_id % 4)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    b = (F.col("doc_id") % 3).cast("string")
    c = (F.col("doc_id") % 4).cast("string")
    m5 = (F.col("doc_id") % 5).cast("string")
    lib = F.concat(
        F.lit("mod srv"), b, F.lit(" { pub fn api"), c,
        F.lit("() -> u64 { 1 } }\n"),
    )
    caller = F.concat(
        F.lit("fn main"), m5, F.lit("() -> u64 { srv"), b,
        F.lit("::api"), c, F.lit("() + local() }\n"),
        F.lit('// srv9::api9()\nstatic S: &str = "srv8::api8()";\n'),
    )
    return d.select(
        "doc_id",
        F.lit("rust").alias("lang"),
        F.concat(F.when(F.col("doc_id") % 7 == 0, lib).otherwise(F.lit("")), caller)
        .alias("code"),
    )


# --- q156: cross-document qualified usage search — "find usages of
#     srv::api across the codebase" (reference types.rs:119-142:
#     Declaration.namespace + Reference; the namespace-RESOLVED join
#     q154's per-doc indegree builds toward). References carry the
#     `::`/`.` qualifier chain of the call site; resolution is an
#     equi-join of (qualifier, name) against (declaration namespace,
#     name) across ALL documents — the real "who calls this module's
#     function" question. Decoy calls in comments/strings never count
#     (shared lexer). Scale shape: one scan of the usage_code_views
#     family index (elements and references were extracted from one
#     lex at sync time), two aggs, one equi-join on the bounded
#     (namespace, fn) key space.
@register(
    "q156_qualified_usage_search",
    oracle="""
WITH d AS (SELECT doc_id FROM documents),
defs AS (
  SELECT 'srv' || CAST(doc_id % 3 AS VARCHAR) AS ns,
         'api' || CAST(doc_id % 4 AS VARCHAR) AS fn, doc_id
  FROM d WHERE doc_id % 7 = 0
),
refs AS (
  SELECT 'srv' || CAST(doc_id % 3 AS VARCHAR) AS ns,
         'api' || CAST(doc_id % 4 AS VARCHAR) AS fn, doc_id
  FROM d
),
ad AS (SELECT ns, fn, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_defining_docs
       FROM defs GROUP BY ns, fn),
ar AS (SELECT ns, fn, CAST(COUNT(*) AS BIGINT) AS total_calls,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_calling_docs
       FROM refs GROUP BY ns, fn)
SELECT ad.ns AS namespace, ad.fn AS fn_name, ad.n_defining_docs,
       CAST(COALESCE(ar.total_calls, 0) AS BIGINT) AS total_calls,
       CAST(COALESCE(ar.n_calling_docs, 0) AS BIGINT) AS n_calling_docs
FROM ad LEFT JOIN ar ON ad.ns = ar.ns AND ad.fn = ar.fn
""",
)
def q156_qualified_usage_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the engine-synced code-views index (see q154): the
    # index's `owner` column is the declaration namespace on element
    # rows and the call-site qualifier chain on reference rows, so both
    # aggregation sides read ONE maintained parquet table — no
    # query-time extraction.
    views = _served_family_index(spark, sf_dir, "usage_code_views").read(spark)
    defs = (
        views.filter(
            (F.col("row_kind") == "element")
            & (F.col("kind") == "function")
            & (F.col("owner") != "")
        )
        .groupBy(
            F.col("owner").alias("namespace"),
            F.col("name").alias("fn_name"),
        )
        .agg(F.countDistinct("doc_id").cast("long").alias("n_defining_docs"))
    )
    refs = (
        views.filter(
            (F.col("row_kind") == "reference") & (F.col("owner") != "")
        )
        .groupBy(
            F.col("owner").alias("namespace"),
            F.col("name").alias("fn_name"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_calls"),
            F.countDistinct("doc_id").cast("long").alias("n_calling_docs"),
        )
    )
    return defs.join(refs, ["namespace", "fn_name"], "left").select(
        "namespace",
        "fn_name",
        "n_defining_docs",
        F.coalesce(F.col("total_calls"), F.lit(0)).cast("long").alias("total_calls"),
        F.coalesce(F.col("n_calling_docs"), F.lit(0)).cast("long").alias("n_calling_docs"),
    )


# --- q157: Python + Swift element views — the two reference language
#     configs the pack didn't cover (elements/lang/python.rs: stdlib-
#     ast-exact class/function + method promotion; elements/lang/
#     swift.rs: struct/protocol/extension via declaration_kind,
#     property_declaration → Property, extension members attribute to
#     the extended type). Scale shape: one Arrow extraction per
#     language partition (per-doc bounded, no shuffle), one union.
@register(
    "q157_python_swift_elements",
    oracle="""
WITH d AS (SELECT doc_id,
                  CAST(doc_id % 5 AS VARCHAR) AS a,
                  CAST(doc_id % 3 AS VARCHAR) AS b,
                  CAST(doc_id % 4 AS VARCHAR) AS c
           FROM documents),
py AS (SELECT * FROM d WHERE doc_id % 2 = 0),
sw AS (SELECT * FROM d WHERE doc_id % 2 = 1),
rows_ AS (
  SELECT doc_id, 'python' AS lang, 'class' AS el_kind,
         'Svc' || b AS el_name, '' AS el_namespace FROM py
  UNION ALL SELECT doc_id, 'python', 'class', 'In' || c, 'Svc' || b FROM py
  UNION ALL SELECT doc_id, 'python', 'method', 'm' || c,
                   'Svc' || b || '.In' || c FROM py
  UNION ALL SELECT doc_id, 'python', 'method', 'run' || c, 'Svc' || b FROM py
  UNION ALL SELECT doc_id, 'python', 'function', 'free' || a, '' FROM py
  UNION ALL SELECT doc_id, 'swift', 'struct', 'Pt' || b, '' FROM sw
  UNION ALL SELECT doc_id, 'swift', 'property', 'x' || c, 'Pt' || b FROM sw
  UNION ALL SELECT doc_id, 'swift', 'method', 'norm' || c, 'Pt' || b FROM sw
  UNION ALL SELECT doc_id, 'swift', 'extension', 'Pt' || b, '' FROM sw
  UNION ALL SELECT doc_id, 'swift', 'method', 'dbl' || c, 'Pt' || b FROM sw
  UNION ALL SELECT doc_id, 'swift', 'property', 'MAX' || a, '' FROM sw
)
SELECT doc_id, lang, el_kind, el_name, el_namespace FROM rows_
""",
)
def q157_python_swift_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the engine-synced code-views index (see q154): the
    # python rows come from the same stdlib-ast walk, the swift rows
    # from the same token-stream extractor — a pure index scan + filter
    # replaces both query-time Arrow passes.
    views = _code_views_read(spark, sf_dir, "q157")
    return views.filter(F.col("row_kind") == "element").select(
        "doc_id",
        "lang",
        F.col("kind").alias("el_kind"),
        F.col("name").alias("el_name"),
        F.col("owner").alias("el_namespace"),
    )


def _q157_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    a = (F.col("doc_id") % 5).cast("string")
    b = (F.col("doc_id") % 3).cast("string")
    c = (F.col("doc_id") % 4).cast("string")
    py = F.concat(
        F.lit("class Svc"), b, F.lit(":\n    class In"), c,
        F.lit(":\n        def m"), c,
        F.lit("(self):\n            return 1\n\n    def run"), c,
        F.lit("(self):\n        if True:\n            pass\n        return 2\n\ndef free"),
        a, F.lit('(x):\n    """def fake(): pass"""\n    return Svc'), b,
        F.lit("()\n"),
    )
    sw = F.concat(
        F.lit("struct Pt"), b, F.lit(" {\n    var x"), c,
        F.lit(": Double\n    func norm"), c,
        F.lit('() -> Double { let t = "var fake2 = 1"; return 1.0 }\n}\n\nextension Pt'),
        b, F.lit(" {\n    func dbl"), c, F.lit("() -> Double { return helper"),
        a, F.lit("() }\n}\n\nlet MAX"), a,
        F.lit(" = 10\n// var fake = 1\n"),
    )
    even = F.col("doc_id") % 2 == 0
    return d.select(
        "doc_id",
        F.when(even, F.lit("python")).otherwise(F.lit("swift")).alias("lang"),
        F.when(even, py).otherwise(sw).alias("code"),
    )


# --- q158: multi-language qualified usage resolution — q156's
#     (qualifier, name) ⋈ (namespace, name) equi-join generalized
#     across FOUR language families' qualifier syntaxes: Rust `::`
#     paths, Java static-class `.` chains, Go package selectors,
#     TypeScript class statics (reference types.rs:119-142
#     Declaration.namespace + Reference; per-language separators in
#     elements/lang/*.rs `separator()`). ONE Arrow extraction per
#     language partition, union, then two bounded-key aggs + one
#     equi-join on (lang, namespace, fn).
@register(
    "q158_multilang_usage_resolution",
    oracle="""
WITH d AS (SELECT doc_id,
                  CAST(doc_id % 5 AS VARCHAR) AS a,
                  CAST(doc_id % 3 AS VARCHAR) AS b,
                  CAST(doc_id % 4 AS VARCHAR) AS c
           FROM documents),
defs AS (
  SELECT 'rust' AS lang, 'srv' || b AS ns, 'api' || c AS fn, doc_id
  FROM d WHERE doc_id % 4 = 0
  UNION ALL SELECT 'java', 'Svc' || b, 'api' || c, doc_id FROM d WHERE doc_id % 4 = 1
  UNION ALL SELECT 'java', 'Svc' || b, 'go' || a, doc_id FROM d WHERE doc_id % 4 = 1
  UNION ALL SELECT 'go', 'svc' || b, 'api' || c, doc_id FROM d WHERE doc_id % 4 = 2
  UNION ALL SELECT 'go', 'svc' || b, 'call' || a, doc_id FROM d WHERE doc_id % 4 = 2
  UNION ALL SELECT 'typescript', 'Svc' || b, 'api' || c, doc_id FROM d WHERE doc_id % 4 = 3
),
refs AS (
  SELECT 'rust' AS lang, 'srv' || b AS ns, 'api' || c AS fn, doc_id
  FROM d WHERE doc_id % 4 = 0
  UNION ALL SELECT 'java', 'Svc' || b, 'api' || c, doc_id FROM d WHERE doc_id % 4 = 1
  UNION ALL SELECT 'go', 'svc' || b, 'api' || c, doc_id FROM d WHERE doc_id % 4 = 2
  UNION ALL SELECT 'typescript', 'Svc' || b, 'api' || c, doc_id FROM d WHERE doc_id % 4 = 3
),
ad AS (SELECT lang, ns, fn, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_defining_docs
       FROM defs GROUP BY lang, ns, fn),
ar AS (SELECT lang, ns, fn, CAST(COUNT(*) AS BIGINT) AS total_calls,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_calling_docs
       FROM refs GROUP BY lang, ns, fn)
SELECT ad.lang, ad.ns AS namespace, ad.fn AS fn_name, ad.n_defining_docs,
       CAST(COALESCE(ar.total_calls, 0) AS BIGINT) AS total_calls,
       CAST(COALESCE(ar.n_calling_docs, 0) AS BIGINT) AS n_calling_docs
FROM ad LEFT JOIN ar ON ad.lang = ar.lang AND ad.ns = ar.ns AND ad.fn = ar.fn
""",
)
def q158_multilang_usage_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the engine-synced code-views index (see q154): one
    # maintained parquet table holds all four languages' element +
    # reference rows; the cross-language resolution is joins/aggs over
    # that scan — no query-time extraction.
    views = _code_views_read(spark, sf_dir, "q158")
    defs = (
        views.filter(
            (F.col("row_kind") == "element")
            & F.col("kind").isin("function", "method")
            & (F.col("owner") != "")
        )
        .groupBy(
            "lang",
            F.col("owner").alias("namespace"),
            F.col("name").alias("fn_name"),
        )
        .agg(F.countDistinct("doc_id").cast("long").alias("n_defining_docs"))
    )
    refs = (
        views.filter(
            (F.col("row_kind") == "reference") & (F.col("owner") != "")
        )
        .groupBy(
            "lang",
            F.col("owner").alias("namespace"),
            F.col("name").alias("fn_name"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_calls"),
            F.countDistinct("doc_id").cast("long").alias("n_calling_docs"),
        )
    )
    return defs.join(refs, ["lang", "namespace", "fn_name"], "left").select(
        "lang",
        "namespace",
        "fn_name",
        "n_defining_docs",
        F.coalesce(F.col("total_calls"), F.lit(0)).cast("long").alias("total_calls"),
        F.coalesce(F.col("n_calling_docs"), F.lit(0)).cast("long").alias("n_calling_docs"),
    )


def _q158_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q158 corpus as ONE (doc_id, lang, code) frame: doc_id %% 4
    picks the language; every doc both defines its namespace's api and
    calls it qualified (decoy calls ride in comments/strings)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    a = (F.col("doc_id") % 5).cast("string")
    b = (F.col("doc_id") % 3).cast("string")
    c = (F.col("doc_id") % 4).cast("string")
    templates = {
        "rust": F.concat(
            F.lit("mod srv"), b, F.lit(" { pub fn api"), c,
            F.lit("() -> u64 { 1 } }\nfn call"), a, F.lit("() -> u64 { srv"),
            b, F.lit("::api"), c, F.lit("() }\n// srv9::api9()\n"),
        ),
        "java": F.concat(
            F.lit("public class Svc"), b, F.lit(" {\n    public static int api"),
            c, F.lit("() { return 1; }\n    public int go"), a,
            F.lit("() { return Svc"), b, F.lit(".api"), c,
            F.lit('(); }\n}\n// Svc9.api9()\n'),
        ),
        "go": F.concat(
            F.lit("package svc"), b, F.lit("\n\nfunc api"), c,
            F.lit("() int { return 1 }\nfunc call"), a,
            F.lit("() int { return svc"), b, F.lit(".api"), c,
            F.lit('() }\n// svc9.api9()\n'),
        ),
        "typescript": F.concat(
            F.lit("class Svc"), b, F.lit(" {\n  static api"), c,
            F.lit("(): number { return 1 }\n}\nconst r"), a,
            F.lit(" = Svc"), b, F.lit(".api"), c,
            F.lit('()\n// Svc9.api9()\nconst s = "Svc8.api8()"\n'),
        ),
    }
    code = None
    lang_col = None
    for k, (lang, tmpl) in enumerate(templates.items()):
        cond = F.col("doc_id") % 4 == k
        code = F.when(cond, tmpl) if code is None else code.when(cond, tmpl)
        lang_col = (
            F.when(cond, F.lit(lang))
            if lang_col is None
            else lang_col.when(cond, F.lit(lang))
        )
    return d.select("doc_id", lang_col.alias("lang"), code.alias("code"))


# --- q159: engine-synced USAGE INDEX with a name-probe layout — the
#     q155-FTS seek shape applied to code usage search (reference
#     types.rs:119-142 Declaration/Reference as the indexed rows; the
#     reconcile machinery as the index maintainer). The corpus's
#     element + reference rows are a sync target keyed per document
#     with __probe=hash(name)%64 partition dirs (the usage_code_views
#     family q156 and q162 serve from, synced once per session), so
#     "find usages of srv1::api2" reads ONLY api2's partition
#     directories (planning-time file pruning)
#     instead of re-extracting or scanning the whole index — and a
#     document edit re-syncs exactly its rows (blast radius 1, pinned
#     in tests/test_usage_index_sync.py). Value-identical to q156's
#     from-scratch extraction filtered to the probe target.

from cocoindex_spark.engine.function import fn as _coco_fn  # noqa: E402
from cocoindex_spark.operators.code_elements import (  # noqa: E402
    code_views_multilang_df,
)


@register(
    "q159_usage_index_probe",
    oracle="""
WITH d AS (SELECT doc_id FROM documents),
defs AS (SELECT doc_id FROM d
         WHERE doc_id % 7 = 0 AND doc_id % 3 = 1 AND doc_id % 4 = 2),
refs AS (SELECT doc_id FROM d WHERE doc_id % 3 = 1 AND doc_id % 4 = 2)
SELECT 'srv1' AS namespace, 'api2' AS fn_name,
       CAST((SELECT COUNT(DISTINCT doc_id) FROM defs) AS BIGINT) AS n_defining_docs,
       CAST((SELECT COUNT(*) FROM refs) AS BIGINT) AS total_calls,
       CAST((SELECT COUNT(DISTINCT doc_id) FROM refs) AS BIGINT) AS n_calling_docs
""",
)
def q159_usage_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cocoindex_spark.state.store import _PROBE_COL

    target = _served_family_index(spark, sf_dir, "usage_code_views")
    # seek-shaped usage lookup: only the probed name's __probe dirs
    pids = target.probe_partitions(spark, ["api2"])
    rows = (
        target.read_indexed(spark)
        .filter(F.col(_PROBE_COL).isin(pids))
        .filter((F.col("name") == "api2") & (F.col("owner") == "srv1"))
    )
    return rows.agg(
        F.countDistinct(
            F.when(
                (F.col("row_kind") == "element") & (F.col("kind") == "function"),
                F.col("doc_id"),
            )
        ).cast("long").alias("n_defining_docs"),
        F.sum(
            F.when(F.col("row_kind") == "reference", F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("total_calls"),
        F.countDistinct(
            F.when(F.col("row_kind") == "reference", F.col("doc_id"))
        ).cast("long").alias("n_calling_docs"),
    ).select(
        F.lit("srv1").alias("namespace"),
        F.lit("api2").alias("fn_name"),
        "n_defining_docs",
        "total_calls",
        "n_calling_docs",
    )


# --- q160: element extraction with REAL corpus text in the decoy
#     positions — answers the standing nit that the code queries only
#     lex doc_id-templated text: here each document's actual prose
#     rides inside a string literal AND a line comment (sanitized only
#     enough to keep the literal terminated: backslashes/quotes
#     stripped, newlines collapsed). The lexer must drop every `fn` /
#     `struct` / `mod` the prose happens to contain — exactly the
#     comment/string-exactness guarantee, now exercised on
#     variable-length real data. Elements stay deterministic, so the
#     oracle is exact.
@register(
    "q160_elements_on_corpus_text",
    oracle="""
WITH d AS (SELECT doc_id,
                  CAST(doc_id % 5 AS VARCHAR) AS a,
                  CAST(doc_id % 3 AS VARCHAR) AS b,
                  CAST(doc_id % 4 AS VARCHAR) AS c
           FROM documents),
rows_ AS (
  SELECT doc_id, 'module' AS el_kind, 'm' || a AS el_name, '' AS el_namespace FROM d
  UNION ALL SELECT doc_id, 'function', 'f' || b, 'm' || a FROM d
  UNION ALL SELECT doc_id, 'constant', 'CORPUS' || c, '' FROM d
  UNION ALL SELECT doc_id, 'function', 'tail' || a, '' FROM d
)
SELECT doc_id, el_kind, el_name, el_namespace FROM rows_
""",
)
def q160_elements_on_corpus_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the engine-synced code-views index (see q154): the
    # lexer's comment/string-exactness work on real corpus prose runs
    # ONCE at sync time; this read plan is a pure index scan + filter.
    views = _code_views_read(spark, sf_dir, "q160")
    return views.filter(F.col("row_kind") == "element").select(
        "doc_id",
        F.col("kind").alias("el_kind"),
        F.col("name").alias("el_name"),
        F.col("owner").alias("el_namespace"),
    )


def _q160_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    a = (F.col("doc_id") % 5).cast("string")
    b = (F.col("doc_id") % 3).cast("string")
    c = (F.col("doc_id") % 4).cast("string")
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), r'[\\"]', ""), r"[\r\n]+", " "
    )
    code = F.concat(
        F.lit("mod m"), a, F.lit(" {\n    pub fn f"), b,
        F.lit("() -> u64 { 1 }\n}\nstatic CORPUS"), c,
        F.lit(': &str = "'), clean, F.lit('";\n// '), clean,
        F.lit("\nfn tail"), a, F.lit("() -> u64 { m"), a,
        F.lit("::f"), b, F.lit("() }\n"),
    )
    return d.select("doc_id", F.lit("rust").alias("lang"), code.alias("code"))


# --- q161: THE corpus code-views index — q159's engine-synced,
#     name-probed usage index generalized to the full multi-language
#     corpus (reference types.rs:119-142 Declaration/Reference rows;
#     per-language namespace/qualifier syntaxes in elements/lang/*.rs;
#     the reconcile machinery of execution.rs as the maintainer).
#     Extract ONCE at sync time, serve every usage query via probe
#     reads: five languages (rust `::` paths, java static-class `.`
#     chains, go package selectors, typescript class statics, python
#     dotted attribute chains incl. the deep `Pkg.Class.method` shape)
#     land in ONE target partitioned by __probe=hash(name)%64, so
#     "find usages of api2 anywhere, in any language" reads ONLY
#     api2's partition dirs (planning-time file pruning, asserted in
#     tools/explain_audit.py) instead of re-extracting the corpus.
#     Each document's REAL corpus prose rides inside a string literal
#     and a line comment (q160's decoy discipline, now in all five
#     grammars) — the lexers/ast must drop every call-shaped token the
#     prose contains. A document edit re-syncs exactly its rows
#     (blast radius 1, pinned in tests/test_usage_index_sync.py).

_CV_LANGS = ("rust", "java", "go", "typescript", "python")


def _q161_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-language corpus: doc_id %% 5 picks the language; every doc
    CALLS its namespace's api{c} (qualified); docs with doc_id %% 7 == 0
    also DEFINE it (7 is coprime to the language/name selectors, so
    defining docs spread over every group). Python docs additionally
    exercise the deep dotted chain `Svc{b}.In{c}.m{c}()`. Real corpus
    prose (quote/backslash-stripped, newline-collapsed) rides in a
    comment AND a string literal in every document."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    a = (F.col("doc_id") % 5).cast("string")
    b = (F.col("doc_id") % 3).cast("string")
    c = (F.col("doc_id") % 4).cast("string")
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), r'[\\"]', ""), r"[\r\n]+", " "
    )
    isdef = F.col("doc_id") % 7 == 0
    empty = F.lit("")

    def when_def(expr):
        return F.when(isdef, expr).otherwise(empty)

    templates = {
        "rust": F.concat(
            when_def(F.concat(
                F.lit("mod srv"), b, F.lit(" { pub fn api"), c,
                F.lit("() -> u64 { 1 } }\n"),
            )),
            F.lit("fn call"), a, F.lit("() -> u64 { srv"), b,
            F.lit("::api"), c, F.lit("() }\n// "), clean,
            F.lit('\nstatic S: &str = "'), clean, F.lit('";\n'),
        ),
        "java": F.concat(
            when_def(F.concat(
                F.lit("public class Svc"), b,
                F.lit(" {\n    public static int api"), c,
                F.lit("() { return 1; }\n}\n"),
            )),
            F.lit("public class Use"), a, F.lit(" {\n    public int go"),
            a, F.lit('() { String t = "'), clean,
            F.lit('"; return Svc'), b, F.lit(".api"), c,
            F.lit("(); }\n}\n// "), clean, F.lit("\n"),
        ),
        "go": F.concat(
            F.when(isdef, F.concat(F.lit("package svc"), b))
            .otherwise(F.concat(F.lit("package use"), b)),
            F.lit("\n\n"),
            when_def(F.concat(
                F.lit("func api"), c, F.lit("() int { return 1 }\n"),
            )),
            F.lit("func call"), a, F.lit("() int { return svc"), b,
            F.lit(".api"), c, F.lit("() }\n// "), clean,
            F.lit('\nconst s = "'), clean, F.lit('"\n'),
        ),
        "typescript": F.concat(
            when_def(F.concat(
                F.lit("class Svc"), b, F.lit(" {\n  static api"), c,
                F.lit("(): number { return 1 }\n}\n"),
            )),
            F.lit("const r"), a, F.lit(" = Svc"), b, F.lit(".api"), c,
            F.lit("()\n// "), clean, F.lit('\nconst s = "'), clean,
            F.lit('"\n'),
        ),
        "python": F.concat(
            when_def(F.concat(
                F.lit("class Svc"), b, F.lit(":\n    class In"), c,
                F.lit(":\n        def m"), c,
                F.lit("(self):\n            return 1\n    def api"), c,
                F.lit("(self):\n        return 1\n"),
            )),
            F.lit("r = Svc"), b, F.lit(".api"), c, F.lit("()\nt = Svc"),
            b, F.lit(".In"), c, F.lit(".m"), c, F.lit("()\n# "), clean,
            F.lit('\ns = "'), clean, F.lit('"\n'),
        ),
    }
    code = None
    for k, lang in enumerate(_CV_LANGS):
        branch = F.when(F.col("doc_id") % 5 == k, templates[lang])
        code = branch if code is None else code.when(
            F.col("doc_id") % 5 == k, templates[lang]
        )
    lang_col = None
    for k, lang in enumerate(_CV_LANGS):
        branch = F.when(F.col("doc_id") % 5 == k, F.lit(lang))
        lang_col = branch if lang_col is None else lang_col.when(
            F.col("doc_id") % 5 == k, F.lit(lang)
        )
    return d.select(
        "doc_id", lang_col.alias("lang"), code.alias("code")
    )


@_coco_fn(memo=True)
def extract_code_view_rows(df: DataFrame) -> DataFrame:
    """Per-doc element+reference rows for a MULTI-LANGUAGE corpus: ONE
    Arrow pass with per-row language dispatch on the `lang` column.
    Every input column but `code` passes through (so a family corpus's `qtag` rides along), followed
    by the index shape (row_kind, kind, name, owner, start), where
    owner is the declaration's namespace for elements and the call
    site's qualifier chain for references — the two sides of the
    usage-resolution equi-join share one column (reference
    types.rs:119-142).

    The extractor import is MODULE-scope (above, code_views_multilang_df)
    so _auto_dep_fps folds the actual extraction logic transitively into
    this fn's logic_fp — an extractor edit invalidates memoized index
    rows (r10 advisor finding #2; a function-local import was invisible
    to the dep walk)."""
    v = code_views_multilang_df(df, "code", "lang")
    return v.select(
        *[c for c in df.columns if c != "code"],
        F.col("cv_row_kind").alias("row_kind"),
        F.col("cv_kind").alias("kind"),
        F.col("cv_name").alias("name"),
        F.when(F.col("cv_row_kind") == "element", F.col("cv_namespace"))
        .otherwise(F.col("cv_qualifier"))
        .alias("owner"),
        F.col("cv_start").alias("start"),
    )


def _code_views_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The code_views-family corpus: (qtag, doc_id, lang, code), each
    element-view query's own corpus under its qtag, verbatim — the
    extraction output (and therefore every oracle) is unchanged."""
    corpora = {
        "q152": _q152_docs,
        "q153": _q153_docs,
        "q154": _q154_docs,
        "q157": _q157_docs,
        "q158": _q158_docs,
        "q160": _q160_docs,
    }
    frames = [
        docs(spark, sf_dir).select(F.lit(qtag).alias("qtag"), "doc_id", "lang", "code")
        for qtag, docs in corpora.items()
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@register(
    "q161_code_views_index_probe",
    oracle="""
WITH d AS (SELECT doc_id,
                  doc_id % 5 AS l,
                  doc_id % 7 = 0 AS isdef,
                  CAST(doc_id % 3 AS VARCHAR) AS b,
                  CAST(doc_id % 4 AS VARCHAR) AS c
           FROM documents),
langs(l, lang, pre) AS (
  VALUES (0, 'rust', 'srv'), (1, 'java', 'Svc'), (2, 'go', 'svc'),
         (3, 'typescript', 'Svc'), (4, 'python', 'Svc')),
api AS (
  SELECT d.doc_id, langs.lang, pre || b AS namespace,
         'api' || c AS fn, d.isdef
  FROM d JOIN langs ON d.l = langs.l
  WHERE 'api' || c = 'api2'
),
m AS (
  SELECT d.doc_id, 'python' AS lang,
         'Svc' || b || '.In' || c AS namespace, 'm' || c AS fn, d.isdef
  FROM d WHERE d.l = 4 AND 'm' || c = 'm1'
),
allr AS (SELECT * FROM api UNION ALL SELECT * FROM m)
SELECT lang, namespace, fn AS fn_name,
       CAST(COUNT(DISTINCT CASE WHEN isdef THEN doc_id END) AS BIGINT)
         AS n_defining_docs,
       CAST(COUNT(*) AS BIGINT) AS total_calls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_calling_docs
FROM allr GROUP BY lang, namespace, fn
""",
)
def q161_code_views_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cocoindex_spark.state.store import _PROBE_COL

    target = _served_family_index(spark, sf_dir, "corpus_code_views")
    # seek-shaped usage lookup across ALL five languages from ONE
    # probe: only the probed names' __probe dirs are read
    names = ["api2", "m1"]
    pids = target.probe_partitions(spark, names)
    rows = (
        target.read_indexed(spark)
        .filter(F.col(_PROBE_COL).isin(pids))
        .filter(F.col("name").isin(names) & (F.col("owner") != ""))
    )
    return (
        rows.groupBy(
            "lang",
            F.col("owner").alias("namespace"),
            F.col("name").alias("fn_name"),
        )
        .agg(
            F.countDistinct(
                F.when(
                    (F.col("row_kind") == "element")
                    & F.col("kind").isin("function", "method"),
                    F.col("doc_id"),
                )
            ).cast("long").alias("n_defining_docs"),
            F.sum(
                F.when(F.col("row_kind") == "reference", F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("total_calls"),
            F.countDistinct(
                F.when(F.col("row_kind") == "reference", F.col("doc_id"))
            ).cast("long").alias("n_calling_docs"),
        )
    )


# --- q162: seek-shaped usage probe SERVED from q156's index — the
#     many-queries-one-index half of extract-once-serve-many
#     (core_concepts.mdx:52-54). q156 (or whichever query touches the
#     usage_code_views family first) pays the one-time sync; THIS
#     query answers "who calls srv1::api2" by reading ONLY the probed
#     name's __probe partition dirs of the SAME maintained index —
#     planning-time file pruning, zero extraction, audit-asserted.
#     q159 probes the same target with the same name; q161 probes its
#     own five-language family the same way.
@register(
    "q162_usage_probe_served",
    oracle="""
WITH d AS (SELECT doc_id FROM documents
           WHERE doc_id % 3 = 1 AND doc_id % 4 = 2)
SELECT 'srv1' AS namespace, 'api2' AS fn_name,
       CAST(COUNT(DISTINCT CASE WHEN doc_id % 7 = 0 THEN doc_id END) AS BIGINT)
         AS n_defining_docs,
       CAST(COUNT(*) AS BIGINT) AS total_calls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_calling_docs
FROM d
""",
)
def q162_usage_probe_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cocoindex_spark.state.store import _PROBE_COL

    target = _served_family_index(spark, sf_dir, "usage_code_views")
    pids = target.probe_partitions(spark, ["api2"])
    rows = (
        target.read_indexed(spark)
        .filter(F.col(_PROBE_COL).isin(pids))
        .filter((F.col("name") == "api2") & (F.col("owner") == "srv1"))
    )
    return rows.groupBy(
        F.col("owner").alias("namespace"),
        F.col("name").alias("fn_name"),
    ).agg(
        F.countDistinct(
            F.when(F.col("row_kind") == "element", F.col("doc_id"))
        ).cast("long").alias("n_defining_docs"),
        F.sum(
            F.when(F.col("row_kind") == "reference", F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("total_calls"),
        F.countDistinct(
            F.when(F.col("row_kind") == "reference", F.col("doc_id"))
        ).cast("long").alias("n_calling_docs"),
    )


# =====================================================================
# r11: the single-language extraction cohort served from build-once
# FAMILY indexes — the q152 recipe (extract once at sync time through
# the reconcile/memo engine, serve every query as a pure parquet read;
# reference TargetState = Transform(SourceState), core_concepts.mdx:
# 52-54) applied to the 23 remaining per-call extraction queries, but
# with ONE engine sync per row-shape FAMILY instead of one per query:
# the per-sync engine overhead (memo flush, sink/tracking merges) is
# per-sync, not per-row, so 23 per-query syncs would have multiplied
# exactly the hidden wall-clock cost the r10 verdict flagged (#2).
# A family source row is (qtag, doc_id, lang, code): each query's
# corpus keeps its own qtag, so a document edit re-syncs exactly that
# document's components (blast radius per (qtag, doc) — pinned in
# tests/test_served_family_index.py) and each query reads its qtag
# slice back with a pushed parquet filter — zero Python nodes, no
# query-time extraction.

import pandas as pd  # noqa: E402

from cocoindex_spark.operators.code_imports import imports_of  # noqa: E402
from cocoindex_spark.operators.code_match import (  # noqa: E402
    StructuralPattern,
    definitions,
)
from cocoindex_spark.operators.split import split_recursive  # noqa: E402


def _defs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The defs-family corpus: every definitions/region query's exact
    per-doc source text, one row per (qtag, doc, lang). The code
    expressions are the queries' original corpora, verbatim — the
    extraction output (and therefore every oracle) is unchanged."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    frames: list[DataFrame] = []

    def add(qtag: str, lang, code) -> None:
        lang_col = F.lit(lang) if isinstance(lang, str) else lang
        frames.append(
            d.select(
                F.lit(qtag).alias("qtag"),
                "doc_id",
                lang_col.alias("lang"),
                code.alias("code"),
            )
        )

    # q49: one language per congruence class; class 2 has no definitions
    q49_py = F.concat(
        F.lit("def p"), sid, F.lit("(x):\n    return x\n\nclass C"), sid,
        F.lit(":\n    pass\n"),
    )
    q49_go = F.concat(
        F.lit("func g"), sid, F.lit("() int {\n\treturn 1\n}\n\ntype T"), sid,
        F.lit(" struct {}\n"),
    )
    m3 = F.col("doc_id") % 3
    add(
        "q49",
        F.when(m3 == 1, F.lit("go")).otherwise(F.lit("python")),
        F.when(m3 == 0, q49_py)
        .when(m3 == 1, q49_go)
        .otherwise(F.lit("just prose, nothing to extract")),
    )
    # q79
    add("q79", "python", F.concat(
        F.lit("def real"), sid,
        F.lit('(x):\n    s = """\ndef fake():\n    pass\n"""\n'
              "    # class Fake2: pass\n    return s\n\n"),
        F.lit("class C"), sid, F.lit(':\n    tag = "def not_a_def(): pass"\n'),
    ))
    # q98
    add("q98", "rust", F.concat(
        F.lit("pub fn real"), sid,
        F.lit('(x: i64) -> i64 {\n    let s = "fn fake_str() {}";\n'
              "    // fn fake_line() {}\n    /* struct FakeBlock; */\n"
              "    x + 1\n}\n"),
        F.lit("struct Point"), sid, F.lit(";\n"),
        F.lit("trait Greet"), sid, F.lit(" {\n    fn hello(&self);\n}\n"),
    ))
    # q110
    add("q110", "c", F.concat(
        F.lit("#define MK(x) struct Fake##x { int v; } \\\n    extra(y) {\n"),
        F.lit("struct Point"), sid, F.lit(" { int x; };\n"),
        F.lit("static int add"), sid,
        F.lit('(int a, int b) {\n    const char *s = "struct FakeStr '
              '{ int z; };";\n    /* union FakeCmt; */\n    return a + b;\n}\n'),
        F.lit("typedef struct { int q; } handle"), sid, F.lit("_t;\n"),
    ))
    # q111
    add("q111", "ruby", F.concat(
        F.lit("module Api"), sid,
        F.lit("\n  DOC = <<~EOT\n    def fake_heredoc\n  EOT\n"),
        F.lit("  def get"), sid,
        F.lit('(x)\n    s = "def fake_str"\n    # def fake_line\n'
              "    x = 1 if x\n  end\n"),
        F.lit("end\n"),
        F.lit("def ping"), sid, F.lit(" = 1\n"),
    ))
    # q112
    add("q112", "lua", F.concat(
        F.lit("--[[ function fake_comment() end ]]\n"
              "s = [[ function fake_str() end ]]\n"),
        F.lit("local function calc"), sid,
        F.lit("(x)\n  if x > 0 then\n    return x\n  elseif x < 0 then\n"
              "    return -x\n  end\nend\n"),
        F.lit("function M.run"), sid,
        F.lit("(y)\n  for i = 1, y do\n    y = y - 1\n  end\nend\n"),
    ))
    # q122
    add("q122", "julia", F.concat(
        F.lit("module Api"), sid,
        F.lit('\nDOC = """\nfunction fake_triple\n"""\n# function fake_line\n'),
        F.lit("function get"), sid,
        F.lit('(x)\n    y = x[end]\n    s = "function fake_str"\nend\n'),
        F.lit("mutable struct Point"), sid,
        F.lit("\n    x::Int\nend\n"),
        F.lit("end\n"),
        F.lit("short"), sid, F.lit("(x) = x + 1\n"),
    ))
    # q123
    add("q123", "r", F.concat(
        F.lit('# fake <- function(x)\ns <- "fake <- function(y)"\n'),
        F.lit("helper"), sid, F.lit(" <- function(a) {\n  "),
        F.lit("inner"), sid, F.lit(" <- function(z) {\n    z + 1\n  }"),
        F.lit("\n  inner"), sid, F.lit("(a)\n}\n"),
        F.lit("short"), sid, F.lit(" = function(z) z * 2\n"),
    ))
    # q124
    add("q124", "sql", F.concat(
        F.lit("-- create table fake_line (x int);\n"),
        F.lit("CREATE TABLE users"), sid,
        F.lit(" (id BIGINT, note VARCHAR DEFAULT 'create view fake_str');\n"),
        F.lit("/* create index fake_block; */\n"),
        F.lit("CREATE OR REPLACE VIEW api.v"), sid, F.lit(" AS SELECT 1;\n"),
        F.lit("CREATE FUNCTION f"), sid,
        F.lit("() RETURNS BIGINT AS $body$ SELECT 1; -- fake\n$body$ LANGUAGE sql;\n"),
    ))
    # q125
    add("q125", "markdown", F.concat(
        F.lit("# Title"), sid,
        F.lit("\nintro\n```python\n# fake heading in fence\n```\n"),
        F.lit("## Sub"), sid, F.lit("\nbody\n"),
        F.lit("# Next"), sid, F.lit("\ntail\n"),
    ))
    # q128
    add("q128", "html", F.concat(
        F.lit("<body>\n"),
        F.lit('<script>var s = "</div><div id=\'fake\'>";</script>\n'),
        F.lit('<!-- <div id="fake2"> -->\n'),
        F.lit('<div id="m'), sid, F.lit('"><p>x</p></div>\n'),
        F.lit("</body>\n"),
    ))
    # q129 — two components per doc (the toml text and the yaml text)
    add("q129", "toml", F.concat(
        F.lit('title = "x"\n'),
        F.lit("[server"), sid,
        F.lit(']\ndoc = """\n[fake]\n"""\n'),
        F.lit("[[jobs]]\nn = 1\n"),
    ))
    add("q129", "yaml", F.lit("top: 1\nscript: |\n  fake: in block\nlast: 2\n"))
    # q130
    add("q130", "css", F.concat(
        F.lit("/* .fake { } */\n"),
        F.lit(".btn"), sid,
        F.lit(' {\n  content: "} .fake2 {";\n}\n'),
        F.lit("@media (min-width: 10px) {\n  .nav"), sid,
        F.lit(" { display: none; }\n}\n"),
    ))
    # q131 — two components per doc (fortran + json)
    add("q131", "fortran", F.concat(
        F.lit("! subroutine fake\n"),
        F.lit("module geo"), sid, F.lit("\ncontains\n"),
        F.lit("  function area"), sid,
        F.lit('(r)\n    s = "subroutine fake_str"\n  end function\n'),
        F.lit("end module\n"),
    ))
    add("q131", "json", F.concat(
        F.lit('{\n  "name": "x}y",\n'),
        F.lit('  "deps'), sid, F.lit('": {"fake": "}"}\n'),
    ))
    # q132
    add("q132", "pascal", F.concat(
        F.lit("{ procedure Fake1; }\n"),
        F.lit("procedure Outer"), sid, F.lit("(x: Integer);\n"),
        F.lit("  function Inner"), sid, F.lit("(y: Integer): Integer;\n"),
        F.lit("  begin\n"),
        F.lit("    Inner"), sid, F.lit(" := y + 1;\n"),
        F.lit("  end;\n"),
        F.lit("begin\n"),
        F.lit("  s := 'procedure Fake2;';\n"),
        F.lit("  case x of 1: s := 'a'; end;\n"),
        F.lit("end;\n"),
    ))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@_coco_fn(memo=True)
def extract_def_rows(df: DataFrame) -> DataFrame:
    """Per-(qtag, doc, lang) definition rows — ONE Arrow pass with
    per-row language dispatch over the whole defs family (the same
    §4.1 single-pass shape as code_views_multilang_df)."""
    schema = "array<struct<kind: string, name: string, start: long, end: long>>"

    def run(langs: pd.Series, texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                []
                if t is None or lg is None
                else [
                    (d["kind"], d["name"], d["start"], d["end"])
                    for d in definitions(t, lg)
                ]
                for lg, t in zip(langs, texts)
            ]
        )

    udf = F.pandas_udf(run, schema)
    v = df.withColumn("__d", F.explode(udf(F.col("lang"), F.col("code"))))
    return v.select(
        "__args_fp",
        "__component_path",
        "qtag",
        "doc_id",
        "lang",
        F.col("__d.kind").alias("def_kind"),
        F.col("__d.name").alias("def_name"),
        F.col("__d.start").alias("def_start"),
        F.col("__d.end").alias("def_end"),
    )


def _chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunks-family corpus: (qtag, doc_id, lang, csize, code) —
    each chunking query's exact original source text and split params."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    specs = [
        ("q29", "python", 70, F.concat(
            F.lit("def a"), sid,
            F.lit('():\n    s = """\ndef fake():\n    pass\n"""\n    return s\n\n'),
            F.lit("def b"), sid, F.lit("():\n    return "), sid, F.lit("\n"),
        )),
        ("q100", "rust", 70, F.concat(
            F.lit("fn a"), sid,
            F.lit('() -> i64 {\n    let s = "fn fake() {}";\n    1\n}\n\n'),
            F.lit("fn b"), sid, F.lit("() -> i64 {\n    2\n}\n"),
        )),
        ("q108", "javascript", 100, F.concat(
            F.lit("function a"), sid,
            F.lit("() {\n  const s = `function fake() {} ${ {x: 1} } more`;\n"
                  "  return 1;\n}\n\n"),
            F.lit("function b"), sid, F.lit("() {\n  return 2;\n}\n"),
        )),
        ("q133", "markdown", 70, F.concat(
            F.lit("# A"), sid,
            F.lit("\nintro words here\n```\n# fake heading\ncode\n```\n"),
            F.lit("# B"), sid, F.lit("\nbody tail words\n"),
        )),
    ]
    frames = [
        d.select(
            F.lit(qtag).alias("qtag"),
            "doc_id",
            F.lit(lang).alias("lang"),
            F.lit(csize).cast("int").alias("csize"),
            code.alias("code"),
        )
        for qtag, lang, csize, code in specs
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@_coco_fn(memo=True)
def extract_chunk_rows(df: DataFrame) -> DataFrame:
    """Per-(qtag, doc) recursive-chunk rows, ONE Arrow pass with
    per-row (language, chunk_size) dispatch; the md5 the queries
    project is computed JVM-side at sync time so the stored row is
    the narrow (md5, span) shape — the chunk text itself never lands
    in the index (§2.3 narrower rows)."""
    schema = "array<struct<text: string, start_char: int, end_char: int>>"

    def run(langs: pd.Series, csizes: pd.Series, texts: pd.Series) -> pd.Series:
        out = []
        for lg, cs, t in zip(langs, csizes, texts):
            if t is None or lg is None:
                out.append([])
                continue
            out.append(
                [
                    (c.text, c.start_char, c.end_char)
                    for c in split_recursive(
                        t, chunk_size=int(cs), language=lg
                    )
                ]
            )
        return pd.Series(out)

    udf = F.pandas_udf(run, schema)
    exploded = df.withColumn(
        "__cs", udf(F.col("lang"), F.col("csize"), F.col("code"))
    ).select(*df.columns, F.posexplode("__cs").alias("chunk_idx", "__c"))
    return exploded.select(
        "__args_fp",
        "__component_path",
        "qtag",
        "doc_id",
        "chunk_idx",
        F.md5(F.encode(F.col("__c.text"), "UTF-8")).alias("chunk_md5"),
        F.col("__c.start_char").alias("start_char"),
        F.col("__c.end_char").alias("end_char"),
    )


# Per-qtag structural patterns for the captures family: (pattern,
# language, capture names in stored-column order c1..c3). Folded into
# the extractor's logic fp via deps= — editing a pattern re-extracts.
_CAPTURE_SPECS = {
    "q48": (r"def \NAME(\(A*\)): return \R", "python", ("NAME", "A", "R")),
    "q134": (r"fn \NAME(\(ARGS*\)) -> \RET {", "rust", ("NAME", "ARGS", "RET")),
    "q138": (
        r"fn \NAME(\(A+\)) -> u64 \{{ return \(X+\); \}}",
        "rust",
        ("NAME", "X"),
    ),
}


def _caps_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    q48_code = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("def f"), sid, F.lit("(): return "), sid))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("def g"), sid, F.lit("(x, y=2): return x")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("class C"), sid, F.lit(": pass")))
        .otherwise(F.concat(F.lit("v"), sid, F.lit(" = compute("), sid, F.lit(", 7)")))
    )
    q134_code = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("// fn decoy_line(a: u8) -> u8 { 0 }\nfn f"), sid,
                F.lit("(x: Vec<Vec<u8>>, n"), sid,
                F.lit(": usize) -> Result<u64, E"), sid,
                F.lit("> { 0 }"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('const S: &str = "fn decoy_str(y: u8) -> u8 { 1 }";\nfn g'),
                sid, F.lit("() -> u64 { "), sid, F.lit(" }"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit('const R: &str = r#"fn decoy_raw() -> u8 { 2 }"#;\nstruct T'),
                sid, F.lit(";"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("/* fn decoy_block() -> u8 { 3 } */\nlet v"), sid, F.lit(" = 1;")
            )
        )
    )
    q138_code = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("fn f"), sid, F.lit("(x: u64) -> u64 { let t = 1; return x + "), sid, F.lit("; }")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("fn f"), sid, F.lit("(y: u64) -> u64 { if y > 0 { return y * 2; } 0 }")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("fn f"), sid, F.lit("(z: u64) -> u64 { z + 1 }")),
        )
        .otherwise(
            F.concat(F.lit('fn f'), sid, F.lit('(w: u64) -> u64 { let s = "return w;"; w }')),
        )
    )
    frames = [
        d.select(F.lit(q).alias("qtag"), "doc_id", code.alias("code"))
        for q, code in (("q48", q48_code), ("q134", q134_code), ("q138", q138_code))
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@_coco_fn(memo=True, deps=(_CAPTURE_SPECS,))
def extract_capture_rows(df: DataFrame) -> DataFrame:
    """Per-(qtag, doc) structural-match capture rows, ONE Arrow pass;
    the per-qtag StructuralPattern is compiled once per task (§4.5)."""
    schema = "array<struct<c1: string, c2: string, c3: string>>"

    def run(qtags: pd.Series, texts: pd.Series) -> pd.Series:
        pats: dict = {}
        out = []
        for qt, t in zip(qtags, texts):
            if t is None or qt is None:
                out.append([])
                continue
            ent = pats.get(qt)
            if ent is None:
                pat, lang, names = _CAPTURE_SPECS[qt]
                ent = pats[qt] = (StructuralPattern(pat, lang), names)
            cp, names = ent
            rows = []
            for m in cp.match(t):
                vals = [m.captures.get(n) for n in names]
                vals.extend([None] * (3 - len(vals)))
                rows.append(tuple(vals))
            out.append(rows)
        return pd.Series(out)

    udf = F.pandas_udf(run, schema)
    exploded = df.withColumn("__m", udf(F.col("qtag"), F.col("code"))).select(
        *df.columns, F.posexplode("__m").alias("m_idx", "__c")
    )
    return exploded.select(
        "__args_fp",
        "__component_path",
        "qtag",
        "doc_id",
        "m_idx",
        F.col("__c.c1").alias("c1"),
        F.col("__c.c2").alias("c2"),
        F.col("__c.c3").alias("c3"),
    )


def _imports_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    sid5 = (F.col("doc_id") % 5).cast("string")
    sid4 = (F.col("doc_id") % 4).cast("string")
    py_code = F.concat(
        F.lit("import mod"), sid5,
        F.lit("\nfrom pkg"), sid4, F.lit(" import thing\n"),
        F.lit('x = "import fake"\n# import fake2\n'),
    )
    js_code = F.concat(
        F.lit('import a from "lib'), sid5, F.lit('";\n'),
        F.lit('const b = require("util'), sid4, F.lit('");\n'),
        F.lit('// import fake from "nope"\nlet s = \'import f2 from "x"\';\n'),
    )
    java_code = F.concat(
        F.lit("import com.ex.Mod"), sid5, F.lit(";\n"),
        F.lit("import static com.ex.Util"), sid4, F.lit(".*;\n"),
        F.lit('// import fake.Thing;\nclass C { String s = "import x.Y;"; }\n'),
    )
    m3 = F.col("doc_id") % 3
    return d.select(
        "doc_id",
        F.when(m3 == 0, F.lit("python"))
        .when(m3 == 1, F.lit("javascript"))
        .otherwise(F.lit("java"))
        .alias("lang"),
        F.when(m3 == 0, py_code).when(m3 == 1, js_code).otherwise(java_code)
        .alias("code"),
    )


@_coco_fn(memo=True)
def extract_import_rows(df: DataFrame) -> DataFrame:
    """Per-doc import edges, ONE Arrow pass with per-row language
    dispatch (the pre-r11 q151 ran one filtered imports_df pass + one
    union branch per language)."""
    schema = "array<struct<module: string, start: long>>"

    def run(langs: pd.Series, texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                []
                if t is None or lg is None
                else [(i["module"], i["start"]) for i in imports_of(t, lg)]
                for lg, t in zip(langs, texts)
            ]
        )

    udf = F.pandas_udf(run, schema)
    v = df.withColumn("__i", F.explode(udf(F.col("lang"), F.col("code"))))
    return v.select(
        "__args_fp",
        "__component_path",
        "doc_id",
        "lang",
        F.col("__i.module").alias("module"),
        F.col("__i.start").alias("imp_start"),
    )


# (family → sync spec): docs builder, extractor, component key cols,
# target pk, target schema, name-probe layout (None, or (column, bucket
# count)). One engine sync per family per session. The three code-views
# families hold the element-view corpora (q152, q153, q154, q157, q158,
# q160; each query reads its qtag slice whole), the probed usage corpus
# (q156, q159, q162) and the probed five-language corpus (q161).
_CV_SCHEMA = (
    "lang STRING, row_kind STRING, kind STRING, name STRING,"
    " owner STRING, start LONG"
)
_FAMILY_SPECS = {
    "defs": (
        _defs_docs,
        extract_def_rows,
        ["qtag", "doc_id", "lang"],
        ["qtag", "doc_id", "lang", "def_kind", "def_name", "def_start"],
        "qtag STRING, doc_id LONG, lang STRING, def_kind STRING,"
        " def_name STRING, def_start LONG, def_end LONG",
        None,
    ),
    "chunks": (
        _chunks_docs,
        extract_chunk_rows,
        ["qtag", "doc_id"],
        ["qtag", "doc_id", "chunk_idx"],
        "qtag STRING, doc_id LONG, chunk_idx INT, chunk_md5 STRING,"
        " start_char INT, end_char INT",
        None,
    ),
    "caps": (
        _caps_docs,
        extract_capture_rows,
        ["qtag", "doc_id"],
        ["qtag", "doc_id", "m_idx"],
        "qtag STRING, doc_id LONG, m_idx INT, c1 STRING, c2 STRING, c3 STRING",
        None,
    ),
    "imports": (
        _imports_docs,
        extract_import_rows,
        ["doc_id"],
        ["doc_id", "module", "imp_start"],
        "doc_id LONG, lang STRING, module STRING, imp_start LONG",
        None,
    ),
    "code_views": (
        _code_views_docs,
        extract_code_view_rows,
        ["qtag", "doc_id"],
        ["qtag", "doc_id", "row_kind", "kind", "name", "start"],
        "qtag STRING, doc_id LONG, " + _CV_SCHEMA,
        None,
    ),
    "usage_code_views": (
        _q156_docs,
        extract_code_view_rows,
        ["doc_id"],
        ["doc_id", "row_kind", "kind", "name", "start"],
        "doc_id LONG, " + _CV_SCHEMA,
        ("name", 64),
    ),
    "corpus_code_views": (
        _q161_docs,
        extract_code_view_rows,
        ["doc_id"],
        ["doc_id", "row_kind", "kind", "name", "start"],
        "doc_id LONG, " + _CV_SCHEMA,
        ("name", 64),
    ),
}


def sync_family(app, family: str, docs: DataFrame):
    """Sync ``docs`` into ``family``'s index target of ``app``; returns
    (target, stats). The one builder of every family target: the served
    indexes (``_served_family_index``) and the tests' own apps."""
    import os as _os

    _, extract, key_cols, pk, schema, probe = _FAMILY_SPECS[family]
    target = app.target(
        _os.path.join(app.state.root, "targets", f"{family}_idx"), pk, schema
    )
    if probe is not None:
        probe_col, buckets = probe
        target.declare_index("usage", "code", probe_col=probe_col, probe_buckets=buckets)
    stats = app.sync_table(docs, key_cols, extract, target)
    return target, stats


def _served_family_index(spark: SparkSession, sf_dir: str, family: str):
    """``family``'s index target, synced once per session by ``served``
    and read by every family member after that."""

    def build(app):
        return sync_family(app, family, _FAMILY_SPECS[family][0](spark, sf_dir))[0]

    return served(spark, sf_dir, family, build)


def _code_views_read(spark: SparkSession, sf_dir: str, qtag: str) -> DataFrame:
    v = _served_family_index(spark, sf_dir, "code_views").read(spark)
    return v.filter(F.col("qtag") == qtag)


def _defs_read(spark: SparkSession, sf_dir: str, qtag: str) -> DataFrame:
    v = _served_family_index(spark, sf_dir, "defs").read(spark)
    return v.filter(F.col("qtag") == qtag)


def _chunks_read(spark: SparkSession, sf_dir: str, qtag: str) -> DataFrame:
    v = _served_family_index(spark, sf_dir, "chunks").read(spark)
    return v.filter(F.col("qtag") == qtag).select(
        "doc_id", "chunk_idx", "chunk_md5", "start_char", "end_char"
    )


def _caps_read(spark: SparkSession, sf_dir: str, qtag: str) -> DataFrame:
    v = _served_family_index(spark, sf_dir, "caps").read(spark)
    return v.filter(F.col("qtag") == qtag)
