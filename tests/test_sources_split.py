"""localfs scan + pattern matcher + splitters (reference:
tests/connectors/test_localfs_source.py style; ops tests
test_text.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cocoindex_spark.operators.split import (
    explode_chunks,
    split_by_separator,
    split_recursive,
)
from cocoindex_spark.sources.localfs import PatternFilePathMatcher, scan_dir


def test_pattern_matcher_negation():
    m = PatternFilePathMatcher(
        included_patterns=["**/*.md", "**/*.py"],
        excluded_patterns=["**/vendor/**", "!**/vendor/keep.py"],
    )
    assert m.matches("a/b.md")
    assert m.matches("x.py")
    assert not m.matches("x.rs")
    assert not m.matches("src/vendor/lib.py")
    assert m.matches("src/vendor/keep.py")  # '!' re-include wins


def test_pattern_matcher_single_star_no_dirs():
    m = PatternFilePathMatcher(included_patterns=["*.md"])
    assert m.matches("top.md")
    assert not m.matches("nested/deep.md")


def test_pattern_match_col_parity(spark):
    """The JVM-compiled glob filter (match_col) must agree with the
    Python matcher on every path — they share the glob→regex
    translation, this pins the CASE-chain ordering (last match wins)."""
    from pyspark.sql import functions as F

    m = PatternFilePathMatcher(
        included_patterns=["**/*.md", "**/*.py", "docs/?.txt"],
        excluded_patterns=["**/vendor/**", "!**/vendor/keep.py", "**/tmp/**"],
    )
    paths = [
        "a/b.md", "x.py", "x.rs", "src/vendor/lib.py", "src/vendor/keep.py",
        "docs/a.txt", "docs/ab.txt", "tmp/x.md", "deep/tmp/y.py",
        "src/vendor/tmp/keep.py", "weird*name.md", "dot.file.py",
    ]
    df = spark.createDataFrame([(p,) for p in paths], "relpath STRING")
    got = {
        r["relpath"]: r["ok"]
        for r in df.select("relpath", m.match_col(F.col("relpath")).alias("ok")).collect()
    }
    assert got == {p: m.matches(p) for p in paths}


def test_decode_text_any_column_name(spark):
    """decode_text must work on derived/renamed binary columns (the BOM
    branches used to hard-code the name 'content')."""
    from pyspark.sql import functions as F

    from cocoindex_spark.sources.localfs import decode_text

    df = spark.createDataFrame(
        [(b"\xef\xbb\xbfutf8 bom",), (b"\xff\xfeh\x00i\x00",), (b"plain",)],
        "blob BINARY",
    )
    out = [r["t"] for r in df.select(decode_text(F.col("blob")).alias("t")).collect()]
    assert out == ["utf8 bom", "hi", "plain"]


def test_scan_dir(spark, tmp_state):
    root = os.path.join(tmp_state, "corpus")
    os.makedirs(os.path.join(root, "sub"))
    with open(os.path.join(root, "a.md"), "w") as f:
        f.write("hello")
    with open(os.path.join(root, "sub", "b.md"), "w") as f:
        f.write("world!")
    with open(os.path.join(root, "sub", "c.txt"), "w") as f:
        f.write("skip me")

    df = scan_dir(spark, root, included_patterns=["**/*.md"], binary=False)
    rows = {r["relpath"]: (r["size"], r["text"]) for r in df.collect()}
    assert rows == {"a.md": (5, "hello"), "sub/b.md": (6, "world!")}


def test_scan_dir_bom_decode(spark, tmp_state):
    root = os.path.join(tmp_state, "bom")
    os.makedirs(root)
    with open(os.path.join(root, "bom.txt"), "wb") as f:
        f.write(b"\xef\xbb\xbfbom text")
    df = scan_dir(spark, root, binary=False)
    assert df.collect()[0]["text"] == "bom text"


def test_split_by_separator_positions():
    text = "aaa\n\nbbb\n\nccc"
    chunks = split_by_separator(text, separator=r"\n\n", chunk_size=4)
    assert [c.text for c in chunks] == ["aaa", "bbb", "ccc"]
    assert chunks[0].start_char == 0 and chunks[0].end_char == 3
    assert chunks[1].start_line == 3  # 1-based line after two \n
    assert chunks[1].start_col == 1


def test_split_by_separator_packing_and_overlap():
    text = "ab cd ef gh"
    chunks = split_by_separator(text, separator=r"\s", chunk_size=5, chunk_overlap=0)
    assert [c.text for c in chunks] == ["ab cd", "ef gh"]
    over = split_by_separator(text, separator=r"\s", chunk_size=8, chunk_overlap=3)
    # overlap makes chunk 2 start inside chunk 1
    assert over[0].end_char > over[1].start_char or len(over) == 1


def test_split_recursive_hierarchy():
    text = ("para one sentence a. sentence b.\n\n" + "x" * 600 + "\n\nshort tail")
    chunks = split_recursive(text, chunk_size=100)
    # every chunk respects the size cap
    assert all(len(c.text) <= 100 for c in chunks)
    # the 600-char run was hard-cut, surroundings kept whole
    assert chunks[0].text.startswith("para one")
    assert any(c.text == "x" * 100 for c in chunks)
    assert chunks[-1].text.endswith("short tail")
    # spans are faithful to the original text
    for c in chunks:
        assert text[c.start_char : c.end_char] == c.text


def test_split_recursive_min_chunk_merge():
    text = "a. b. c. d. e. f."
    merged = split_recursive(text, chunk_size=10, min_chunk_size=6)
    assert all(len(c.text) >= 5 for c in merged[:-1])


def test_language_table_covers_reference():
    """Every language in the reference's tree-sitter table
    (docs ops/text.mdx) plus its named separator-fallback languages has
    a boundary hierarchy; all patterns compile; aliases resolve."""
    import re as _re

    from cocoindex_spark.operators.split import (
        LANGUAGE_SEPARATORS,
        resolve_language,
    )

    reference_langs = [
        "astro", "c", "cpp", "c_sharp", "css", "fortran", "go", "html",
        "java", "javascript", "json", "julia", "kotlin", "markdown",
        "pascal", "php", "python", "r", "ruby", "rust", "scala",
        "solidity", "sql", "svelte", "swift", "toml", "tsx",
        "typescript", "vue", "xml", "yaml",
    ]
    assert len(reference_langs) == 31
    for lang in reference_langs:
        assert lang in LANGUAGE_SEPARATORS, lang
        for pat in LANGUAGE_SEPARATORS[lang]:
            _re.compile(pat)
    assert resolve_language("C++") == "cpp"
    assert resolve_language("JS") == "javascript"
    assert resolve_language("no-such-lang") == "text"
    assert resolve_language(None) == "text"


_SNIPPETS = {
    "python": "class A:\n    def f(self):\n        pass\n\ndef g():\n    return 1\n",
    "go": "package m\n\nfunc A() int {\n\treturn 1\n}\n\nfunc B() int {\n\treturn 2\n}\n",
    "rust": "fn a() -> i32 { 1 }\n\nimpl Foo {\n    fn b(&self) {}\n}\n",
    "sql": "CREATE TABLE t (x INT);\nINSERT INTO t VALUES (1);\nSELECT * FROM t;\n",
    "yaml": "top:\n  a: 1\n---\nother:\n  b: 2\n",
    "java": "public class A {\n  public int f() { return 1; }\n  private void g() {}\n}\n",
    "javascript": "export function a() {}\n\nconst b = () => 2;\n\nclass C {}\n",
    "markdown": "# Title\n\nintro text\n\n## Section\n\nbody text\n",
}


def test_split_recursive_all_languages():
    """Per-language boundary splitting: spans ordered, in-bounds, sized,
    and coarse boundaries actually used (a function/class start begins
    a chunk for code languages)."""
    from cocoindex_spark.operators.split import (
        LANGUAGE_SEPARATORS,
        split_recursive,
    )

    generic = "word " * 40 + "\n\n" + "tail " * 40
    for lang in LANGUAGE_SEPARATORS:
        text = _SNIPPETS.get(lang, generic)
        chunks = split_recursive(text, chunk_size=40, language=lang)
        assert chunks, lang
        prev_end = 0
        for c in chunks:
            assert 0 <= c.start_char < c.end_char <= len(text), lang
            assert c.start_char >= prev_end or c.start_char >= 0, lang
            assert len(c.text) <= 40, (lang, c.text)
            prev_end = c.end_char

    # boundary sanity: each def/func starts a fresh chunk
    py = split_recursive(_SNIPPETS["python"], chunk_size=40, language="python")
    assert any(c.text.startswith("def g") for c in py)
    go = split_recursive(_SNIPPETS["go"], chunk_size=40, language="go")
    assert any(c.text.startswith("func B") for c in go)


def test_split_recursive_overlap():
    from cocoindex_spark.operators.split import split_recursive

    text = ("alpha " * 10 + "\n\n") * 4  # 4 paragraphs of 60 chars
    plain = split_recursive(text, chunk_size=70, language="text")
    lapped = split_recursive(text, chunk_size=70, language="text", chunk_overlap=12)
    assert len(plain) == len(lapped) > 1
    for prev, p, q in zip(plain, plain[1:], lapped[1:]):
        assert q.start_char == max(
            p.start_char - 12, prev.start_char + 1, p.end_char - 70, 0
        )
        assert q.end_char == p.end_char
        assert len(q.text) <= 70

    # overlap larger than the gap between tiny spans must never reach
    # back TO the predecessor's start (fuzz-found: a chunk that starts
    # where its predecessor does fully contains it)
    weird = split_recursive("0\n000000 00", chunk_size=8, language="astro", chunk_overlap=2)
    starts = [c.start_char for c in weird]
    assert starts == sorted(set(starts)), starts


def test_explode_chunks_spark(spark):
    df = spark.createDataFrame(
        [("d1", "one two three four five six seven eight")], "id STRING, body STRING"
    )
    out = explode_chunks(df, "body", mode="separator", separator=r"\s", chunk_size=10)
    rows = out.orderBy("chunk_idx").collect()
    assert rows[0]["chunk_idx"] == 0
    assert all(len(r["chunk_text"]) <= 10 for r in rows)
    # reconstructable coverage: chunks span the whole body
    assert rows[0]["start_char"] == 0
    assert rows[-1]["end_char"] == len("one two three four five six seven eight")
    assert out.columns[:2] == ["id", "body"]


def test_cdc_chunks_single_word_doc(spark, monkeypatch):
    """q147 CDC chunking of single-word documents: Spark's
    sequence(1, 0) is DESCENDING, so a one-word doc must not index out
    of range, and it must emit the whole-doc chunk the DuckDB oracle
    does."""
    import duckdb
    import pandas as pd

    import cocoindex_spark.queries.textq as tq
    from cocoindex_spark.queries import all_oracles

    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d2", "d3", "d4"],
            "text": ["hello", "a b c d e f g h i j", "hello", "  lone  "],
            "source": ["s", "s", "t", "t"],
        }
    )
    df = spark.createDataFrame(pdf)
    monkeypatch.setattr(tq, "table", lambda sp, sf, name: df)
    got = {
        (r.chunk_hash, r.n_occurrences, r.n_docs)
        for r in tq.q147_cdc_chunk_dedup(spark, "ignored").collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    want = {tuple(r) for r in con.execute(all_oracles()["q147_cdc_chunk_dedup"]).fetchall()}
    assert got == want
    # the single-word docs surface as one shared whole-doc chunk
    assert any(n_occ == 2 and n_docs == 2 for _, n_occ, n_docs in got)
