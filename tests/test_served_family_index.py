"""The served FAMILY indexes (defs / chunks / captures / imports /
code_views) — one engine sync per row-shape family serving every query
of that family as a pure parquet read (the extract-once-serve-many
recipe with per-(qtag, doc) components). Pins:

- row-for-row equality between the family extractors and the per-query
  operator pipelines (definitions_df / explode_chunks / match_code_df /
  imports_df / code_views_multilang_df) for each family member's corpus;
- blast radius: editing one document re-syncs exactly that document's
  components, and only its qtag rows change;
- the served read plans contain zero Python eval nodes;
- ``registry.served`` syncs once per (session, sf_dir, tag): a repeat
  call of any served query runs no sync.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cocoindex_spark.engine.app import App
from cocoindex_spark.queries.codeq import (
    extract_def_rows,
    sync_family,
)


@pytest.fixture()
def app(spark, tmp_state):
    a = App("svc_test", state_dir=tmp_state, spark=spark)
    yield a
    a.drop()


def test_defs_rows_match_definitions_df(spark, tmp_state):
    """Index rows == definitions_df output for a mixed-language corpus
    (the defs family's per-row dispatch against the per-language
    operator the queries used pre-r11)."""
    from cocoindex_spark.operators.code_match import definitions_df

    rows = [
        (1, "rust", "pub fn real1(x: i64) -> i64 { x }\nstruct P1;\n"),
        (2, "ruby", "module Api2\n  def get2(x)\n  end\nend\n"),
        (3, "python", "def p3(x):\n    return x\n\nclass C3:\n    pass\n"),
        (4, "python", "just prose, nothing to extract"),
    ]
    docs = spark.createDataFrame(
        [("t", d, lg, c) for d, lg, c in rows],
        "qtag STRING, doc_id LONG, lang STRING, code STRING",
    )
    app = App("svc_eq", state_dir=tmp_state, spark=spark)
    target, cold = sync_family(app, "defs", docs)
    assert cold.memo_misses == 4
    got = sorted(
        (r["doc_id"], r["def_kind"], r["def_name"], r["def_start"], r["def_end"])
        for r in target.read(spark).collect()
    )
    want = []
    for d, lg, c in rows:
        one = spark.createDataFrame([(d, c)], "doc_id LONG, code STRING")
        for r in definitions_df(one, "code", lg).collect():
            want.append(
                (r["doc_id"], r["def_kind"], r["def_name"],
                 int(r["def_start"]), int(r["def_end"]))
            )
    assert got == sorted(want)


def test_family_blast_radius_one_doc(spark, tmp_state):
    """One edited document ⇒ exactly its components recompute; rows of
    every other (qtag, doc) are untouched."""
    mk = lambda c2: spark.createDataFrame(
        [
            ("a", 1, "rust", "fn f1() -> u64 { 1 }\n"),
            ("a", 2, "rust", c2),
            ("b", 1, "rust", "struct S1;\n"),
            ("b", 2, "rust", "struct S2;\n"),
        ],
        "qtag STRING, doc_id LONG, lang STRING, code STRING",
    )
    app = App("svc_blast", state_dir=tmp_state, spark=spark)
    target, cold = sync_family(app, "defs", mk("fn f2() -> u64 { 2 }\n"))
    assert cold.memo_misses == 4

    _, edit = sync_family(app, "defs", mk("fn f2edit() -> u64 { 2 }\n"))
    assert edit.memo_misses == 1  # blast radius: the one edited component
    rows = {
        (r["qtag"], r["doc_id"], r["def_name"])
        for r in target.read(spark).collect()
    }
    assert rows == {
        ("a", 1, "f1"), ("a", 2, "f2edit"), ("b", 1, "S1"), ("b", 2, "S2")
    }


def test_chunk_and_capture_and_import_rows_match_operators(spark, tmp_state):
    """Family extractor output == the pre-r11 per-query operator output
    on the same corpus (chunks vs explode_chunks incl. md5; captures vs
    match_code_df; imports vs imports_df)."""
    from cocoindex_spark.operators.code_imports import imports_df
    from cocoindex_spark.operators.code_match import match_code_df
    from cocoindex_spark.operators.split import explode_chunks

    app = App("svc_ops", state_dir=tmp_state, spark=spark)

    # chunks: rust corpus with a decoy fn inside a string
    code = 'fn a9() -> i64 {\n    let s = "fn fake() {}";\n    1\n}\n\nfn b9() -> i64 {\n    2\n}\n'
    docs = spark.createDataFrame(
        [("t", 9, "rust", 70, code)],
        "qtag STRING, doc_id LONG, lang STRING, csize INT, code STRING",
    )
    target, _ = sync_family(app, "chunks", docs)
    got = sorted(
        (r["chunk_idx"], r["chunk_md5"], r["start_char"], r["end_char"])
        for r in target.read(spark).collect()
    )
    one = spark.createDataFrame([(9, code)], "doc_id LONG, code STRING")
    want = sorted(
        (r["chunk_idx"], r["chunk_md5"], r["start_char"], r["end_char"])
        for r in explode_chunks(
            one, "code", mode="recursive", chunk_size=70, language="rust"
        )
        .select(
            "chunk_idx",
            F.md5(F.encode(F.col("chunk_text"), "UTF-8")).alias("chunk_md5"),
            "start_char",
            "end_char",
        )
        .collect()
    )
    assert got == want and len(got) == 2

    # captures: q138's containment pattern, nested return
    ccode = "fn f5(y: u64) -> u64 { if y > 0 { return y * 2; } 0 }"
    cdocs = spark.createDataFrame(
        [("q138", 5, ccode), ("q138", 6, "fn f6(z: u64) -> u64 { z + 1 }")],
        "qtag STRING, doc_id LONG, code STRING",
    )
    app2 = App("svc_ops2", state_dir=tmp_state, spark=spark)
    tcaps, _ = sync_family(app2, "caps", cdocs)
    got = [
        (r["doc_id"], r["c1"], r["c2"])
        for r in tcaps.read(spark).collect()
    ]
    one = spark.createDataFrame([(5, ccode)], "doc_id LONG, code STRING")
    want = [
        (r["doc_id"], r["captures"]["NAME"], r["captures"]["X"])
        for r in match_code_df(
            one, "code",
            r"fn \NAME(\(A+\)) -> u64 \{{ return \(X+\); \}}", "rust",
        ).collect()
    ]
    assert got == want == [(5, "f5", "y * 2")]

    # imports: python + java corpus vs per-language imports_df
    idocs = spark.createDataFrame(
        [
            (1, "python", 'import mod1\nx = "import fake"\n'),
            (2, "java", "import com.ex.Mod2;\n// import fake.T;\n"),
        ],
        "doc_id LONG, lang STRING, code STRING",
    )
    timp, _ = sync_family(app2, "imports", idocs)
    got = sorted(
        (r["doc_id"], r["module"]) for r in timp.read(spark).collect()
    )
    want = []
    for d, lg, c in [(1, "python", idocs.collect()[0]["code"]),
                     (2, "java", idocs.collect()[1]["code"])]:
        one = spark.createDataFrame([(d, c)], "doc_id LONG, code STRING")
        want += [
            (r["doc_id"], r["module"])
            for r in imports_df(one, "code", lg).collect()
        ]
    assert got == sorted(want) == [(1, "mod1"), (2, "com.ex.Mod2")]


def test_extractor_logic_fp_covers_operator_chain():
    """The defs extractor's logic fp folds the module-scope operator
    chain (definitions → tokenize …): the dep walk resolves them, so an
    operator edit invalidates memoized index rows (the r10 advisor's
    function-local-import gap, closed for the family extractors)."""
    from cocoindex_spark.engine.function import _auto_dep_fps

    deps = _auto_dep_fps(extract_def_rows.fn)
    assert any(name.startswith("definitions:") for name in deps)


def test_served_family_index_builds_once(spark, monkeypatch):
    """One build per (session, sf_dir, tag): the first `served` call runs
    `build` on a fresh `svc_<tag>` App and records one `SYNC_SECONDS`
    entry; a repeat call returns the cached value without building
    again. A family index is served through the same cache."""
    from cocoindex_spark.queries import codeq, registry

    monkeypatch.setattr(registry, "_SERVE_CACHE", {})
    monkeypatch.setattr(registry, "SYNC_SECONDS", {})
    builds = []

    def build(app):
        builds.append(app.name)
        return object()

    sf_dir = "/served-index-test"
    first = registry.served(spark, sf_dir, "tagx", build)
    assert registry.served(spark, sf_dir, "tagx", build) is first
    assert builds == ["svc_tagx"]
    assert list(registry.SYNC_SECONDS) == [(sf_dir, "tagx")]

    def fake_sync(app, family, docs):
        builds.append((app.name, family, docs))
        return object(), None

    monkeypatch.setattr(codeq, "sync_family", fake_sync)
    monkeypatch.setitem(
        codeq._FAMILY_SPECS, "famx", (lambda spark, sf_dir: sf_dir,) + (None,) * 5
    )
    target = codeq._served_family_index(spark, sf_dir, "famx")
    assert codeq._served_family_index(spark, sf_dir, "famx") is target
    assert builds[1:] == [("svc_famx", "famx", sf_dir)]
    assert (sf_dir, "famx") in registry.SYNC_SECONDS


# (query, the serve tag of the index it reads) for the served queries
# outside the code-view family reads.
_SERVED_QUERIES = [
    ("q99_pair_relation_read", "simhash"),
    ("q135_hll_sketch_read", "hll"),
    ("q136_cm_sketch_read", "cm"),
    ("q137_quickstart_topk", "quickstart"),
    ("q144_session_search_indexed", "sessions"),
    ("q155_fts_synced_bm25", "fts"),
    ("q159_usage_index_probe", "usage_code_views"),
    ("q161_code_views_index_probe", "corpus_code_views"),
]


@pytest.mark.parametrize("name,tag", _SERVED_QUERIES)
def test_served_query_syncs_once_per_session(spark, monkeypatch, name, tag):
    """A repeat call of a served query in one session reads the index
    the first call synced: no `App.sync_table` call, and the tag's one
    `SYNC_SECONDS` entry is left as it was."""
    from cocoindex_spark.queries import all_queries
    from cocoindex_spark.queries.registry import SYNC_SECONDS
    from tests.conftest import SF_SMOKE

    query = all_queries()[name]
    query(spark, SF_SMOKE)
    synced = SYNC_SECONDS[(SF_SMOKE, tag)]
    calls = []
    sync_table = App.sync_table

    def counted(self, *args, **kwargs):
        calls.append(self.name)
        return sync_table(self, *args, **kwargs)

    monkeypatch.setattr(App, "sync_table", counted)
    assert query(spark, SF_SMOKE).collect()
    assert calls == []
    assert [k for k in SYNC_SECONDS if k[1] == tag] == [(SF_SMOKE, tag)]
    assert SYNC_SECONDS[(SF_SMOKE, tag)] == synced


_CV_ROWS = [
    ("a", 1, "rust", "mod srv { pub fn api() -> u64 { 1 } }\n"
        "fn go1() -> u64 { srv::api() }\n// srv::api()\n"),
    ("a", 2, "java", "public class Svc {\n"
        "    public static int api() { return 1; }\n"
        "    public int go2() { return Svc.api(); }\n}\n"),
    ("b", 1, "python", "class Svc:\n    def api(self):\n        return 1\n"
        'r = Svc.api()\ns = "Svc.api()"\n'),
    ("b", 2, "rust", "struct S2;\nimpl S2 {\n    fn m2(&self) -> u64 { 2 }\n}\n"),
]
_CV_COLS = ("qtag", "doc_id", "lang", "row_kind", "kind", "name", "owner", "start")


def _cv_docs(spark, rows):
    return spark.createDataFrame(
        rows, "qtag STRING, doc_id LONG, lang STRING, code STRING"
    )


def test_code_views_rows_match_multilang_operator(spark, tmp_state):
    """The code_views family's rows for a two-qtag, three-language
    corpus == code_views_multilang_df on the same frame, with each
    row's qtag carried through."""
    from cocoindex_spark.operators.code_elements import code_views_multilang_df

    docs = _cv_docs(spark, _CV_ROWS)
    app = App("svc_cv_eq", state_dir=tmp_state, spark=spark)
    target, cold = sync_family(app, "code_views", docs)
    assert cold.memo_misses == 4
    got = sorted(tuple(r[c] for c in _CV_COLS) for r in target.read(spark).collect())
    want = sorted(
        (r["qtag"], r["doc_id"], r["lang"], r["cv_row_kind"], r["cv_kind"],
         r["cv_name"],
         r["cv_namespace"] if r["cv_row_kind"] == "element" else r["cv_qualifier"],
         r["cv_start"])
        for r in code_views_multilang_df(docs, "code", "lang").collect()
    )
    assert got == want
    assert {(q, k) for q, _, _, k, *_ in got} == {
        ("a", "element"), ("a", "reference"), ("b", "element"), ("b", "reference")
    }


def test_code_views_blast_radius_one_qtag_doc(spark, tmp_state):
    """Editing one (qtag, doc) recomputes exactly that component; rows
    of every other qtag are untouched."""
    app = App("svc_cv_blast", state_dir=tmp_state, spark=spark)
    target, cold = sync_family(app, "code_views", _cv_docs(spark, _CV_ROWS))
    assert cold.memo_misses == 4
    before = {tuple(r[c] for c in _CV_COLS) for r in target.read(spark).collect()}

    rows2 = list(_CV_ROWS)
    rows2[3] = ("b", 2, "rust", "struct S2;\nimpl S2 {\n    fn m2edit(&self) -> u64 { 2 }\n}\n")
    _, edit = sync_family(app, "code_views", _cv_docs(spark, rows2))
    assert edit.memo_misses == 1  # blast radius: the one edited component
    after = {tuple(r[c] for c in _CV_COLS) for r in target.read(spark).collect()}
    changed = before ^ after
    assert {(r[0], r[1]) for r in changed} == {("b", 2)}
    assert {r[5] for r in after - before} == {"m2edit"}
    assert {r for r in before if r[0] == "a"} == {r for r in after if r[0] == "a"}
