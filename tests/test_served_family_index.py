"""The r11 served FAMILY indexes (defs / chunks / captures / imports)
— one engine sync per row-shape family serving every query of that
family as a pure parquet read (the q152 extract-once-serve-many recipe
with per-(qtag, doc) components). Pins:

- row-for-row equality between the family extractors and the pre-r11
  per-query operator pipelines (definitions_df / explode_chunks /
  match_code_df / imports_df) for each family member's corpus;
- blast radius: editing one document re-syncs exactly that document's
  components, and only its qtag rows change;
- the served read plans contain zero Python eval nodes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cocoindex_spark.engine.app import App
from cocoindex_spark.queries.codeq import (
    _FAMILY_SPECS,
    extract_def_rows,
)


@pytest.fixture()
def app(spark, tmp_state):
    a = App("svc_test", state_dir=tmp_state, spark=spark)
    yield a
    a.drop()


def _sync(app, docs, family):
    import os

    docs_fn, extract, key_cols, pk, schema = _FAMILY_SPECS[family]
    target = app.target(
        os.path.join(app.state.root, "targets", f"{family}_idx"), pk, schema
    )
    stats = app.sync_table(docs, key_cols, extract, target)
    return target, stats


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
    target, cold = _sync(app, docs, "defs")
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
    target, cold = _sync(app, mk("fn f2() -> u64 { 2 }\n"), "defs")
    assert cold.memo_misses == 4

    docs_fn, extract, key_cols, pk, schema = _FAMILY_SPECS["defs"]
    edit = app.sync_table(
        mk("fn f2edit() -> u64 { 2 }\n"), key_cols, extract, target
    )
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
    target, _ = _sync(app, docs, "chunks")
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
    tcaps, _ = _sync(app2, cdocs, "caps")
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
    timp, _ = _sync(app2, idocs, "imports")
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


def test_served_index_builds_once_and_rejects_config_mismatch(spark):
    """One build per (session, sf_dir, tag): a repeat call serves the
    cached target, records one `SYNC_SECONDS` entry, and a caller asking
    for a different build configuration fails loudly."""
    from cocoindex_spark.queries import codeq

    builds = []

    def build(app):
        builds.append(app.name)
        return object()

    sf_dir = "/served-index-test"
    cfg = {"langs": ("rust",), "probe": False}
    first = codeq._served_index(spark, sf_dir, "tagx", build, config=cfg)
    assert codeq._served_index(spark, sf_dir, "tagx", build, config=dict(cfg)) is first
    assert builds == ["svc_tagx"]
    assert (sf_dir, "tagx") in codeq.SYNC_SECONDS
    with pytest.raises(ValueError, match="was built with"):
        codeq._served_index(spark, sf_dir, "tagx", build, config={**cfg, "probe": True})
