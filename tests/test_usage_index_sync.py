"""The probed code-views index (the usage_code_views family behind
q156/q159/q161/q162) maintained by the reconcile machinery — element +
reference rows as a sync target with a name-probe layout (the FTS/LSH
synced-index pattern applied to code usage search, reference
types.rs:119-142). Pins: edit blast radius 1, stale rows converge,
probe prunes file I/O, decoys in comments/strings are never indexed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cocoindex_spark.engine.app import App
from cocoindex_spark.state.store import _PROBE_COL


@pytest.fixture()
def app(spark, tmp_state):
    a = App("usageidx", state_dir=tmp_state, spark=spark)
    yield a
    a.drop()


# ONE multi-language corpus code-views index (q161's shape) — five
# languages' element/reference rows in one name-probed target; one
# probe answers cross-language usage resolution; a document edit
# re-syncs exactly its rows.


def _mdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, lang STRING, code STRING")


_M_ROWS = [
    (1, "rust", "mod srv { pub fn api() -> u64 { 1 } }\n"
        "fn go1() -> u64 { srv::api() }\n"),
    (2, "java", "public class Svc {\n"
        "    public static int api() { return 1; }\n"
        "    public int go2() { return Svc.api(); }\n}\n"),
    (3, "go", "package svc\n\nfunc api() int { return 1 }\n"
        "func go3() int { return svc.api() }\n"),
    (4, "typescript", "class Svc {\n  static api(): number { return 1 }\n}\n"
        "const r = Svc.api()\n// Svc.api() decoy\n"),
    (5, "python", "class Svc:\n    def api(self):\n        return 1\n"
        "r = Svc.api()\nt = Svc.api()\n"
        's = "Svc.api()"\n# Svc.api()\n'),
    # rust decoys: a call in a comment, a call in a string literal
    (6, "rust", "fn go3() -> u64 { srv::api() }\n// srv::api()\n"),
    (7, "rust", 'fn other() -> u64 { helper() }\nstatic S: &str = "srv::api()";\n'),
]


def test_code_views_index_multilang_blast_radius_and_probe(app, spark):
    from test_probe_layout import files_read

    from cocoindex_spark.queries.codeq import sync_family

    docs = _mdocs(spark, _M_ROWS)
    target, cold = sync_family(app, "usage_code_views", docs)
    assert cold.memo_misses == 7

    pids = target.probe_partitions(spark, ["api"])
    probed = (
        target.read_indexed(spark)
        .filter(F.col(_PROBE_COL).isin(pids))
        .filter((F.col("name") == "api") & (F.col("owner") != ""))
    )
    rows = probed.collect()
    # one qualified definition per language; references: rust 2
    # (comment + string decoys dropped), java 1, go 1, ts 1 (comment
    # decoy dropped), python 2 (string + comment decoys dropped)
    defs = {(r["lang"], r["owner"]) for r in rows if r["row_kind"] == "element"}
    assert defs == {("rust", "srv"), ("java", "Svc"), ("go", "svc"),
                    ("typescript", "Svc"), ("python", "Svc")}
    refs = {}
    for r in rows:
        if r["row_kind"] == "reference":
            refs[r["lang"]] = refs.get(r["lang"], 0) + 1
    assert refs == {"rust": 2, "java": 1, "go": 1, "typescript": 1, "python": 2}
    assert files_read(probed) < files_read(target.read(spark))

    # edit ONE python doc: exactly one recompute; its rows converge
    rows2 = list(_M_ROWS)
    rows2[4] = (5, "python", "class Svc:\n    def api(self):\n        return 1\n"
                "r = Svc.api()\n")
    _, edit = sync_family(app, "usage_code_views", _mdocs(spark, rows2))
    assert edit.memo_misses == 1
    probed2 = (
        target.read_indexed(spark)
        .filter(F.col(_PROBE_COL).isin(pids))
        .filter(
            (F.col("name") == "api")
            & (F.col("lang") == "python")
            & (F.col("row_kind") == "reference")
        )
    )
    assert probed2.count() == 1


def test_code_views_index_live_maintenance(app, spark, tmp_state):
    """The multi-language code-views index maintained through the LIVE
    path: a watched edit to one document re-syncs exactly its rows
    (blast radius 1) across micro-batches, and the name probe keeps
    pruning file I/O."""
    import os

    from test_probe_layout import files_read

    from cocoindex_spark.queries.codeq import extract_code_view_rows
    from cocoindex_spark.streaming.live import LiveSync

    target = app.target(
        f"{tmp_state}/cv_live",
        ["doc_id", "row_kind", "kind", "name", "start"],
        "doc_id LONG, lang STRING, row_kind STRING, kind STRING,"
        " name STRING, owner STRING, start LONG",
    )
    target.declare_index("usage", "code", probe_col="name", probe_buckets=64)

    src_dir = os.path.join(tmp_state, "cv_src")
    ckpt = os.path.join(tmp_state, "cv_ckpt")
    os.makedirs(src_dir)
    schema = "doc_id LONG, lang STRING, code STRING, offset LONG"
    spark.createDataFrame(
        [(d, lang, code, i) for i, (d, lang, code) in enumerate(_M_ROWS)], schema
    ).write.mode("overwrite").parquet(os.path.join(src_dir, "b1"))

    sync = LiveSync(
        app, ["doc_id"], extract_code_view_rows, target, order_cols=["offset"]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
    )
    q = sync.start(stream, ckpt, available_now=True)
    q.awaitTermination(120)
    assert sync.batch_stats[-1].memo_misses == 7

    # watched edit: the python doc drops one call site
    spark.createDataFrame(
        [(5, "python",
          "class Svc:\n    def api(self):\n        return 1\nr = Svc.api()\n",
          99)],
        schema,
    ).write.mode("overwrite").parquet(os.path.join(src_dir, "b2"))
    q2 = sync.start(stream, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert sync.batch_stats[-1].memo_misses == 1  # blast radius 1

    pids = target.probe_partitions(spark, ["api"])
    probed = (
        target.read_indexed(spark)
        .filter(F.col(_PROBE_COL).isin(pids))
        .filter((F.col("name") == "api") & (F.col("row_kind") == "reference"))
    )
    by_lang = {r["lang"]: r["n"] for r in
               probed.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_lang == {"rust": 2, "java": 1, "go": 1, "typescript": 1, "python": 1}
    assert files_read(probed) < files_read(target.read(spark))

