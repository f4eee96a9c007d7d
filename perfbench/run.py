"""Index-lifecycle benchmark for the quickstart pipeline.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

The pipeline is the paper's canonical one: scan a directory of text files
(``sources.localfs.scan_dir``), chunk and embed each file
(``queries.quickstart.chunk_and_embed``) into an LSH-probe vector target
laid out as ``sync_quickstart_table`` lays it out, and answer top-k
probes from the maintained target. One process drives each workload in
a closed loop with one client (see perfbench/README.md for why these
workloads and metrics).

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). A failed check exits 1 after printing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus as C  # noqa: E402
from meter import HostNoise, ProcTree, RssSampler, Tracer, calibrate, dir_stats, live_versions  # noqa: E402

WORKLOADS = ("build", "serve")
N_FILES = 150
# serve restores a standing index of this seed's corpus, built once per
# checkout (a fresh process cannot fit a cold build and a live sync in
# one run); the run seed drives its probes and its mutation batch.
FIXTURE_SEED = 0
TOP_K = 5

SCRATCH = os.path.join(REPO, ".perfbench")
TARGET_SCHEMA = (
    "doc_id LONG, chunk_idx LONG, chunk_text STRING, embedding ARRAY<FLOAT>, bucket INT"
)
PHASES = (
    "cheap_level",
    "transform_reconcile",
    "stats_counts",
    "precommit_buckets",
    "precommit_merge",
    "sink_apply",
    "tracking_commit",
    "memo_flush_wait",
    "cleanup",
)
SYNC_KINDS = ("build", "noop", "partial")
STATE_TABLES = ("tracking", "memo", "source_fp")

# name -> unit; every run prints every one of these (0 where a workload
# does not exercise the layer; see README.md for which do).
END_TO_END = {
    "setup_s": "s",
    "sync_cpu_s": "cpu_s",
    "query_cpu_s": "cpu_s",
    "disk_bytes_per_corpus_byte": "ratio",
    "ok_frac": "frac",
}
PER_LAYER = {
    # end-to-end metrics demoted for run-to-run spread (README.md)
    "sync_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "sources.listing_s": "s",
    "sources.files": "count",
    "sources.bytes": "bytes",
    "streaming.poll_s": "s",
    "streaming.events_per_poll": "count",
    "streaming.batch_s": "s",
    **{f"engine.{k}.phase.{p}_ms": "ms" for k in SYNC_KINDS for p in PHASES},
    "engine.noop.cpu_s": "cpu_s",
    "engine.noop.wall_s": "s",
    "engine.recompute_ratio": "ratio",
    "engine.noop.rows_written": "count",
    **{
        f"spark.{k}.{m}": u
        for k in SYNC_KINDS + ("query",)
        for m, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("ms_per_job", "ms"))
    },
    **{f"state.bytes.{t}": "bytes" for t in STATE_TABLES},
    "state.version_dirs": "count",
    "state.compactions": "count",
    "state.bytes_written_per_sync": "bytes",
    "sinks.target_rows": "count",
    "sinks.target_files": "count",
    "sinks.target_bytes": "bytes",
    "operators.chunk_embed_cpu_s": "cpu_s",
    "queries.probe_partitions_s": "s",
    "queries.scan_s": "s",
    "queries.candidates": "count",
    "queries.p90_s": "s",
    "host.steal_pct": "%",
    "host.cpu_pressure": "frac",
    "host.calib_s": "cpu_s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "frac",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the console progress bar redraws stderr from a JVM thread
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


class Pipeline:
    """The user's app: a directory of text files indexed into the
    quickstart vector target. Every method is one public call (or a
    short chain of them) into the program."""

    def __init__(self, spark, state_dir: str, corpus_dir: str):
        from pyspark.sql import functions as F

        from cocoindex_spark.engine.app import App
        from cocoindex_spark.queries import quickstart

        self.F = F
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.doc_id = F.regexp_extract("relpath", C.DOC_ID_RE, 1).cast("long")
        self.app = App("perfbench", state_dir=state_dir, spark=spark)
        self.transform = quickstart.chunk_and_embed
        # the layout sync_quickstart_table declares
        self.target = self.app.target(
            os.path.join(self.app.state.root, "targets", "chunks"),
            ["doc_id", "chunk_idx"],
            TARGET_SCHEMA,
        )
        self.target.declare_index(
            "lsh", "embedding", bits=quickstart.LSH_BITS, probe_col="bucket"
        )

    def listing(self):
        from cocoindex_spark.sources.localfs import scan_dir

        return scan_dir(self.spark, self.corpus_dir).select(
            self.doc_id.alias("doc_id"), "mtime", "size"
        )

    def sync(self):
        """Full-snapshot catch-up sync (what a CLI ``update`` runs) with
        two-level change detection on (mtime, size)."""
        from cocoindex_spark.sources.localfs import scan_dir

        def load(df):
            text = scan_dir(self.spark, self.corpus_dir, binary=False).select(
                self.doc_id.alias("doc_id"), "text"
            )
            return df.join(text, "doc_id", "left")

        return self.app.sync_table(
            self.listing(),
            ["doc_id"],
            self.transform,
            self.target,
            cheap_fp_cols=["mtime", "size"],
            load=load,
        )

    def event_batch(self, events):
        from cocoindex_spark.sources.localfs import decode_text
        from cocoindex_spark.streaming.watch import events_to_batch

        F = self.F
        return events_to_batch(self.spark, self.corpus_dir, events).select(
            F.regexp_extract("path", C.DOC_ID_RE, 1).cast("long").alias("doc_id"),
            decode_text(F.col("content")).alias("text"),
            "tombstone",
        )

    def sync_batch(self, batch):
        """Partial sync over exactly the changed files; deletions ride
        the tombstone column."""
        return self.app.sync_table(
            batch, ["doc_id"], self.transform, self.target, tombstone_col="tombstone"
        )

    def probe_partitions(self, bucket: int) -> list[int]:
        return self.target.probe_partitions(self.spark, [bucket])

    def scan(self, pids: list[int], bucket: int, q: list[float], k: int):
        """Bucket-pruned cosine top-k, the q137 probe shape."""
        from cocoindex_spark.operators.vector_ops import dot_fixed, sqnorm_fixed
        from cocoindex_spark.state.store import _PROBE_COL

        F = self.F
        probe_df = self.spark.createDataFrame(
            [(q, C.dot_fixed(q, q))], "qe ARRAY<FLOAT>, qsqn LONG"
        )
        return (
            self.target.read_indexed(self.spark)
            .filter(F.col(_PROBE_COL).isin(pids))
            .filter(F.col("bucket") == bucket)
            .withColumn("sqn", sqnorm_fixed(F.col("embedding")))
            .filter(F.col("sqn") > 0)
            .crossJoin(F.broadcast(probe_df))
            .select(
                "doc_id",
                "chunk_idx",
                (
                    dot_fixed(F.col("embedding"), F.col("qe")).cast("double")
                    / F.sqrt(F.col("sqn").cast("double") * F.col("qsqn").cast("double"))
                ).alias("sim"),
            )
            .orderBy(F.desc("sim"), F.asc("doc_id"), F.asc("chunk_idx"))
            .limit(k)
            .collect()
        )

    def target_rows(self) -> dict:
        return {
            (r.doc_id, r.chunk_idx): (r.chunk_text, tuple(r.embedding), r.bucket)
            for r in self.target.read(self.spark).collect()
        }

    def direct_rows(self, text: dict[int, str]) -> dict:
        """chunk_and_embed applied straight to the corpus, no engine."""
        F = self.F
        docs = self.spark.createDataFrame(sorted(text.items()), "doc_id LONG, text STRING")
        out = self.transform(
            docs.withColumn("__args_fp", F.lit("")).withColumn("__component_path", F.lit(""))
        )
        return {
            (r.doc_id, r.chunk_idx): (r.chunk_text, tuple(r.embedding), r.bucket)
            for r in out.select(
                "doc_id", "chunk_idx", "chunk_text", "embedding", "bucket"
            ).collect()
        }

    def transform_to_noop(self) -> None:
        """The transform alone over the corpus, written to a noop sink."""
        from cocoindex_spark.sources.localfs import scan_dir

        F = self.F
        docs = scan_dir(self.spark, self.corpus_dir, binary=False).select(
            self.doc_id.alias("doc_id"), "text"
        )
        self.transform(
            docs.withColumn("__args_fp", F.lit("")).withColumn("__component_path", F.lit(""))
        ).write.format("noop").mode("overwrite").save()


def row_hash(rows: dict) -> str:
    """Order-insensitive hash of target rows."""
    h = hashlib.sha256()
    for key in sorted(rows):
        h.update(repr((key, rows[key])).encode())
    return h.hexdigest()[:16]


def expected_stats(old: dict, new: dict) -> dict[str, int]:
    inserts = sum(1 for k in new if k not in old)
    deletes = sum(1 for k in old if k not in new)
    updates = sum(1 for k in new if k in old and old[k] != new[k])
    return {"inserts": inserts, "updates": updates, "deletes": deletes}


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(f"{workload}/{seed}")
        self.tree = ProcTree()
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, float] = {}
        self.work = os.path.join(SCRATCH, f"run-{os.getpid()}")
        self.versions_seen: dict[str, set[str]] = {}
        self.dirs_seen: set[str] = set()
        self.compactions = 0
        self.written: list[int] = []

    # -- operations ------------------------------------------------------
    @contextmanager
    def op(self, kind: str, op_id):
        """One attempted operation: wall and process-tree CPU, a span, and
        a list the body appends failed checks to."""
        self.attempted += 1
        problems: list[str] = []
        with self.tracer.span(kind, op_id) as span:
            c0 = self.tree.cpu_s()
            t0 = time.perf_counter()
            try:
                yield problems
            except Exception:
                problems.append(traceback.format_exc(limit=4))
            wall = time.perf_counter() - t0
            cpu = self.tree.cpu_s() - c0
        self.samples[f"{kind}.wall"].append(wall)
        self.samples[f"{kind}.cpu"].append(cpu)
        if span is not None and "jobs" in span:
            for m in ("jobs", "stages", "tasks"):
                self.samples[f"{kind}.{m}"].append(span[m])
        if problems:
            self.failed += 1
            self.problems.extend(f"{kind} {op_id}: {p}" for p in problems)

    def _state_snapshot(self, pipe: Pipeline, label: str) -> None:
        """Versions written since the last snapshot, and compactions:
        a table whose pointer moved from several live versions to one
        new version."""
        for t in STATE_TABLES + ("targets/chunks",):
            path = os.path.join(pipe.app.state.root, t)
            live = live_versions(path)
            before = self.versions_seen.get(t, set())
            if len(before) > 1 and len(live) == 1 and not live & before:
                self.compactions += 1
            self.versions_seen[t] = live
        on_disk = {
            os.path.join(dp, d)
            for dp, ds, _ in os.walk(pipe.app.state.root)
            for d in ds
            if d.startswith("v_")
        }
        new = on_disk - self.dirs_seen
        self.dirs_seen = on_disk
        if label != "start":
            self.written.append(sum(dir_stats(d)["bytes"] for d in new))
        self.tracer.snapshot(label, lambda: dir_stats(pipe.app.state.root))

    def _check_sync(self, problems, kind, stats, exp: dict, misses: int) -> None:
        got = {"inserts": stats.inserts, "updates": stats.updates, "deletes": stats.deletes}
        if got != exp:
            problems.append(f"row ops {got} != expected {exp}")
        if stats.memo_misses != misses:
            problems.append(f"memo misses {stats.memo_misses} != files changed {misses}")
        if stats.extra.get("errors"):
            problems.append(f"{stats.extra['errors']} component errors")
        phase_ms = stats.extra.get("phase_ms", {})
        for p in PHASES:
            self.layer[f"engine.{kind}.phase.{p}_ms"] = float(phase_ms.get(p, 0))

    def probe(self, pipe: Pipeline, model: dict, op_id, kind: str = "query") -> None:
        q, bucket = self.corpus.query(self.rng)
        with self.op(kind, op_id) as problems:
            with self.tracer.span("queries.probe_partitions", op_id):
                t0 = time.perf_counter()
                pids = pipe.probe_partitions(bucket)
                t1 = time.perf_counter()
            with self.tracer.span("queries.scan", op_id):
                rows = pipe.scan(pids, bucket, q, TOP_K)
                t2 = time.perf_counter()
            got = [(r.doc_id, r.chunk_idx, r.sim) for r in rows]
            want = C.topk(model, q, bucket, TOP_K)
            if got != want:
                problems.append(f"top-{TOP_K} of bucket {bucket} {got} != brute force {want}")
            if kind != "query":
                return
            self.samples["probe_partitions"].append(t1 - t0)
            self.samples["scan"].append(t2 - t1)
            self.samples["candidates"].append(sum(1 for v in model.values() if v[2] == bucket))

    def probe_loop(self, pipe: Pipeline, model: dict, min_probes: int = 3) -> None:
        """Closed loop, one client: the next probe starts when the last
        returns, for ``seconds`` and at least ``min_probes`` probes. The
        first probe after a sync compiles the probe plan's code paths
        and is left out of the samples."""
        self.probe(pipe, model, "warmup", kind="warmup_query")
        t_end = time.perf_counter() + self.seconds
        n = 0
        while n < min_probes or time.perf_counter() < t_end:
            self.probe(pipe, model, f"q{n}")
            n += 1

    # -- workloads -------------------------------------------------------
    def prepare(self) -> None:
        """Inputs, not timed: the seed's corpus for build; for serve, a
        copy of the standing index (built on first use) and of its
        corpus, with the mutation schedule drawn from the run seed."""
        os.makedirs(self.work, exist_ok=True)
        self.corpus_dir = os.path.join(self.work, "corpus")
        self.state_dir = os.path.join(self.work, "state")
        if self.workload == "serve":
            fixture = ensure_fixture()
            shutil.copytree(os.path.join(fixture, "corpus"), self.corpus_dir)
            shutil.copytree(os.path.join(fixture, "state"), self.state_dir)
            self.corpus = C.Corpus(FIXTURE_SEED, N_FILES)
            self.corpus.rng = random.Random(f"serve-mutations/{self.seed}")
        else:
            self.corpus = C.Corpus(self.seed, N_FILES)
            self.corpus.write(self.corpus_dir)

    def setup(self) -> Pipeline:
        """Session start and the pipeline declaration; for serve the
        standing index is the restored one."""
        c0 = self.tree.cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            from cocoindex_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.tracer.attach(spark)
        with self.tracer.span("pipeline.declare"):
            pipe = Pipeline(spark, self.state_dir, self.corpus_dir)
        self.setup_s = time.perf_counter() - t0
        self.setup_cpu_s = self.tree.cpu_s() - c0
        self.layer["session.start_s"] = t1 - t0
        return pipe

    def run_build(self, pipe: Pipeline) -> dict:
        model = C.model_rows(self.corpus.text)
        self._state_snapshot(pipe, "start")
        with self.op("build", "build") as problems:
            stats = pipe.sync()
            self._check_sync(problems, "build", stats, expected_stats({}, model), len(self.corpus.text))
            self.layer["engine.recompute_ratio"] = stats.memo_misses / len(self.corpus.text)
        self._state_snapshot(pipe, "build")
        if self.trace:
            # only the traced run can afford a second sync (see README.md)
            with self.op("noop", "noop") as problems:
                stats = pipe.sync()
                self._check_sync(problems, "noop", stats, expected_stats(model, model), 0)
                if stats.extra.get("loaded", 0):
                    problems.append(f"no-op sync loaded {stats.extra['loaded']} files' content")
                self.layer["engine.noop.rows_written"] = stats.inserts + stats.updates + stats.deletes
            self._state_snapshot(pipe, "noop")
            self.layer["engine.noop.wall_s"] = self.samples["noop.wall"][0]
            self.layer["engine.noop.cpu_s"] = self.samples["noop.cpu"][0]
        self.probe_loop(pipe, model)
        return model

    def run_serve(self, pipe: Pipeline) -> dict:
        from cocoindex_spark.streaming.watch import FileWatcher

        model = C.model_rows(self.corpus.text)
        self._state_snapshot(pipe, "start")
        watcher = FileWatcher(self.corpus_dir, backend="snapshot")
        batch = self.corpus.next_batch()
        # live lag: from the mutation being written to the sync returning
        with self.op("partial", "live") as problems:
            self.corpus.apply(self.corpus_dir, batch)
            with self.tracer.span("streaming.poll"):
                t0 = time.perf_counter()
                events = watcher.poll()
                t1 = time.perf_counter()
            with self.tracer.span("streaming.batch"):
                df = pipe.event_batch(events)
                t2 = time.perf_counter()
            with self.tracer.span("engine.sync_batch"):
                stats = pipe.sync_batch(df)
            new_model = C.model_rows(self.corpus.text)
            changed = len(batch.edits) + len(batch.adds)
            if len(events) != changed + len(batch.deletes):
                problems.append(f"{len(events)} watch events for {changed + len(batch.deletes)} changed files")
            self._check_sync(problems, "partial", stats, expected_stats(model, new_model), changed)
            self.layer["streaming.poll_s"] = t1 - t0
            self.layer["streaming.batch_s"] = t2 - t1
            self.layer["streaming.events_per_poll"] = len(events)
            self.layer["engine.recompute_ratio"] = stats.memo_misses / changed
        self._state_snapshot(pipe, "partial")
        self.probe_loop(pipe, new_model)
        return new_model

    def verify_final(self, pipe: Pipeline, model: dict) -> None:
        """The maintained target equals the Python model of the transform
        applied to the final corpus. The traced run also applies
        chunk_and_embed itself to the corpus and requires the same rows
        (the untraced run skips that plan: it costs ~5 s of a run that
        must fit the benchmark's time budget)."""
        with self.op("verify", "final") as problems:
            got = pipe.target_rows()
            if row_hash(got) != row_hash(model):
                problems.append(f"target {row_hash(got)} != model of the corpus {row_hash(model)}")
            if self.trace:
                direct = pipe.direct_rows(self.corpus.text)
                if row_hash(direct) != row_hash(model):
                    problems.append(f"chunk_and_embed(corpus) {row_hash(direct)} != model {row_hash(model)}")
            self.layer["sinks.target_rows"] = len(got)

    def traced_extras(self, pipe: Pipeline) -> None:
        """Layer measurements the untraced run skips."""
        with self.tracer.span("sources.listing"):
            t0 = time.perf_counter()
            rows = pipe.listing().collect()
            self.layer["sources.listing_s"] = time.perf_counter() - t0
        self.layer["sources.files"] = len(rows)
        self.layer["sources.bytes"] = sum(r.size for r in rows)
        with self.tracer.span("operators.chunk_embed"):
            c0 = self.tree.cpu_s()
            pipe.transform_to_noop()
            self.layer["operators.chunk_embed_cpu_s"] = self.tree.cpu_s() - c0

    def metrics(self, pipe: Pipeline, rss_peak: int, host: dict, wall_s: float) -> dict:
        s = self.samples
        sync_kind = "build" if self.workload == "build" else "partial"
        state_bytes = dir_stats(pipe.app.state.root)["bytes"]
        corpus_bytes = self.corpus.nbytes()
        e2e = {
            "setup_s": self.setup_s,
            "sync_s": _median(s[f"{sync_kind}.wall"]),
            "sync_cpu_s": _median(s[f"{sync_kind}.cpu"]),
            "query_p50_s": _median(s["query.wall"]),
            "query_cpu_s": _median(s["query.cpu"]),
            "disk_bytes_per_corpus_byte": state_bytes / corpus_bytes,
            "peak_rss_mb": rss_peak / 2**20,
            "ok_frac": 1.0 - self.failed / max(self.attempted, 1),
        }
        if not self.trace:
            return {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        layer = {k: 0.0 for k in PER_LAYER}
        layer.update(self.layer)
        layer.update({k: v for k, v in e2e.items() if k in PER_LAYER})
        for kind in SYNC_KINDS + ("query",):
            jobs = _median(s[f"{kind}.jobs"])
            layer[f"spark.{kind}.jobs"] = jobs
            layer[f"spark.{kind}.stages"] = _median(s[f"{kind}.stages"])
            layer[f"spark.{kind}.tasks"] = _median(s[f"{kind}.tasks"])
            layer[f"spark.{kind}.ms_per_job"] = 1000 * _median(s[f"{kind}.wall"]) / jobs if jobs else 0.0
        for t in STATE_TABLES:
            layer[f"state.bytes.{t}"] = dir_stats(os.path.join(pipe.app.state.root, t))["bytes"]
        layer["state.version_dirs"] = dir_stats(pipe.app.state.root)["versions"]
        layer["state.compactions"] = self.compactions
        layer["state.bytes_written_per_sync"] = _median(self.written)
        tgt = dir_stats(pipe.target.path)
        layer["sinks.target_files"] = tgt["files"]
        layer["sinks.target_bytes"] = tgt["bytes"]
        layer["queries.probe_partitions_s"] = _median(s["probe_partitions"])
        layer["queries.scan_s"] = _median(s["scan"])
        layer["queries.candidates"] = _median(s["candidates"])
        q = s["query.wall"]
        layer["queries.p90_s"] = statistics.quantiles(q, n=10)[-1] if len(q) > 1 else _median(q)
        layer.update(host)
        layer["trace.overhead_s"] = self.tracer.overhead_s
        layer["trace.overhead_frac"] = self.tracer.overhead_s / wall_s
        return {k: {"value": float(layer[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}

    def execute(self) -> dict:
        try:
            self.prepare()
            calib = [calibrate()]
            host = HostNoise()
            t_start = time.perf_counter()
            with RssSampler(self.tree) as rss:
                pipe = self.setup()
                try:
                    model = self.run_build(pipe) if self.workload == "build" else self.run_serve(pipe)
                    self.verify_final(pipe, model)
                    if self.trace:
                        self.traced_extras(pipe)
                except Exception:
                    # an operation's outcome was needed downstream
                    self.attempted += 1
                    self.failed += 1
                    self.problems.append(traceback.format_exc(limit=6))
            wall_s = time.perf_counter() - t_start
            noise = host.read()
            calib.append(calibrate())
            noise["host.calib_s"] = statistics.median(calib)
            metrics = self.metrics(pipe, rss.peak, noise, wall_s)
            s = self.samples
            print(
                f"[perfbench] {self.workload} seed={self.seed} wall={wall_s:.1f}s "
                f"setup={self.setup_s:.2f}s setup_cpu={self.setup_cpu_s:.1f} "
                + " ".join(
                    f"{k}={_median(s[k + '.wall']):.2f}s/{_median(s[k + '.cpu']):.2f}cpu(n={len(s[k + '.wall'])})"
                    for k in ("build", "noop", "partial", "warmup_query", "query", "verify")
                    if s[k + ".wall"]
                )
                + f" steal={noise['host.steal_pct']:.1f}% psi={noise['host.cpu_pressure']:.3f}"
                + f" calib={noise['host.calib_s']:.3f}cpu",
                file=sys.stderr,
            )
            if self.trace:
                out = os.path.join(SCRATCH, "traces", f"{self.workload}-{self.seed}.json")
                self.tracer.dump(out, {"workload": self.workload, "seed": self.seed, "metrics": metrics})
                print(f"[perfbench] trace written to {os.path.relpath(out, REPO)}", file=sys.stderr)
            return metrics
        finally:
            _stop_spark()
            shutil.rmtree(self.work, ignore_errors=True)


def _stop_spark() -> None:
    """Stop the session and wait for the JVM to exit."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is None:
        return
    gateway = getattr(sc, "_gateway", None)
    proc = getattr(gateway, "proc", None)
    sc.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # Python workers the JVM forked exit once it has gone
    tree = ProcTree()
    deadline = time.monotonic() + 15
    while len(tree.pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# -- the serve fixture -----------------------------------------------------


def _fixture_key() -> str:
    """Changes whenever the program or the corpus generator does."""
    h = hashlib.sha256(f"{N_FILES}/{FIXTURE_SEED}".encode())
    paths = [os.path.join(HERE, "corpus.py")]
    pkg = os.path.join(REPO, "cocoindex_spark")
    for dp, ds, fs in os.walk(pkg):
        ds[:] = sorted(d for d in ds if d != "__pycache__")
        paths.extend(os.path.join(dp, f) for f in sorted(fs) if f.endswith(".py"))
    for p in paths:
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_fixture() -> str:
    """The standing index serve restores: FIXTURE_SEED's corpus cold-built
    once per checkout, in its own process so the run's JVM starts cold
    like every other run's."""
    path = os.path.join(SCRATCH, "fixture", _fixture_key())
    if os.path.isdir(path):
        return path
    tmp = path + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--build-fixture", tmp],
        check=True,
        stdout=subprocess.DEVNULL,
        timeout=600,
    )
    os.rename(tmp, path)
    return path


def build_fixture(path: str) -> None:
    os.makedirs(path)
    _isolate(os.path.join(path, "work"))
    corp = C.Corpus(FIXTURE_SEED, N_FILES)
    corp.write(os.path.join(path, "corpus"))
    from cocoindex_spark.session import get_spark

    spark = get_spark("perfbench-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pipe = Pipeline(spark, os.path.join(path, "state"), os.path.join(path, "corpus"))
        stats = pipe.sync()
        if stats.memo_misses != N_FILES:
            raise RuntimeError(f"fixture build recomputed {stats.memo_misses} of {N_FILES} files")
    finally:
        _stop_spark()
        shutil.rmtree(os.path.join(path, "work"), ignore_errors=True)


def check_constants() -> None:
    """The Python model mirrors the program's constants."""
    from cocoindex_spark.operators import vector_ops
    from cocoindex_spark.queries import quickstart

    mine = (C.CHUNK, C.STRIDE, C.EMB_DIM, C.LSH_BITS, C.FIXED_SCALE, C._MIX_A, C._MIX_B)
    theirs = (
        quickstart.CHUNK,
        quickstart.STRIDE,
        quickstart.EMB_DIM,
        quickstart.LSH_BITS,
        vector_ops.FIXED_SCALE,
        vector_ops._MIX_A,
        vector_ops._MIX_B,
    )
    if mine != theirs:
        raise RuntimeError(f"model constants {mine} drifted from the program's {theirs}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-fixture", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.build_fixture:
        sys.path.insert(0, REPO)
        build_fixture(args.build_fixture)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    sys.path.insert(0, REPO)
    check_constants()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    _isolate(run.work)
    metrics = run.execute()
    for p in run.problems:
        print(f"[perfbench] FAILED {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
