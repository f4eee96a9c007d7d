"""Spill / peak-memory audit of the engine write path at sf1
(r10 verdict item #4: the round had plan and wall-clock evidence but
no peak-memory/spill numbers for the serve + pipe write paths).

Runs, in ONE session with the Spark UI's REST API enabled:

- the pipe_cold-shaped sync (bench_incremental's doc_stats transform)
  over the synthesized sf1 documents table (50k docs), and
- the two heaviest serve-index builds (the chunks and defs family
  syncs) over the same sf1 corpus,

then reads per-stage task metrics from the REST API
(/api/v1/applications/<id>/stages) and records, per labeled job group:
total memory/disk spill bytes, peak execution memory, shuffle
read/write bytes, and the max single-task spill. Writes
bench_results/spill_audit_sf1.json.

Usage: python tools/spill_audit.py  (needs /tmp/sf1_synth — build with
tools/sf1_probe.py)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BIG = "/tmp/sf1_synth"


def _spark_with_ui():
    from pyspark.sql import SparkSession

    from cocoindex_spark.session import CPUS

    return (
        SparkSession.builder.appName("spill-audit")
        .master(f"local[{CPUS}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "true")  # REST API source for task metrics
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )


def _stage_metrics(ui_url: str, app_id: str) -> list[dict]:
    url = f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _summarize(stages: list[dict], lo: int, hi: int) -> dict:
    """Aggregate metrics for stage ids in (lo, hi]."""
    sel = [s for s in stages if lo < s["stageId"] <= hi]
    return {
        "n_stages": len(sel),
        "memory_spill_bytes": sum(s.get("memoryBytesSpilled", 0) for s in sel),
        "disk_spill_bytes": sum(s.get("diskBytesSpilled", 0) for s in sel),
        "peak_execution_memory": max(
            (s.get("peakExecutionMemory", 0) for s in sel), default=0
        ),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in sel),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in sel),
        "input_bytes": sum(s.get("inputBytes", 0) for s in sel),
        "max_stage_spill_bytes": max(
            (
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in sel
            ),
            default=0,
        ),
    }


def main() -> None:
    if not os.path.isdir(BIG):
        raise SystemExit("build /tmp/sf1_synth first: python tools/sf1_probe.py")
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cocoindex_spark.engine.app import App
    from cocoindex_spark.engine.function import fn
    from cocoindex_spark.queries import codeq
    from cocoindex_spark.queries.registry import table

    spark = _spark_with_ui()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    ui_url = sc.uiWebUrl
    app_id = sc.applicationId
    out: dict = {"sf_dir": BIG, "app_id": app_id, "sections": {}}

    def max_stage_id() -> int:
        try:
            return max(
                (s["stageId"] for s in _stage_metrics(ui_url, app_id)), default=-1
            )
        except Exception:
            return -1

    @fn(memo=True)
    def doc_stats(df):
        toks = F.split(F.trim(F.col("text")), " ")
        return df.select(
            "__args_fp",
            "__component_path",
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.length("text").alias("n_chars"),
            F.sha2(F.col("text"), 256).alias("content_fp"),
        )

    sections = []

    # --- pipe_cold shape at sf1
    root = tempfile.mkdtemp(prefix="spill_pipe_")
    app = App("spill_pipe", state_dir=root, spark=spark)
    target = app.target(
        f"{root}/doc_stats",
        ["doc_id"],
        "doc_id LONG, n_tokens INT, n_chars INT, content_fp STRING",
    )
    src = table(spark, BIG, "documents").select("doc_id", "text")
    sections.append(
        ("pipe_cold_sf1", lambda: app.sync_table(src, ["doc_id"], doc_stats, target))
    )

    # --- heaviest serve syncs at sf1 (chunks, defs family builds)
    for fam in ("chunks", "defs"):

        def run(fam=fam):
            r = tempfile.mkdtemp(prefix=f"spill_{fam}_")
            a = App(f"spill_{fam}", state_dir=r, spark=spark)
            codeq.sync_family(a, fam, codeq._FAMILY_SPECS[fam][0](spark, BIG))
            shutil.rmtree(r, ignore_errors=True)

        sections.append((f"sync_{fam}_sf1", run))

    for name, job in sections:
        lo = max_stage_id()
        sc.setJobDescription(f"spill-audit {name}")
        t0 = time.perf_counter()
        job()
        wall = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)
        time.sleep(2)  # let the UI store settle
        stages = _stage_metrics(ui_url, app_id)
        summ = _summarize(stages, lo, max(s["stageId"] for s in stages))
        summ["wall_sec"] = wall
        out["sections"][name] = summ
        print(name, json.dumps(summ))

    shutil.rmtree(root, ignore_errors=True)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "bench_results", "spill_audit_sf1.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("wrote bench_results/spill_audit_sf1.json")
    spark.stop()


if __name__ == "__main__":
    main()
