"""Settle the q161 sf1-probe timing inversion (r9 verdict #2).

The r9 sf1 probe recorded q161 at 67.76 s (sf0.1) vs 27.96 s (sf1) —
10× the data, 2.4× faster, which means one of the two measurements
didn't measure what it claimed (contended-window sf0.1 run, or
tiny-file overhead in the 64-probe × pk-bucket write fan-out
dominating at 50k docs). This tool re-measures BOTH scales in the
SAME window, min-of-N, with the sync (build: extraction + probe-layout
write) timed separately from the probe (pruned read), and records the
split into bench_results/sf1_probe.json under "q161_split".

Usage: python tools/q161_split.py [N=3]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import code_hash  # noqa: E402
from cocoindex_spark.session import get_spark  # noqa: E402

SMALL = "/root/testdata/sf0.1"
BIG = "/tmp/sf1_synth"


def one_run(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from cocoindex_spark.engine.app import App
    from cocoindex_spark.queries.codeq import (
        _q161_docs,
        sync_family,
    )
    from cocoindex_spark.state.store import _PROBE_COL

    root = tempfile.mkdtemp(prefix="q161_split_")
    try:
        app = App("cvidx", state_dir=root, spark=spark)
        t0 = time.perf_counter()
        target, _ = sync_family(app, "usage_code_views", _q161_docs(spark, sf_dir))
        build = time.perf_counter() - t0

        names = ["api2", "m1"]
        t0 = time.perf_counter()
        pids = target.probe_partitions(spark, names)
        rows = (
            target.read_indexed(spark)
            .filter(F.col(_PROBE_COL).isin(pids))
            .filter(F.col("name").isin(names) & (F.col("owner") != ""))
        )
        n = rows.count()
        probe = time.perf_counter() - t0
        return {"build_sec": round(build, 2), "probe_sec": round(probe, 3),
                "probe_rows": n}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    if not os.path.isdir(BIG):
        sys.exit(f"{BIG} missing — run tools/sf1_probe.py first")
    spark = get_spark("q161-split")
    spark.sparkContext.setLogLevel("ERROR")

    runs: dict[str, list[dict]] = {"sf0.1": [], "sf1": []}
    for i in range(n):
        for scale, sf_dir in (("sf0.1", SMALL), ("sf1", BIG)):
            r = one_run(spark, sf_dir)
            runs[scale].append(r)
            print(f"round {i + 1}/{n} {scale}: {r}", flush=True)

    split = {
        scale: {
            "build_sec_min": min(r["build_sec"] for r in rs),
            "probe_sec_min": min(r["probe_sec"] for r in rs),
            "probe_rows": rs[0]["probe_rows"],
        }
        for scale, rs in runs.items()
    }
    split["n_per_scale"] = n
    split["code_hash"] = code_hash()
    split["build_ratio_sf1_over_sf01"] = round(
        split["sf1"]["build_sec_min"] / split["sf0.1"]["build_sec_min"], 2
    )

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_results", "sf1_probe.json",
    )
    doc = {}
    if os.path.exists(path):
        with open(path) as f:
            doc = json.load(f)
    doc["q161_split"] = split
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(split, indent=1))
    print(f"updated {path} q161_split")


if __name__ == "__main__":
    main()
