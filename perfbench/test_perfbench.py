"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests run the real command once per workload and mode, so
the whole file takes several minutes; ``-k "not smoke"`` keeps to the
fast ones.
"""

from __future__ import annotations

import filecmp
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus as C  # noqa: E402
import run as R  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_corpus_and_schedule(tmp_path):
    dirs = []
    batches = []
    for i in range(2):
        corp = C.Corpus(7, 40)
        d = tmp_path / f"c{i}"
        corp.write(str(d))
        seq = [corp.next_batch() for _ in range(3)]
        for b in seq:
            corp.apply(str(d), b)
        dirs.append(d)
        batches.append(seq)
    assert batches[0] == batches[1]
    names = sorted(os.listdir(dirs[0]))
    assert names == sorted(os.listdir(dirs[1]))
    match, mismatch, errors = filecmp.cmpfiles(dirs[0], dirs[1], names, shallow=False)
    assert not mismatch and not errors and len(match) == len(names)
    assert C.Corpus(8, 40).text != C.Corpus(7, 40).text


def test_batch_shape_and_mirror(tmp_path):
    corp = C.Corpus(3, 30)
    corp.write(str(tmp_path))
    b = corp.next_batch()
    assert (len(b.edits), len(b.adds), len(b.deletes)) == (3, 1, 1)
    assert not {d for d, _ in b.edits} & set(b.deletes)
    corp.apply(str(tmp_path), b)
    on_disk = {
        int(n[4:10]): (tmp_path / n).read_text(encoding="utf-8") for n in os.listdir(tmp_path)
    }
    assert on_disk == corp.text


def test_appended_edit_deletes_no_chunk():
    corp = C.Corpus(5, 20)
    old = C.model_rows(corp.text)
    b = corp.next_batch(n_edits=5, n_adds=0, n_deletes=0)
    for doc_id, extra in b.edits:
        corp.text[doc_id] += extra
    exp = R.expected_stats(old, C.model_rows(corp.text))
    assert exp["deletes"] == 0 and exp["inserts"] + exp["updates"] > 0


def test_brute_force_topk_orders_and_filters():
    rows = {
        (1, 0): ("a", (1.0, 0.0), 3),
        (2, 0): ("b", (1.0, 1.0), 3),
        (3, 0): ("c", (1.0, 0.0), 2),
        (4, 0): ("d", (0.0, 0.0), 3),
    }
    got = C.topk(rows, [1.0, 0.0], 3, 5)
    assert [(d, i) for d, i, _ in got] == [(1, 0), (2, 0)]
    assert got[0][2] == 1.0


def test_query_bucket_is_its_sign_bucket():
    corp = C.Corpus(2, 5)
    q, b = corp.query(random.Random(0))
    assert any(q) and b == C.sign_bucket(q)


def test_declared_metrics_match_the_code():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(R.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == R.PER_LAYER


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    for p in _bench()["paths"]:
        shutil.copytree(os.path.join(REPO, p), tmp_path / p)
    bench = _bench()
    proc = subprocess.run(
        bench["command"] + ["--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", R.WORKLOADS)
def test_smoke_run_emits_every_declared_metric(workload, trace):
    bench = _bench()
    proc = subprocess.run(
        bench["command"]
        + ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
