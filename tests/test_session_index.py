"""q144's engine-synced session index (the q137 treatment applied to
session search — r5 judge finding #2): the per-session embedding +
sign-bucket table is a sync target keyed by USER, so new events for one
user re-sessionize and re-embed exactly that user's bundle, and the
probe prunes on the LSH bucket before any dot product."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cocoindex_spark.engine.app import App
from cocoindex_spark.queries.registry import table
from cocoindex_spark.queries.streamingq import (
    SS_BITS,
    q142_session_search,
    q144_session_search_indexed,
    sync_session_index,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def app(spark, tmp_state):
    a = App("sessidx", state_dir=tmp_state, spark=spark)
    yield a
    a.drop()


def _events(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, props STRING, us LONG"
    )
    return df.select(
        "event_id",
        "user_id",
        "event_type",
        "props",
        F.timestamp_micros("us").alias("ts"),
    )


MIN = 60 * 1_000_000


def test_session_index_incremental_per_user(app, spark):
    rows = [
        # user 1: two sessions (gap > 30 min between event 2 and 3)
        (1, 1, "click", '{"k": 3}', 0),
        (2, 1, "view", '{"k": 5}', 10 * MIN),
        (3, 1, "click", '{"k": 1}', 50 * MIN),
        # user 2: one session
        (4, 2, "purchase", '{"k": 2}', 0),
        (5, 2, "click", '{"k": 2}', 5 * MIN),
    ]
    target, cold = sync_session_index(app, _events(spark, rows))
    assert cold.inserts == 3  # user1 × 2 sessions + user2 × 1
    assert [i["kind"] for i in target.indexes()] == ["lsh"]

    # warm: nothing changed ⇒ zero transform work
    _, warm = sync_session_index(app, _events(spark, rows))
    assert warm.memo_misses == 0 and warm.inserts == 0 and warm.updates == 0

    # one new event for user 2 ⇒ ONLY user 2's bundle recomputes
    rows2 = rows + [(6, 2, "error", '{"k": 7}', 90 * MIN)]
    _, edit = sync_session_index(app, _events(spark, rows2))
    assert edit.memo_misses == 1  # the user-2 bundle
    # user 2 now has two sessions: session 1 updated-or-noop, session 2 new
    assert edit.inserts == 1
    idx = target.read(spark)
    assert idx.count() == 4
    assert idx.filter(F.col("user_id") == 2).count() == 2


def test_session_index_probe_matches_brute_force(spark):
    """The bucket-pruned probe is result-identical to q142's brute
    force at the smoke scale — and the containment argument behind it
    (true top-5 ⊆ the probe's own bucket ⊆ the hamming-1 multiprobe
    set) holds, which is what CORRECTNESS checks at sf0.01 too."""
    brute = [tuple(r) for r in q142_session_search(spark, SF_SMOKE).collect()]
    pruned = [tuple(r) for r in q144_session_search_indexed(spark, SF_SMOKE).collect()]
    assert pruned == brute


def test_session_bundle_order_insensitive(app, spark):
    """The source bundle sorts events by (us, event_id), so ingest
    order cannot change the memo fingerprint (no spurious misses)."""
    rows = [
        (1, 1, "click", '{"k": 3}', 0),
        (2, 1, "view", '{"k": 5}', 10 * MIN),
    ]
    _, cold = sync_session_index(app, _events(spark, rows))
    assert cold.inserts == 1
    _, again = sync_session_index(app, _events(spark, list(reversed(rows))))
    assert again.memo_misses == 0 and again.inserts == 0 and again.updates == 0
