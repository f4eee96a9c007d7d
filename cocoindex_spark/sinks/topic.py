"""Topic target: keyed append-only log with tombstone deletes — the
file-backed analog of the reference's Kafka/Iggy topic targets
(`python/cocoindex/connectors/kafka/_target.py:231` ``declare_target_state``
per key producing records, `:277` tombstone = null payload; same for
iggy `_target.py:245,297`; consumption side `topic_as_map`
`kafka/_source.py:482` — message key is the upsert key, null payload
deletes, docs live_mode.mdx:124-144).

Spark-first: the log is an append-only parquet directory of
``(offset, key, value, tombstone)`` batches — the exact write shape of
``df.writeStream.format("kafka")`` (key/value, delete = null value).
``read_compacted`` is Kafka log-compaction as a one-window query:
last-writer-wins per key by offset, tombstones dropped — the same
last-wins dedup the live engine uses (SURVEY §2.11 per-key coalescing).

At scale: appends are partitioned blind writes (no read, no shuffle);
compaction shuffles once on key — identical to a compacted-topic
consumer's state build.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cocoindex_spark.session import local_frame

# Offsets are (batch_seq << _BATCH_SHIFT) + per-key ordinal: the stride
# is far larger than any realistic per-key row count in one batch, so
# batch ordering can never interleave with within-batch ordinals (the
# old microsecond-timestamp seq could collide across produce calls and
# overflow its stride — ADVICE sinks/topic.py finding).
_BATCH_SHIFT = 32


class TopicTarget:
    """Append-only keyed log; offsets are (batch_seq, row ordinal)."""

    def __init__(self, path: str):
        self.name = os.path.basename(path.rstrip("/"))
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _next_batch_seq(self, spark: SparkSession | None = None) -> int:
        """Strictly-increasing persisted batch counter (atomic replace).
        A real broker assigns offsets server-side; this file-backed
        analog assumes one producer process per topic directory, like
        its single append-only directory already does."""
        seq_path = os.path.join(self.path, "_seq")
        try:
            with open(seq_path) as f:
                cur = int(f.read().strip() or 0)
        except FileNotFoundError:
            cur = 0
            # Upgrade path: a pre-counter topic dir carries raw
            # timestamp offsets far above the counter scheme's range.
            # Seed the counter past them so new records keep sorting
            # after old ones (last-writer-wins stays correct). One-time
            # read, only when _seq is absent but log files exist.
            if spark is not None and any(
                f.endswith(".parquet") for f in os.listdir(self.path)
            ):
                row = self.read_log(spark).agg(F.max("offset")).first()
                if row and row[0] is not None:
                    cur = (int(row[0]) >> _BATCH_SHIFT) + 1
        nxt = cur + 1
        tmp = seq_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, seq_path)
        return nxt

    # -- produce (declare_target_state per key, kafka/_target.py:231)
    def produce(
        self,
        records: DataFrame,
        key_col: str,
        value_col: str,
        ordinal_col: str | None = None,
    ) -> None:
        """Append upsert records. The monotone batch seq orders batches;
        within a batch, per-key order follows ``ordinal_col`` when the
        caller supplies one (producer append order), else a
        deterministic value sort — never ``monotonically_increasing_id``,
        whose within-batch order is plan-dependent, so replaying the
        same batch would permute offsets and flip last-writer-wins."""
        seq = self._next_batch_seq(records.sparkSession)
        order = F.col(ordinal_col) if ordinal_col else F.col(value_col).cast("string")
        w = Window.partitionBy(key_col).orderBy(order)
        out = records.select(
            (F.lit(seq * (1 << _BATCH_SHIFT)) + F.row_number().over(w) - 1).alias(
                "offset"
            ),
            F.col(key_col).cast("string").alias("key"),
            F.to_json(F.struct(F.col(value_col))).alias("value"),
            F.lit(False).alias("tombstone"),
        )
        out.write.mode("append").parquet(self.path)

    # -- tombstone (null payload delete, kafka/_target.py:277)
    def produce_tombstones(self, keys: DataFrame, key_col: str) -> None:
        seq = self._next_batch_seq(keys.sparkSession)
        out = keys.select(
            F.lit(seq * (1 << _BATCH_SHIFT)).alias("offset"),
            F.col(key_col).cast("string").alias("key"),
            F.lit(None).cast("string").alias("value"),
            F.lit(True).alias("tombstone"),
        ).distinct()
        out.write.mode("append").parquet(self.path)

    # -- consume -----------------------------------------------------------
    def read_log(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.parquet(self.path)
        except Exception:
            return local_frame(
                spark, [], "offset long, key string, value string, tombstone boolean"
            )

    def read_compacted(self, spark: SparkSession) -> DataFrame:
        """topic_as_map semantics (kafka/_source.py:482): current keyed
        state = newest record per key, tombstones removed."""
        log = self.read_log(spark)
        w = Window.partitionBy("key").orderBy(F.desc("offset"))
        return (
            log.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & ~F.col("tombstone"))
            .select("key", "value")
        )
