"""Exactly-once idempotent upsert sink (north_rule).

Structured Streaming guarantees at-least-once foreachBatch calls with
a monotone ``batch_id`` persisted in the checkpoint. Exactly-once
EFFECTIVE semantics therefore reduce to idempotent writes: every
epoch writes to its own ``epoch=<id>`` partition directory and a
replayed epoch simply overwrites the identical bytes (deterministic
input -> deterministic rows). Readers see the union of committed
epochs; an upsert view (latest row per key) is exposed via
``read_upserted``.

An Iceberg ``MERGE INTO`` on the same deterministic keys would
replace this directory layout; the repo has no such code path (the
jars aren't in this image), so the layout is parquet-partitioned with
the same contract.

The sink's partitions are its ``epoch=<id>`` directories, so
per-partition lineage + metrics (north_rule) are one
``(epoch, rows_in, wall_s)`` row per epoch in a ``metrics`` table
(the CutSink/TimestampingSink analog,
partitioner/tests/CutSink.java:13-32, TimestampingSink.java:10-40).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gelly_streaming_spark.streaming.state import read_committed, write_epoch


class IdempotentUpsertSink:
    """foreachBatch target writing epoch-partitioned upserts.

    - ``keys``: the deterministic upsert key columns.
    - results land in ``{path}/data/epoch=<id>/``; metrics in
      ``{path}/metrics/epoch=<id>/``.
    - replaying an epoch (post-crash) rewrites the same partition —
      idempotent, hence exactly-once end-to-end.
    - readers see only epochs whose write committed (``_SUCCESS``).
    """

    def __init__(self, path: str, keys: list[str]):
        self.path = path
        self.keys = keys

    def write_batch(self, df: DataFrame, epoch_id: int) -> None:
        t0 = time.time()
        # rows_in via an Observation ATTACHED TO THE DATA WRITE: the
        # count is collected while the epoch is materialized, so the
        # micro-batch's upstream lineage runs exactly once
        obs = Observation()
        out = df.withColumn("_epoch", F.lit(int(epoch_id))).observe(
            obs, F.count(F.lit(1)).alias("rows_in")
        )
        write_epoch(out, f"{self.path}/data", epoch_id)
        # a JVM-side one-row frame: createDataFrame from a Python list
        # would start Python workers just to write this row
        metrics = df.sparkSession.range(1, numPartitions=1).select(
            F.lit(int(epoch_id)).alias("epoch"),
            F.lit(int(obs.get["rows_in"])).cast("long").alias("rows_in"),
            F.lit(time.time() - t0).alias("wall_s"),
        )
        write_epoch(metrics, f"{self.path}/metrics", epoch_id)

    def __call__(self, df: DataFrame, epoch_id: int) -> None:
        self.write_batch(df, epoch_id)

    def read_all(self, spark: SparkSession) -> DataFrame | None:
        """Every committed row; ``None`` before the first commit."""
        return read_committed(spark, f"{self.path}/data")

    def read_upserted(self, spark: SparkSession) -> DataFrame | None:
        """Latest row per key across epochs (the upsert view);
        ``None`` before the first commit."""
        from pyspark.sql import Window as W

        df = self.read_all(spark)
        if df is None:
            return None
        w = W.partitionBy(*self.keys).orderBy(F.desc("_epoch"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_epoch", "epoch")
        )

    def read_metrics(self, spark: SparkSession) -> DataFrame | None:
        """Per-epoch (epoch, rows_in, wall_s); ``None`` before any commit."""
        return read_committed(spark, f"{self.path}/metrics")
