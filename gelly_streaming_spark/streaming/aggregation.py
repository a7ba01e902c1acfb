"""Generic incremental streaming graph aggregation.

Extends the streaming-CC pattern (streaming/pipeline.py) to ANY
merge-tree algorithm (GraphAggregation): per micro-batch, fold the
batch's edges into per-shard synopsis partials, re-enter the previous
epoch's global state as one more partial, combine, and persist the
running global state epoch-partitioned — the reference's incremental
non-blocking Merger (GraphAggregation.java:80-117) with Structured
Streaming checkpoints + idempotent epoch writes on top.

Unlike CC (which has the distributed quotient resolution,
plans/connected_components.resolve_partials), the general combine
funnels partial rows into algo.combine — safe because synopsis
exports are O(state), not O(edges): bipartiteness exports one signed
root per vertex and fails fast to a single sentinel row; spanner
exports its (bounded) edge set; degree maps export one counter per
vertex.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelly_streaming_spark.operators.aggregation import (
    GraphAggregation,
    sharded_fold,
)
from gelly_streaming_spark.streaming.state import committed_epochs


class StreamingGraphAggregation:
    """foreachBatch target maintaining a running global synopsis for
    an arbitrary GraphAggregation algorithm."""

    def __init__(
        self,
        algo: GraphAggregation,
        state_path: str,
        num_shards: int = 32,
        salt: int = 1,
        shard_on=None,
    ):
        self.algo = algo
        self.state_path = state_path
        self.num_shards = num_shards
        self.salt = salt
        self.shard_on = shard_on

    # -- epoch-partitioned state (same layout as streaming CC) -------------

    def _committed_epochs(self, spark: SparkSession) -> list[int]:
        # only _SUCCESS-marked epochs are committed (crash mid-write
        # leaves no marker); discovery via the Hadoop FileSystem API
        # (streaming/state.py) so state may live on any cluster FS
        return committed_epochs(spark, f"{self.state_path}/state")

    def read_state(
        self, spark: SparkSession, upto_epoch: int | None = None
    ) -> DataFrame | None:
        epochs = self._committed_epochs(spark)
        if upto_epoch is not None:
            epochs = [e for e in epochs if e < upto_epoch]
        if not epochs:
            return None
        return spark.read.parquet(f"{self.state_path}/state/epoch={epochs[-1]}")

    def current(self, spark: SparkSession) -> DataFrame | None:
        """The latest running global state, finalized."""
        st = self.read_state(spark)
        if st is None:
            return None

        def fin(key, pdf: pd.DataFrame) -> pd.DataFrame:
            return self.algo.finalize(pdf)

        return st.groupBy(F.lit(0).alias("g")).applyInPandas(
            fin, schema=self.algo.output_schema
        )

    # -- per-batch ----------------------------------------------------------

    def process_batch(self, edges: DataFrame, epoch_id: int) -> None:
        spark = edges.sparkSession
        partials = sharded_fold(
            edges,
            self.algo,
            num_shards=self.num_shards,
            salt=self.salt,
            shard_on=self.shard_on,
        )
        prev = self.read_state(spark, upto_epoch=epoch_id)
        if prev is not None:
            partials = partials.unionByName(prev)

        def combine(key, pdf: pd.DataFrame) -> pd.DataFrame:
            return self.algo.combine(pdf)

        merged = partials.groupBy(F.lit(0).alias("g")).applyInPandas(
            combine, schema=self.algo.partial_schema
        )
        merged.write.mode("overwrite").parquet(
            f"{self.state_path}/state/epoch={epoch_id}"
        )

    def __call__(self, edges: DataFrame, epoch_id: int) -> None:
        self.process_batch(edges, epoch_id)


def run_streaming_aggregation(
    edge_stream: DataFrame,
    algo: GraphAggregation,
    state_path: str,
    checkpoint_path: str,
    num_shards: int = 32,
    salt: int = 1,
    shard_on=None,
):
    """Wire a (streaming) edge DataFrame through the incremental
    aggregation. Returns (StreamingQuery, StreamingGraphAggregation).
    """
    agg = StreamingGraphAggregation(
        algo,
        state_path,
        num_shards=num_shards,
        salt=salt,
        shard_on=shard_on,
    )
    q = (
        edge_stream.writeStream.foreachBatch(agg)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .start()
    )
    return q, agg
