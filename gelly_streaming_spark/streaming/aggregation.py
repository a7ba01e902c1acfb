"""Generic incremental streaming graph aggregation.

Extends the streaming-CC pattern (streaming/pipeline.py) to ANY
merge-tree algorithm (GraphAggregation): per micro-batch, fold the
batch's edges into per-shard synopsis partials, re-enter the previous
epoch's global state as one more partial, combine, and persist the
running global state epoch-partitioned — the reference's incremental
non-blocking Merger (GraphAggregation.java:80-117) with Structured
Streaming checkpoints + idempotent epoch writes on top.

The state is one epoch table, ``{state_path}/state/epoch=<id>``, under
the epoch-state contract of streaming/state.py. It is its own cleanup
anchor: at the end of epoch e, the epochs below the latest committed
state b < e are deleted, so only b and e remain, and a replay of e
still reads b.

The combine is the batch engine's (operators.aggregation): sharded_fold,
then single_group(algo.combine). Unlike CC (which has the distributed
quotient resolution, plans/connected_components.resolve_partials), the
general combine funnels partial rows into one group — safe because synopsis
exports are O(state), not O(edges): bipartiteness exports one signed
root per vertex and fails fast to a single sentinel row; spanner
exports its (bounded) edge set; degree maps export one counter per
vertex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gelly_streaming_spark.operators.aggregation import (
    GraphAggregation,
    sharded_fold,
    single_group,
)
from gelly_streaming_spark.streaming.state import (
    committed_epochs,
    delete_superseded,
    read_epoch,
    write_epoch,
)


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
        self._table = f"{state_path}/state"
        self.num_shards = num_shards
        self.salt = salt
        self.shard_on = shard_on

    def _state_below(
        self, spark: SparkSession, epoch: int | None
    ) -> DataFrame | None:
        epochs = committed_epochs(spark, self._table, below=epoch)
        if not epochs:
            return None
        return read_epoch(spark, self._table, epochs[-1], self.algo.partial_schema)

    def read_state(self, spark: SparkSession) -> DataFrame | None:
        """The latest committed running state, as partials."""
        return self._state_below(spark, None)

    def current(self, spark: SparkSession) -> DataFrame | None:
        """The latest running global state, finalized."""
        st = self.read_state(spark)
        if st is None:
            return None
        return single_group(st, self.algo.finalize, self.algo.output_schema)

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
        prev = self._state_below(spark, epoch_id)
        if prev is not None:
            partials = partials.unionByName(prev)
        merged = single_group(
            partials, self.algo.combine, self.algo.partial_schema
        )
        write_epoch(merged, self._table, epoch_id)
        delete_superseded(spark, self._table, epoch_id, [self._table])

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
