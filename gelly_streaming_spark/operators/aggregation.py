"""The merge engine: one sharded fold, then one single-group combine.

The reference's core operator (its windowed graph aggregation,
GraphAggregation.java:80-117) runs every library algorithm as:

  1. tag each edge with its physical partition        (InitialMapper)
  2. per-partition windowed fold into a synopsis S     (PartialAgg)
  3. parallelism-1 incremental merge of partials       (Merger)

Spark mapping (SURVEY.md §2.6): state is sharded by an EXPLICIT hash
shard column — ``pmod(xxhash64(src), num_shards)`` — rather than by
physical partition (deterministic, skew-controllable, salting-ready),
then:

  stage A: groupBy(shard).applyInPandas(fold)         # sharded_fold
  stage B: one pandas group combines all partials and  # single_group
           finalizes them — the parallelism-1 Merger

Both stages are Arrow-vectorized grouped-map UDFs; the shuffles are
ordinary Exchanges Catalyst plans. Partials are synopsis rows
(components / colorings / spanner edges), not edges — so the data
volume entering the single group is O(V'), bounded. One merge level at
every shard count also keeps the spanner's k² stretch bound.

This module is the only code that merges partials. Batch
(``window_graph_aggregation``) and stream
(streaming.aggregation.StreamingGraphAggregation, which folds the
previous epoch's state in as one more partial) both run
``sharded_fold`` and then ``single_group``; connected components
swaps stage B for the distributed quotient resolution
(plans.connected_components.resolve_partials).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class GraphAggregation:
    """A merge-engine algorithm definition.

    Subclasses (or instances) provide:

    - ``partial_schema``: DDL string for synopsis rows (the engine adds
      the ``shard`` column).
    - ``output_schema``: DDL string for the final result rows.
    - ``fold(pdf)``: edges (pandas: src, dst, val, ts) -> partial rows.
    - ``combine(pdf)``: concatenated partial rows -> partial rows.
      Must be associative/idempotent under re-application (union-find
      merge is).
    - ``finalize(pdf)``: ``combine``'s output rows -> output rows
      (default: identity). Both engines only ever finalize what
      ``combine`` returned, so it may rely on that shape.
    """

    partial_schema: str
    output_schema: str

    def fold(self, pdf: pd.DataFrame) -> pd.DataFrame:  # pragma: no cover
        raise NotImplementedError

    def combine(self, pdf: pd.DataFrame) -> pd.DataFrame:  # pragma: no cover
        raise NotImplementedError

    def finalize(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf


def with_shard(
    df: DataFrame, num_shards: int, salt: int = 1, shard_on=None
) -> DataFrame:
    """Explicit deterministic shard tag (≡ the reference's subtask
    tag, InitialMapper, but key-hash based).
    ``salt`` > 1 spreads each src key over ``salt`` sub-shards —
    hot-key mitigation per north_rule; correctness is unaffected
    because the combine phase re-merges synopses.

    ``shard_on`` overrides the sharding key (default xxhash64(src)).
    Sharding by a connectivity-local key — e.g. the conv_id prefix of
    transcript vertex labels — keeps each conversation's subgraph in
    ONE shard, so the cross-shard merge has (almost) nothing to do:
    the single biggest scale lever for the transcript workload."""
    shard = F.pmod(F.xxhash64(shard_on if shard_on is not None else F.col("src")),
                   F.lit(num_shards))
    if salt > 1:
        shard = F.pmod(
            shard * salt + F.pmod(F.xxhash64("dst", "ts"), F.lit(salt)),
            F.lit(num_shards * salt),
        )
    return df.withColumn("shard", shard.cast("long"))


def sharded_fold(
    edges: DataFrame,
    algo: GraphAggregation,
    num_shards: int = 32,
    salt: int = 1,
    shard_on=None,
) -> DataFrame:
    """Stage A alone: per-shard synopsis fold, output partial rows
    WITHOUT the merge tree (for algorithms with a cheaper distributed
    resolution than a funnel combine — see
    plans.connected_components.resolve_partials)."""
    df = with_shard(edges, num_shards, salt, shard_on=shard_on)
    partial_cols = f"shard long, {algo.partial_schema}"

    # unannotated: applyInPandas warns on every call when only some
    # parameters carry type hints
    def fold_wrapper(key, pdf):
        out = algo.fold(pdf)
        out.insert(0, "shard", int(key[0]))
        return out

    return df.groupBy("shard").applyInPandas(
        fold_wrapper, schema=partial_cols
    ).drop("shard")


def single_group(
    df: DataFrame, fn: Callable[[pd.DataFrame], pd.DataFrame], schema: str
) -> DataFrame:
    """Run ``fn(pdf) -> pdf`` over the whole frame as ONE pandas group:
    the reference's parallelism-1 operator. The merges feed it partials,
    O(state); the sequential parity ops (partitioners, matching events)
    feed it their whole edge stream, as the reference does."""
    return df.groupBy(F.lit(0).alias("g")).applyInPandas(
        lambda key, pdf: fn(pdf), schema=schema
    )


def window_graph_aggregation(
    edges: DataFrame,
    algo: GraphAggregation,
    num_shards: int = 32,
    salt: int = 1,
) -> DataFrame:
    """Run ``algo`` as a sharded fold plus one single-group combine
    that also finalizes."""
    partials = sharded_fold(edges, algo, num_shards=num_shards, salt=salt)
    return single_group(
        partials, lambda pdf: algo.finalize(algo.combine(pdf)), algo.output_schema
    )
