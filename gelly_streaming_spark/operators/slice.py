"""GraphWindowStream — stream of discrete graph slices.

The reference chops an edge stream into tumbling per-vertex windows
(GraphWindowStream.java:47-53, created by SimpleEdgeStream.slice,
SimpleEdgeStream.java:119-151) and exposes three neighborhood
aggregations over each (vertex, window) pane:

- foldNeighbors   (GraphWindowStream.java:62-87)  — incremental fold
- reduceOnEdges   (GraphWindowStream.java:101-121) — assoc. reduce of
  edge values, output (vertex, value)
- applyOnNeighbors(GraphWindowStream.java:130-182) — UDF over the full
  neighbor iterable, 0..n output rows

Spark mapping: ``groupBy(window(ts, size), src)`` — the window+key
grouping IS the pane. Folds/reduces that are expressible as Catalyst
aggregates stay JVM-side (whole-stage codegen); only the general
apply falls back to Arrow-vectorized applyInPandas (the exact
flatMap-groups semantics of EdgesApply, EdgesApply.java:35-49).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class GraphWindowStream:
    """Edges keyed by src vertex in tumbling (or, with ``slide``,
    sliding/hopping) event-time windows. The reference only has
    tumbling windows (SimpleEdgeStream.java:119-151); sliding windows
    are the Spark-native generalization the north_rule asks for —
    each edge lands in size/slide panes."""

    def __init__(
        self,
        df: DataFrame,
        window_duration: str,
        watermark: str | None = None,
        slide: str | None = None,
    ):
        self.df = df
        self.window_duration = window_duration
        self.watermark = watermark
        self.slide = slide

    def _win(self):
        if self.slide:
            return F.window("ts", self.window_duration, self.slide)
        return F.window("ts", self.window_duration)

    def _grouped(self):
        return self.df.groupBy(
            self._win().alias("win"), F.col("src").alias("vertex")
        )

    def reduce_on_edges(self, agg: Column) -> DataFrame:
        """Per (vertex, window) pane, one Catalyst aggregate column —
        e.g. ``F.sum("val")``, ``F.min("val")``. Serves both
        reduceOnEdges (GraphWindowStream.java:101-121; project
        vertex/value to match its project(0,2)) and foldNeighbors
        (GraphWindowStream.java:62-87, folds over (src, dst, val) per
        EdgesFold.java:33-48): a Catalyst aggregate is both an
        associative reduce and an incremental fold. Output
        (win, vertex, value). For non-Catalyst folds use
        apply_on_neighbors."""
        return self._grouped().agg(agg.alias("value"))

    fold_neighbors = reduce_on_edges

    def apply_on_neighbors(
        self,
        fn: Callable[[tuple, pd.DataFrame], pd.DataFrame],
        output_schema,
    ) -> DataFrame:
        """Grouped-map over each (vertex, window) pane: ``fn(key,
        pdf)`` sees all the pane's edges as a pandas frame and may
        emit 0..n rows (exact EdgesApply semantics). Arrow-vectorized.
        """
        return self._grouped().applyInPandas(fn, schema=output_schema)
