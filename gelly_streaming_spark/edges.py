"""EdgeStream: the engine's core abstraction.

A thin wrapper over a DataFrame of timestamped edge events with the
canonical schema ``(src, dst, val long, ts timestamp)`` — the Spark
rebuild of the reference's ``SimpleEdgeStream<K, EV>``
(reference: SimpleEdgeStream.java:37-55). Works identically over
batch DataFrames (golden/correctness tests, DuckDB oracle) and
Structured Streaming DataFrames (the production pipeline); every
transformation is declarative so Catalyst plans it.

The transcript adapter (``edges_from_transcripts``) is the single
entry point from the canonical input shape (BASELINE.json
input_hint): each transcript turn becomes an interaction edge
``(conv_id#role) -> (conv_id#tool)`` at event-time ``ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.operators.aggregation import (
    GraphAggregation,
    window_graph_aggregation,
)

EDGE_COLS = ["src", "dst", "val", "ts"]


def edges_from_transcripts(
    transcripts: DataFrame,
    drop_no_tool: bool = True,
) -> "EdgeStream":
    """Transcript rows -> edge events (the FIXTURES.md adapter).

    src = conv_id#role, dst = conv_id#tool, val = 1, ts = ts.
    Rows with tool='none' are dropped by default (no interaction).
    Pure projection + filter — Catalyst-native, pushdown-friendly.
    """
    df = transcripts
    if drop_no_tool:
        df = df.filter(F.col("tool") != F.lit("none"))
    edges = df.select(
        F.concat_ws("#", F.col("conv_id"), F.col("role")).alias("src"),
        F.concat_ws("#", F.col("conv_id"), F.col("tool")).alias("dst"),
        F.lit(1).cast("long").alias("val"),
        F.col("ts").alias("ts"),
    )
    return EdgeStream(edges)


def fixture_edges_from_transcripts(transcripts: DataFrame) -> "EdgeStream":
    """Adapter for B-fixture graphs encoded as transcripts
    (role=f"v{src}", tool=f"v{dst}"): recovers numeric vertex ids so
    reference goldens are reachable from the canonical input shape.
    """
    edges = transcripts.select(
        F.regexp_replace("role", "^v", "").cast("long").alias("src"),
        F.regexp_replace("tool", "^v", "").cast("long").alias("dst"),
        F.lit(1).cast("long").alias("val"),
        F.col("ts").alias("ts"),
    )
    return EdgeStream(edges)


class EdgeStream:
    """Insertion-only stream (or batch table) of edges.

    Mirrors the reference's GraphStream/SimpleEdgeStream operator
    surface (GraphStream.java:20-123, SimpleEdgeStream.java) with
    idiomatic DataFrame implementations. Transformations return new
    EdgeStreams; terminal aggregations return DataFrames.
    """

    def __init__(self, df: DataFrame, watermark: str | None = None):
        missing = [c for c in ("src", "dst", "ts") if c not in df.columns]
        if missing:
            raise ValueError(f"edge frame missing columns: {missing}")
        if "val" not in df.columns:
            df = df.withColumn("val", F.lit(1).cast("long"))
        df = df.select(*EDGE_COLS)
        if watermark:
            df = df.withWatermark("ts", watermark)
        self.df = df
        self.watermark = watermark

    def _wrap(self, df: DataFrame) -> "EdgeStream":
        out = object.__new__(EdgeStream)
        out.df = df.select(*EDGE_COLS)
        out.watermark = self.watermark
        return out

    # -- projections / per-edge maps (SimpleEdgeStream.java:201-345) --------

    def map_edges(self, val_expr) -> "EdgeStream":
        """Map the edge value only, keep endpoints
        (SimpleEdgeStream.java:201-231). ``val_expr`` is a Column."""
        return self._wrap(self.df.withColumn("val", val_expr.cast("long")))

    def filter_edges(self, predicate) -> "EdgeStream":
        """Keep edges where predicate(edge) holds
        (SimpleEdgeStream.java:274-277)."""
        return self._wrap(self.df.filter(predicate))

    def filter_vertices(self, predicate_fn) -> "EdgeStream":
        """Keep an edge iff BOTH endpoints pass
        (SimpleEdgeStream.java:241-265). ``predicate_fn(col) -> Column``."""
        return self._wrap(
            self.df.filter(predicate_fn(F.col("src")) & predicate_fn(F.col("dst")))
        )

    def reverse(self) -> "EdgeStream":
        """Swap src/dst (SimpleEdgeStream.java:312-321)."""
        return self._wrap(
            self.df.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "val", "ts"
            )
        )

    def undirected(self) -> "EdgeStream":
        """Each edge + its reverse, 2x rows
        (SimpleEdgeStream.java:334-345). Implemented as
        explode(array(fwd, rev)) — one pass, no self-union, works on
        streaming frames too."""
        exploded = self.df.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("e"),
            "val",
            "ts",
        )
        return self._wrap(
            exploded.select(
                F.col("e.src").alias("src"), F.col("e.dst").alias("dst"), "val", "ts"
            )
        )

    def canonical(self) -> "EdgeStream":
        """Canonicalize endpoints to (min, max)
        (ExactTriangleCount.java:144-156)."""
        return self._wrap(
            self.df.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
                "val",
                "ts",
            )
        )

    # -- distinct / set ops (SimpleEdgeStream.java:285-329) -----------------

    def distinct(self) -> "EdgeStream":
        """Dedup edges by (src, dst) (SimpleEdgeStream.java:285-307).
        Batch: dropDuplicates. Streaming: state-backed dedup —
        dropDuplicatesWithinWatermark when a watermark bounds state."""
        if self.df.isStreaming and self.watermark:
            return self._wrap(self.df.dropDuplicatesWithinWatermark(["src", "dst"]))
        return self._wrap(self.df.dropDuplicates(["src", "dst"]))

    def union(self, other: "EdgeStream") -> "EdgeStream":
        """Bag union, no dedup (SimpleEdgeStream.java:327-329)."""
        return self._wrap(self.df.unionByName(other.df))

    # -- vertex views (SimpleEdgeStream.java:100-193) ------------------------

    def get_vertices(self) -> DataFrame:
        """Distinct vertex ids (first-seen distinct in the reference,
        SimpleEdgeStream.java:165-186). Returns (vertex_id)."""
        v = self.df.select(
            F.explode(F.array("src", "dst")).alias("vertex_id"), "ts"
        )
        if self.df.isStreaming and self.watermark:
            v = v.withWatermark("ts", self.watermark)
            return v.dropDuplicatesWithinWatermark(["vertex_id"]).select("vertex_id")
        return v.select("vertex_id").dropDuplicates(["vertex_id"])

    def get_edges(self) -> DataFrame:
        return self.df

    # -- degrees (SimpleEdgeStream.java:397-462) -----------------------------

    def _endpoint_events(self, direction: str = "all") -> DataFrame:
        """Explode edges into (vertex, ts) degree events.
        direction: 'all' (both endpoints), 'out' (src only),
        'in' (dst only) — DegreeTypeSeparator, SimpleEdgeStream.java:424-443."""
        if direction == "out":
            return self.df.select(F.col("src").alias("vertex"), "ts")
        if direction == "in":
            return self.df.select(F.col("dst").alias("vertex"), "ts")
        return self.df.select(
            F.explode(F.array("src", "dst")).alias("vertex"), "ts"
        )

    def get_degrees(self, direction: str = "all") -> DataFrame:
        """Final degree per vertex: (vertex, degree).

        Reference semantics emit a running count per update
        (DegreeMapFunction, SimpleEdgeStream.java:445-462); in
        Structured Streaming that is this same plan in update output
        mode. Batch returns the final counts; use ``degree_trace``
        for the reference's full per-update trace."""
        return (
            self._endpoint_events(direction)
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    def get_in_degrees(self) -> DataFrame:
        return self.get_degrees("in")

    def get_out_degrees(self) -> DataFrame:
        return self.get_degrees("out")

    def degree_trace(self, direction: str = "all") -> DataFrame:
        """Batch-only: the full per-update degree trace the reference
        tests pin (TestGetDegrees.java:57-121): one row per degree
        event with the running count, ordered by event time."""
        from pyspark.sql import Window as W

        ev = self._endpoint_events(direction)
        w = W.partitionBy("vertex").orderBy("ts").rowsBetween(W.unboundedPreceding, 0)
        return ev.select(
            "vertex", F.count(F.lit(1)).over(w).alias("degree"), "ts"
        )

    # -- global counts (SimpleEdgeStream.java:350-388) -----------------------

    def number_of_vertices(self) -> DataFrame:
        """Global distinct-vertex count (emit-on-change in the
        reference = update mode in streaming)."""
        return self.get_vertices().agg(F.count(F.lit(1)).alias("n_vertices"))

    def number_of_edges(self) -> DataFrame:
        """Global running edge count, duplicates included."""
        return self.df.agg(F.count(F.lit(1)).alias("n_edges"))

    # -- neighborhoods --------------------------------------------------------

    def build_neighborhood(self, directed: bool = True) -> DataFrame:
        """Batch neighborhood snapshots: per edge, the adjacency set of
        src at that point in the stream (SimpleEdgeStream.java:515-544,
        TreeSet per vertex). Returns (src, dst, val, ts, neighborhood).
        """
        from pyspark.sql import Window as W

        base = self if directed else self.undirected()
        w = (
            W.partitionBy("src")
            .orderBy("ts", "dst")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        return base.df.withColumn(
            "neighborhood", F.sort_array(F.collect_set("dst").over(w))
        )

    # -- windows --------------------------------------------------------------

    def slice(
        self,
        window_duration: str,
        direction: str = "out",
        slide: str | None = None,
    ):
        """Graph slice (SimpleEdgeStream.java:119-151): key edges by a
        vertex endpoint, chop into tumbling — or sliding, when
        ``slide`` is given — event-time windows. direction: 'out'
        (key=src), 'in' (key=dst, edge reversed), 'all' (undirected,
        2x rows keyed by src). Returns a GraphWindowStream."""
        from gelly_streaming_spark.operators.slice import GraphWindowStream

        if direction == "in":
            base = self.reverse()
        elif direction == "all":
            base = self.undirected()
        else:
            base = self
        return GraphWindowStream(
            base.df, window_duration, watermark=self.watermark, slide=slide
        )

    # -- generic per-vertex / global aggregation (SimpleEdgeStream.java:473-503)

    def aggregate_on_vertices(self, value_expr, agg, direction: str = "all") -> DataFrame:
        """The reference's generic ``aggregate(edgeMapper,
        vertexMapper)`` (SimpleEdgeStream.java:473-478): map each edge
        endpoint to a (vertex, value) pair, then a running per-vertex
        Catalyst aggregate. ``value_expr``: Column computed per edge;
        ``agg``: aggregate Column over ``value``. Streaming: update
        output mode gives the per-update emission semantics."""
        base = self.df.withColumn("value", value_expr)
        if direction == "out":
            ev = base.select(F.col("src").alias("vertex"), "value")
        elif direction == "in":
            ev = base.select(F.col("dst").alias("vertex"), "value")
        else:
            ev = base.select(
                F.explode(F.array("src", "dst")).alias("vertex"), "value"
            )
        return ev.groupBy("vertex").agg(agg.alias("value"))

    def global_aggregate(self, *aggs) -> DataFrame:
        """The reference's parallelism-1 ``globalAggregate``
        (SimpleEdgeStream.java:489-503): a no-key aggregation over the
        whole edge stream (Spark runs it as partial aggregates + one
        final reduce — the funnel only ever sees pre-aggregated
        partials). Emit-on-change ≡ update mode in streaming."""
        return self.df.agg(*aggs)

    # -- merge engine (GraphAggregation.java) ---------------------------------

    def aggregate(
        self, algorithm: GraphAggregation, num_shards: int = 32, salt: int = 1
    ) -> DataFrame:
        """Run a GraphAggregation as the reference's core operator does
        (GraphAggregation.java:80-117): a sharded partial fold, then one
        single-group combine (operators.aggregation)."""
        return window_graph_aggregation(self.df, algorithm, num_shards, salt)
