"""Single-pass bipartiteness check.

Rebuild of library/BipartitenessCheck.java:39-137 + the Candidates
signed-component synopsis (summaries/Candidates.java:27-196): fold
edges into a signed union-find (parity bit per vertex); an odd cycle
anywhere (within a shard or revealed when merging shards) fails the
whole graph, matching Candidates.merge fail-fast -> (false, {}). Fold
and merge are one call each of the same kernel,
``synopses.signed_union_find``: the fold over the edges at parity 1,
the merge over the partial rows (vertex, root) at parity ``sign``.

Output: one row per vertex ``(vertex, color)`` when bipartite —
color 0 = the part containing each component's min vertex — plus the
graph-level verdict available via ``verdict()`` (is_bipartite bool).
An empty coloring with is_bipartite=false reproduces the reference's
``(false, {})`` golden (NonBipartitnessCheckTest.java:9-10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.functions.synopses import signed_union_find
from gelly_streaming_spark.operators.aggregation import GraphAggregation


class BipartitenessCheck(GraphAggregation):
    """Vertex type parameterized like ConnectedComponents — 'long'
    for the reference's numeric fixtures, 'string' for transcript
    vertex labels. The failure sentinel follows the type."""

    def __init__(self, vertex_type: str = "long"):
        self.partial_schema = (
            f"vertex {vertex_type}, root {vertex_type}, sign int, failed boolean"
        )
        self.output_schema = (
            f"vertex {vertex_type}, color int, is_bipartite boolean"
        )
        self._sentinel = -1 if vertex_type == "long" else "\x00failed"

    def _signed(self, a, b, parity) -> pd.DataFrame:
        out = signed_union_find(a, b, parity)
        if out is None:
            # a single sentinel row carries the failure through the merge
            return pd.DataFrame(
                {"vertex": [self._sentinel], "root": [self._sentinel],
                 "sign": [0], "failed": [True]}
            )
        vertices, roots, signs = out
        return pd.DataFrame(
            {"vertex": vertices, "root": roots, "sign": signs,
             "failed": [False] * len(vertices)}
        )

    def fold(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return self._signed(
            pdf["src"].values, pdf["dst"].values, np.ones(len(pdf), dtype=np.int8)
        )

    def combine(self, pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf["failed"].any():
            # an odd cycle in any partial fails the graph: pass one
            # sentinel row on
            return pdf[pdf["failed"]].head(1)
        return self._signed(
            pdf["vertex"].values, pdf["root"].values, pdf["sign"].values
        )

    def finalize(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """Color ``combine``'s output directly: its rows are flat (every
        vertex's sign is relative to its component's one root), so
        color(v) = sign(v) XOR sign(min vertex under v's root)."""
        if pdf["failed"].any():
            # (false, {}) golden: no coloring rows, one verdict row
            return pd.DataFrame(
                {"vertex": [self._sentinel], "color": [-1],
                 "is_bipartite": [False]}
            )
        vertices = pdf["vertex"].tolist()
        roots = pdf["root"].tolist()
        signs = pdf["sign"].tolist()
        low: dict = {}
        for v, r, s in zip(vertices, roots, signs):
            m = low.get(r)
            if m is None or v < m[0]:
                low[r] = (v, s)
        return pd.DataFrame(
            {
                "vertex": vertices,
                "color": [s ^ low[r][1] for r, s in zip(roots, signs)],
                "is_bipartite": [True] * len(vertices),
            }
        )


def verdict(result: DataFrame) -> bool:
    """Graph-level is_bipartite from the coloring frame."""
    row = result.agg(F.min("is_bipartite").alias("b")).collect()[0]
    return bool(row["b"])
