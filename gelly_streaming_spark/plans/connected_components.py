"""Single-pass streaming connected components (weakly connected).

Rebuild of library/ConnectedComponents.java:44-155: per-shard
union-find fold (ConnectedComponents.java:86-89), partials exported as
(vertex, component) pairs, and a merge phase that re-unions every pair
(DisjointSet.merge, DisjointSet.java:132-136). Fold, merge and the
quotient resolution are one call each of the same batch kernel,
``synopses.union_find``. Component ids are the component's MIN vertex
id, so output is deterministic and matches a recursive-CTE MIN-label
SQL oracle. Output: (vertex, component).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gelly_streaming_spark.functions.synopses import union_find
from gelly_streaming_spark.operators.aggregation import (
    GraphAggregation,
    sharded_fold,
    single_group,
)


def _components(a, b, columns=("vertex", "component")) -> pd.DataFrame:
    vertices, labels = union_find(a, b)
    return pd.DataFrame({columns[0]: vertices, columns[1]: labels})


class ConnectedComponents(GraphAggregation):
    """Merge-tree CC. Works for any vertex type; schemas below assume
    long vertex ids (use ``vertex_type='string'`` for transcript
    node labels)."""

    def __init__(self, vertex_type: str = "long"):
        self.partial_schema = f"vertex {vertex_type}, component {vertex_type}"
        self.output_schema = self.partial_schema

    def fold(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return _components(pdf["src"].values, pdf["dst"].values)

    def combine(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return _components(pdf["vertex"].values, pdf["component"].values)


def _contract_min_labels(quotient: DataFrame, comp_type: str) -> DataFrame:
    """Exact CC over a LARGE quotient graph — fully distributed, no
    single task ever holds the whole quotient (the fallback for
    non-connectivity-local sharding, VERDICT r2 #3).

    Min-parent contraction with pointer doubling: per outer round,
    (a) every node points at the min of itself and its neighbors —
    strictly decreasing, so the pointers form a forest; (b) pointer
    doubling (p <- p∘p, ceil(log2) self-joins) jumps every node to
    its forest root; (c) edges contract to root endpoints, self-loops
    drop. A path-graph quotient resolves in ONE outer round (the
    doubling does the linear chase in log steps); adversarial shapes
    need O(log) outer rounds. Every step is a groupBy/join —
    shuffle-parallel. localCheckpoint per round cuts the iterative
    lineage (see plans/matching.dominant_matching).

    Returns (comp, root) for every comp appearing in the quotient.
    """
    edges = quotient.select(
        F.col("comp").alias("a"), F.col("min_comp").alias("b")
    ).localCheckpoint(eager=True)
    # running mapping comp -> current label, over the original comps
    mapping = (
        edges.select(F.col("a").alias("comp"))
        .unionAll(edges.select(F.col("b").alias("comp")))
        .distinct()
        .select("comp", F.col("comp").alias("root"))
        .localCheckpoint(eager=True)
    )
    max_outer = 40  # > log2 of any feasible component count
    # one emptiness check per round PLUS one after the final round, so
    # a quotient that resolves exactly on round max_outer is not
    # misreported as non-convergent
    for _ in range(max_outer + 1):
        n_edges = edges.count()
        if n_edges == 0:
            break
        sym = edges.unionAll(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        # p(x) = min(x, neighbors(x)) — strictly-decreasing forest
        p = (
            sym.groupBy("a")
            .agg(F.min("b").alias("p"))
            .select("a", F.least("a", "p").alias("p"))
            .localCheckpoint(eager=True)
        )
        # forest depth <= #nodes <= 2*|edges|; 2^doublings must cover it
        doublings = max(1, math.ceil(math.log2(max(2, 2 * n_edges))))
        for _ in range(doublings):
            p2 = p.select(F.col("a").alias("x"), F.col("p").alias("px"))
            p = (
                p.join(p2, p["p"] == p2["x"], "left")
                .select("a", F.coalesce("px", "p").alias("p"))
                .localCheckpoint(eager=True)
            )
        # fold this round's roots into the running mapping
        pm = p.select(F.col("a").alias("x"), F.col("p").alias("px"))
        mapping = (
            mapping.join(pm, mapping["root"] == pm["x"], "left")
            .select("comp", F.coalesce("px", "root").alias("root"))
            .localCheckpoint(eager=True)
        )
        # contract edges to root endpoints; drop self-loops
        pa = p.select(F.col("a").alias("x"), F.col("p").alias("ra"))
        pb = p.select(F.col("a").alias("x"), F.col("p").alias("rb"))
        edges = (
            edges.join(pa, edges["a"] == pa["x"], "left")
            .select(F.coalesce("ra", "a").alias("a"), "b")
            .join(pb, F.col("b") == pb["x"], "left")
            .select("a", F.coalesce("rb", "b").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("b2"), F.greatest("a", "b").alias("a"))
            .select(F.col("a"), F.col("b2").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            "quotient contraction did not converge in "
            f"{max_outer} rounds — not a connectivity structure "
            "this fallback anticipates"
        )
    return mapping.select(
        F.col("comp").cast(comp_type).alias("comp"),
        F.col("root").cast(comp_type).alias("root"),
    )


def resolve_partials(
    partials: DataFrame, quotient_serial_limit: int = 1_000_000
) -> DataFrame:
    """Distributed resolution of shard-local CC partials — the
    scalable replacement for the funnel combine.

    ``partials``: (vertex, component) rows from per-shard union-find
    folds (a vertex may appear in several shards with different local
    components; component labels are shard-local min vertices).

    Instead of merging ALL O(V) pairs in one task (the reference's
    parallelism-1 Merger, GraphAggregation.java:80-117 — fine on one
    box, impossible at 10^9 vertices), only the QUOTIENT graph of
    local components is globally resolved, with ONE shuffle over the
    partials:

      1. groupBy(vertex) -> (vertex, comps, min_comp), materialized
         once. A vertex spanning k local components links them: its
         (comp, min_comp) pairs with comp != min_comp are the
         quotient edges. The same job counts them with an
         ``Observation`` (sum(size(comps) - 1), i.e. quotient edges
         BEFORE dedup); when none exist, (vertex, min_comp) is the
         answer.
      2. exact CC on the quotient edges. Under connectivity-local
         sharding (conv-prefix / salted hot convs) the quotient is
         near-empty and a single vectorized union-find task resolves
         it; when its edge count exceeds ``quotient_serial_limit``
         (pathological sharding: e.g. one giant hash-sharded path
         component, VERDICT r2 #3) the fully-distributed pointer-
         doubling contraction takes over on the deduplicated edges —
         no O(V) single task, no O(V) driver broadcast.
      3. left-join the component→root mapping on ``min_comp``: every
         comp of a vertex has the same root, so one lookup per vertex
         suffices and no second aggregate over ``vertex`` is needed.
         No pinned broadcast: AQE broadcasts the mapping when it is
         actually small.

    Output: (vertex, component) with component = global min vertex.
    """
    obs = Observation()
    grouped = (
        partials.groupBy("vertex")
        .agg(F.collect_set("component").alias("comps"))
        .select("vertex", "comps", F.array_min("comps").alias("min_comp"))
        .observe(obs, F.sum(F.size("comps") - 1).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_quotient = obs.get["n"] or 0
    if n_quotient == 0:
        return grouped.select("vertex", F.col("min_comp").alias("component"))
    quotient = grouped.select(
        F.explode("comps").alias("comp"), "min_comp"
    ).filter(F.col("comp") != F.col("min_comp"))
    comp_type = dict(partials.dtypes)["component"]
    if n_quotient > quotient_serial_limit:
        mapping = _contract_min_labels(quotient.distinct(), comp_type)
    else:

        def tiny_cc(pdf: pd.DataFrame) -> pd.DataFrame:
            return _components(
                pdf["comp"].values, pdf["min_comp"].values, ("comp", "root")
            )

        mapping = single_group(
            quotient, tiny_cc, f"comp {comp_type}, root {comp_type}"
        )
    return grouped.join(
        mapping, grouped["min_comp"] == mapping["comp"], "left"
    ).select("vertex", F.coalesce("root", "min_comp").alias("component"))


def connected_components(
    edges: DataFrame,
    num_shards: int = 32,
    salt: int = 1,
    shard_on=None,
    vertex_type: str | None = None,
) -> DataFrame:
    """Scalable single-pass CC: sharded union-find fold + distributed
    quotient resolution (no O(V) funnel). Pass ``shard_on`` = a
    connectivity-local key (e.g. the conv_id prefix of transcript
    vertex labels) to make the quotient near-empty."""
    if vertex_type is None:
        vertex_type = "string" if dict(edges.dtypes)["src"] == "string" else "long"
    partials = sharded_fold(
        edges,
        ConnectedComponents(vertex_type=vertex_type),
        num_shards=num_shards,
        salt=salt,
        shard_on=shard_on,
    )
    return resolve_partials(partials)
