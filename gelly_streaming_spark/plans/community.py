"""Label-propagation community detection (synchronous, fixed rounds).

Rebuild of the reference's Gelly batch community-detection mains
(batchapp/community.java:73 runs
``graph.run(new LabelPropagation<>(1))``;
batchapp/CommunityDetectionITCase.java drives the same under each
partitioner): vertices start with their own id as label; per
synchronous round every vertex adopts the MOST FREQUENT label among
its neighbors. Flink's library breaks frequency ties internally; here
ties break to the SMALLEST label — deterministic on both engines (a
documented semantic choice, not a port of JVM iteration order).

Spark-first shape: one round = explode both edge directions, count
(vertex, neighbor-label) votes, pick the argmax with a two-level
aggregate (min over (-votes, label) structs — same (votes DESC,
label ASC) tie rule, no per-vertex sort) — all Catalyst (shuffle on
vertex, map-side partial counts).
Fixed ``rounds`` unrolls to a deterministic plan with an exact
unrolled-CTE DuckDB oracle; ``localCheckpoint`` per round cuts the
iterative lineage. Vertices keep their current label when a round
gives them no votes (isolated after filtering) via the left join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.plans.sssp import CKPT_EVERY


def label_propagation(edges: DataFrame, rounds: int = 1) -> DataFrame:
    """(vertex, community) after ``rounds`` synchronous label-
    propagation rounds; labels start as vertex ids. ``rounds=1`` is
    the reference's exact configuration (community.java:73)."""
    e = edges.select("src", "dst")
    e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # materialize the edge derivation once — each round joins against
    # it (without the cut, e.g. a cooc self-join re-executes per round)
    e = e.localCheckpoint(eager=True)
    # e is symmetric: every vertex appears as src
    labels = (
        e.select(F.col("src").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("label"))
    )
    # lineage cut every CKPT_EVERY rounds (each round references the
    # label frame twice -> 2^k plan growth between cuts; k=2 keeps the
    # analyzed tree tiny while halving eager-materialization jobs,
    # VERDICT r3 #5). Round 0 is always cut: labels0 is a distinct over
    # the edge frame and would otherwise compute twice per round.
    for r in range(rounds):
        if r % CKPT_EVERY == 0:
            labels = labels.localCheckpoint(eager=True)
        # hint("merge") on the edge side for the same reason as
        # plans/sssp.relax: checkpoint-preserved under-estimates must
        # not turn the per-round join into a repeated edge broadcast
        nbr_labels = e.hint("merge").join(
            labels.select(F.col("vertex").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("vertex"), "label")
        # argmax by (votes DESC, label ASC) == min((-votes, label)):
        # a partial-aggregating two-level groupBy instead of a
        # row_number window — same tie semantics, no per-vertex sort
        # (votes is a count, so the negation is always numeric; label
        # stays any orderable type)
        winners = (
            nbr_labels.groupBy("vertex", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
            .groupBy("vertex")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("votes")).alias("nv"),
                        F.col("label").alias("l"),
                    )
                ).alias("m")
            )
            .select("vertex", F.col("m.l").alias("new_label"))
        )
        labels = labels.join(winners, "vertex", "left").select(
            "vertex", F.coalesce("new_label", "label").alias("label")
        )
    return labels.select("vertex", F.col("label").alias("community"))


def sql_label_propagation(edges_cte: str, rounds: int = 1) -> str:
    """Unrolled-CTE DuckDB twin of ``label_propagation(rounds=R)``
    over a CTE named ``edges`` (src, dst): per round, count neighbor-
    label votes and pick (votes DESC, label ASC) per vertex."""
    ctes = [
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM edges"
        " UNION ALL SELECT dst, src FROM edges)",
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS vertex,"
        " u AS label FROM sym)",
    ]
    for r in range(rounds):
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT vertex, label FROM ("
            " SELECT s.u AS vertex, l.label,"
            " count(*) AS votes,"
            " row_number() OVER (PARTITION BY s.u"
            " ORDER BY count(*) DESC, l.label ASC) AS rn"
            f" FROM sym s JOIN l{r} l ON l.vertex = s.v"
            " GROUP BY s.u, l.label) WHERE rn = 1)"
        )
        ctes.append(
            f"l{r + 1} AS MATERIALIZED (SELECT l.vertex,"
            " coalesce(w.label, l.label) AS label"
            f" FROM l{r} l LEFT JOIN w{r} w ON w.vertex = l.vertex)"
        )
    return (
        f"WITH {edges_cte},\n"
        + ",\n".join(ctes)
        + f"\nSELECT vertex, label AS community FROM l{rounds}"
    )
