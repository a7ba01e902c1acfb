"""Fixed-point PageRank (power iteration as DataFrame joins).

Depth extension beyond the reference's batch-algorithm inventory (its
mains stop at SSSP / CC / community — SURVEY.md §2.8); added because
rank is the canonical next ask of an iterative join engine and it
exercises exactly the per-round shape this repo already measured into
its best form (plans/sssp.py): one equi-join (ranks → edges) + one sum
aggregate per round, ``localCheckpoint`` every round (PLANS.md r4:
per-round cuts PREVENT duplicated work — each round references the
previous frame once here, but the cadence also bounds lineage), and
``hint("merge")`` on the checkpointed edge side so an under-estimated
edge derivation can never become a repeated leaf broadcast.

Cross-engine determinism: ranks are BIGINT **fixed-point** (SCALE =
10^12) and every division is integer ``div`` — no accumulated float
sums (float addition is order-dependent and would never hash-match
DuckDB), per the oracle-determinism rule "doubles only as single int
divisions"; the final probability is emitted as exactly one such
division. The fixed-point round function is

    rank'(v) = (15 * (SCALE div N)) div 100
             + (85 * sum_{u->v} (rank(u) div deg(u))) div 100

i.e. damping 0.85 with uniform teleport, all in exact integer
arithmetic — both engines floor identically on non-negative values
(Spark ``div``, DuckDB ``//``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12
DAMP_NUM = 85  # damping numerator; denominator 100
TELE_NUM = 100 - DAMP_NUM


def pagerank(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """(vertex, rank, prob) after ``rounds`` fixed-point power
    iterations over the distinct symmetrized edge set of
    ``edges(src, dst)``. ``rank`` is the SCALE-scaled BIGINT mass;
    ``prob`` = rank / SCALE as the one permitted double division.

    The vertex set is deg's key set: the edges are symmetric, so every
    non-self-loop endpoint has deg >= 1."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    e = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # distinct + materialized once: every round joins this frame, and
    # without the cut the upstream derivation re-executes per round
    e = e.dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)

    deg = (
        e.groupBy(F.col("src").alias("vertex"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # N and the per-vertex teleport base, derived IN-PLAN (1-row agg
    # cross-joined in — contractually tiny, same pattern as sssp's
    # in-plan source)
    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    deg = (
        deg.crossJoin(F.broadcast(nv))
        .withColumn("r0", F.expr(f"CAST({SCALE} AS BIGINT) div nv"))
        .localCheckpoint(eager=True)
    )

    # the rank frame CARRIES (degree, r0) so the per-round contribution
    # is a zero-join projection — each round is exactly one equi-join
    # (contrib -> edges) + one sum aggregate + one left join back to
    # the O(V) deg frame, nothing else
    rank = deg.select("vertex", "degree", "r0", F.col("r0").alias("rank"))
    for r in range(rounds):
        contrib = rank.select(
            "vertex", F.expr("CAST(rank AS BIGINT) div degree").alias("c")
        )
        inflow = (
            contrib.alias("ct")
            .join(e.alias("ed").hint("merge"), F.col("ct.vertex") == F.col("ed.src"))
            .groupBy(F.col("ed.dst").alias("vertex"))
            .agg(F.sum("c").cast("long").alias("inflow"))
        )
        rank = (
            deg.alias("dg")
            .join(inflow.alias("fl"), F.col("dg.vertex") == F.col("fl.vertex"), "left")
            .select(
                F.col("dg.vertex").alias("vertex"),
                F.col("dg.degree").alias("degree"),
                F.col("dg.r0").alias("r0"),
                F.expr(
                    f"CAST({TELE_NUM} AS BIGINT) * dg.r0 div 100"
                    f" + CAST({DAMP_NUM} AS BIGINT) * coalesce(fl.inflow, CAST(0 AS BIGINT)) div 100"
                ).cast("long").alias("rank"),
            )
        )
        if r < rounds - 1:
            rank = rank.localCheckpoint(eager=True)
    return rank.select(
        "vertex",
        "rank",
        (F.col("rank").cast("double") / F.lit(float(SCALE))).alias("prob"),
    )


def sql_pagerank(edges_cte: str, rounds: int = 3) -> str:
    """Unrolled-CTE DuckDB twin of ``pagerank(rounds=R)``
    over ``edges_cte`` (a CTE named ``edges`` with src, dst). Every
    round CTE is MATERIALIZED (DuckDB inlines CTEs by default — the
    same re-execution blow-up the Spark side checkpoints against)."""
    ctes = [
        "sym AS MATERIALIZED (SELECT DISTINCT u, v FROM ("
        " SELECT src AS u, dst AS v FROM edges WHERE src <> dst"
        " UNION ALL SELECT dst, src FROM edges WHERE src <> dst))",
        "deg AS MATERIALIZED (SELECT u AS vertex,"
        " count(*)::BIGINT AS degree FROM sym GROUP BY u)",
        "nv AS (SELECT count(*)::BIGINT AS n FROM deg)",
        f"dg AS MATERIALIZED (SELECT vertex, degree,"
        f" CAST({SCALE} AS BIGINT) // n AS r0 FROM deg CROSS JOIN nv)",
        "p0 AS MATERIALIZED (SELECT vertex, r0 AS rank FROM dg)",
    ]
    for r in range(rounds):
        ctes.append(
            f"p{r + 1} AS MATERIALIZED (SELECT d.vertex,"
            f" CAST({TELE_NUM} * d.r0 // 100"
            f" + {DAMP_NUM} * coalesce(f.inflow, 0) // 100 AS BIGINT) AS rank"
            f" FROM dg d LEFT JOIN ("
            f" SELECT s.v AS vertex, sum(p.rank // d2.degree) AS inflow"
            f" FROM p{r} p JOIN dg d2 ON d2.vertex = p.vertex"
            f" JOIN sym s ON s.u = p.vertex"
            f" GROUP BY s.v) f ON f.vertex = d.vertex)"
        )
    return (
        f"WITH {edges_cte},\n"
        + ",\n".join(ctes)
        + f"\nSELECT vertex, rank, CAST(rank AS DOUBLE) / {float(SCALE)}"
        f" AS prob FROM p{rounds}"
    )
