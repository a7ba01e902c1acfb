"""Greedy weighted matching (2-approximation, single pass).

Rebuild of example/CentralizedWeightedMatching.java:41-108: a
parallelism-1 stateful pass keeps a local matching; each arriving
edge (u, v, w) collides with at most two matched edges (one per
endpoint) and replaces them iff w > 2 · Σw(collisions) — the classic
streaming 2-approx of McGregor. Emits ADD/REMOVE events per decision
(MatchingEvent semantics); ``greedy_matching`` returns the final
matching, ``greedy_matching_events`` the full event stream.

Like the reference (env.setParallelism(1),
CentralizedWeightedMatching.java:59), the algorithm is inherently
sequential — implemented as a single-group ``applyInPandas``
(vectorized transport, sequential fold inside, processing edges in
(ts, src, dst) order for determinism) through
``operators.aggregation.single_group``. Documented serial point:
excluded from scaling claims; ``dominant_matching`` is the
distributed twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.operators.aggregation import single_group

_EVENT_SCHEMA = "op string, src long, dst long, val long, seq long"


def _fold_matching(pdf: pd.DataFrame, emit_events: bool) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts", "src", "dst"], kind="stable")
    by_vertex: dict[int, tuple[int, int, int]] = {}  # vertex -> (u, v, w)
    events = []
    seq = 0
    for u, v, w in zip(pdf["src"], pdf["dst"], pdf["val"]):
        u, v, w = int(u), int(v), int(w)
        if u == v:
            continue
        collisions = {e for e in (by_vertex.get(u), by_vertex.get(v)) if e}
        if w > 2 * sum(e[2] for e in collisions):
            for e in collisions:
                del by_vertex[e[0]]
                del by_vertex[e[1]]
                events.append(("REMOVE", e[0], e[1], e[2], seq))
                seq += 1
            edge = (u, v, w)
            by_vertex[u] = edge
            by_vertex[v] = edge
            events.append(("ADD", u, v, w, seq))
            seq += 1
    if emit_events:
        return pd.DataFrame(events, columns=["op", "src", "dst", "val", "seq"])
    final = sorted({e for e in by_vertex.values()})
    return pd.DataFrame(
        {
            "src": [e[0] for e in final],
            "dst": [e[1] for e in final],
            "val": [e[2] for e in final],
        }
    )


def greedy_matching(edges: DataFrame) -> DataFrame:
    """Final 2-approx matching: (src, dst, val)."""
    return single_group(
        edges.select("src", "dst", "val", "ts"),
        lambda pdf: _fold_matching(pdf, emit_events=False),
        "src long, dst long, val long",
    )


def dominant_matching(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Distributed weighted matching — the scale-path twin of
    ``greedy_matching`` (which is the faithful port of the
    reference's parallelism-1 streaming 2-approx,
    CentralizedWeightedMatching.java:68-108, and stays a documented
    serial parity op).

    Locally-dominant matching (Preis/Manne-Bisseling style): per
    round, every vertex nominates its best incident edge under the
    deterministic total order (val DESC, src, dst); an edge matched
    iff BOTH endpoints nominate it; matched vertices' edges drop out;
    repeat. Every step is a shuffle-parallel window/join — no global
    sequential fold — and the result converges to the unique greedy
    maximal matching of that order (a 1/2-approximation). ``rounds``
    is FIXED (unrolled plan) so the output is deterministic and has
    an exact DuckDB oracle regardless of whether convergence was
    reached; each extra round is one more window + two joins + two
    anti-joins. Returns (src, dst, val).
    """
    remaining = edges.select("src", "dst", "val")
    matched_rounds = []
    for _ in range(rounds):
        # each round references `remaining` five times (nominations,
        # two dominance joins, two anti-joins): without a lineage CUT
        # the logical plan grows ~5^rounds and both the analyzer and
        # re-execution blow up. localCheckpoint materializes the
        # round's frontier (O(remaining edges), shrinking fast) and
        # replaces its lineage with the materialized RDD — the
        # standard iterative-algorithm pattern. On a cluster the
        # blocks live on executors (lost-executor recompute is not
        # possible); swap for checkpoint(dir) on long-running jobs.
        remaining = remaining.localCheckpoint(eager=True)
        inc = remaining.select(
            F.col("src").alias("vertex"), "src", "dst", "val"
        ).unionAll(
            remaining.select(F.col("dst").alias("vertex"), "src", "dst", "val")
        )
        from pyspark.sql import Window

        w = Window.partitionBy("vertex").orderBy(
            F.col("val").desc(), F.col("src").asc(), F.col("dst").asc()
        )
        best = (
            inc.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vertex", "src", "dst", "val")
        )
        bu = best.select(
            F.col("vertex").alias("bu_v"),
            F.col("src").alias("bu_s"),
            F.col("dst").alias("bu_d"),
        )
        bv = best.select(
            F.col("vertex").alias("bv_v"),
            F.col("src").alias("bv_s"),
            F.col("dst").alias("bv_d"),
        )
        dom = (
            remaining.join(
                bu,
                (F.col("bu_v") == F.col("src"))
                & (F.col("bu_s") == F.col("src"))
                & (F.col("bu_d") == F.col("dst")),
            )
            .join(
                bv,
                (F.col("bv_v") == F.col("dst"))
                & (F.col("bv_s") == F.col("src"))
                & (F.col("bv_d") == F.col("dst")),
            )
            .select("src", "dst", "val")
        )
        dom = dom.localCheckpoint(eager=True)
        matched_rounds.append(dom)
        mv = dom.select(F.col("src").alias("vertex")).unionAll(
            dom.select(F.col("dst").alias("vertex"))
        ).distinct()
        remaining = remaining.join(
            mv, remaining["src"] == mv["vertex"], "left_anti"
        )
        remaining = remaining.join(
            mv, remaining["dst"] == mv["vertex"], "left_anti"
        )
    out = matched_rounds[0]
    for m in matched_rounds[1:]:
        out = out.unionAll(m)
    return out


def greedy_matching_events(edges: DataFrame) -> DataFrame:
    """The ADD/REMOVE MatchingEvent stream: (op, src, dst, val, seq)."""
    return single_group(
        edges.select("src", "dst", "val", "ts"),
        lambda pdf: _fold_matching(pdf, emit_events=True),
        _EVENT_SCHEMA,
    )
