"""Streaming graph partitioners + partition-quality metrics.

Rebuild of the fork's research contribution (SURVEY.md §2.9): the
edge partitioners under ``partitioner/edgepartitioners/`` and vertex
partitioners under ``vertexpartitioners/``, plus the edge-cut /
load / replication metrics of ``object/StoredState.java:65-105`` and
``partitioner/tests/CutSink.java:13-32``.

Spark disposition (SURVEY.md §2.9 mapping):

- **Stateless rules** (HashEdges ``edgepartitioners/HashEdges.java:
  78-110``, DBH ``Dbh.java:99-160``, Grid constraint sets
  ``Grid.java:100-150``) are pure Catalyst expressions — at scale
  they feed ``repartition(k, col("part"))`` / ``partitionBy`` writes
  so the assignment IS the shuffle. DBH's degree table is a first
  aggregate + an equi-join (broadcast when the vertex set is small).
- **Stateful scoring rules** (HDRF ``Hdrf.java:92-224``, Greedy
  ``Greedy.java:95-170``, least-loaded Grid/PDS selection, Fennel
  ``vertexpartitioners/Fennel.java:132-230``, LinearGreedy) depend on
  per-machine load counters updated per record — the reference runs
  them at parallelism 1 over a static shared map
  (``CustomKeySelector.java:12-33``, ``Hdrf.java:33``). The faithful
  port is a single-group sequential fold (``applyInPandas``, edges in
  (ts, src, dst) order): a documented serial analysis op for parity
  experiments, not a live stream partitioner. The scalable
  load-balancing objective they chase maps to salting + AQE
  (``operators/aggregation.with_shard``).

Hashes are the md5-derived ``hash60`` (engine-portable, see
``queries.py``) rather than JVM ``Object.hashCode`` — same uniformity,
deterministic everywhere.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelly_streaming_spark.functions.hashing import HASH60 as _HASH60
from gelly_streaming_spark.functions.hashing import hash60_py
from gelly_streaming_spark.operators.aggregation import single_group

# hash of a value cast to string (vertex ids may be longs or labels)
H60 = _HASH60.format(x="cast({x} as string)")


def _h(expr: str) -> str:
    return H60.format(x=expr)


# ---------------------------------------------------------------------------
# stateless edge partitioners (Catalyst-native)
# ---------------------------------------------------------------------------


def _with_endpoint_degrees(edges: DataFrame, du: str, dv: str) -> DataFrame:
    """``edges`` plus each endpoint's degree as columns ``du`` (src)
    and ``dv`` (dst): one aggregate over the edge set and two
    equi-joins on vertex. No broadcast hint — the degree side is
    O(V), billions of rows at 100 TB, so Catalyst/AQE picks broadcast
    vs shuffle from the actual size (ADVICE.md r1)."""
    deg = (
        edges.select(F.explode(F.array("src", "dst")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ds = deg.select(F.col("vertex").alias("src"), F.col("deg").alias(du))
    dd_ = deg.select(F.col("vertex").alias("dst"), F.col("deg").alias(dv))
    return edges.join(ds, "src").join(dd_, "dst")


def hash_edges(edges: DataFrame, k: int) -> DataFrame:
    """HashEdges (HashEdges.java:78-110): part = hash(src) mod k."""
    return edges.withColumn(
        "part", F.expr(f"pmod({_h('src')}, {k})").cast("int")
    )


def dbh(edges: DataFrame, k: int) -> DataFrame:
    """Degree-Based Hashing (Dbh.java:99-160): hash the LOWER-degree
    endpoint (cuts high-degree hubs, replicating them instead of
    their neighbors). Degrees come from ``_with_endpoint_degrees``;
    ties break to the smaller vertex id (deterministic)."""
    j = _with_endpoint_degrees(edges, "deg_src", "deg_dst")
    chosen = (
        F.when(F.col("deg_src") < F.col("deg_dst"), F.col("src"))
        .when(F.col("deg_dst") < F.col("deg_src"), F.col("dst"))
        .otherwise(F.least("src", "dst"))
    )
    return j.withColumn("chosen", chosen).withColumn(
        "part", F.expr(f"pmod({_h('chosen')}, {k})").cast("int")
    ).select(*edges.columns, "part")


def grid_constraint_sets(k: int) -> list[list[int]]:
    """Grid constraint sets (Grid.java:100-150): machines arranged in
    an r×c grid (r*c = k); vertex v's set = its row ∪ column. Any two
    sets intersect, bounding replication at r + c − 1."""
    r = int(math.sqrt(k))
    while k % r:
        r -= 1
    c = k // r
    grid = [[i * c + j for j in range(c)] for i in range(r)]
    sets = []
    for m in range(k):
        i, j = divmod(m, c)
        row = set(grid[i])
        col = {grid[x][j] for x in range(r)}
        sets.append(sorted(row | col))
    return sets


def grid_lookup_tables(k: int) -> tuple[list[int], list[int], list[int]]:
    """(offsets, sizes, members_flat) for the k×k pairwise
    constraint-set intersections of the grid layout: for vertex
    shards su, sv the candidate machines are
    ``members_flat[offsets[su*k+sv] : offsets[su*k+sv]+sizes[su*k+sv]]``
    (sorted). Off-diagonal intersections have 1–2 members (the two
    crossing cells (i1,j2), (i2,j1) — one when a row or column is
    shared); the diagonal is the full row∪column set. Shared by
    ``grid_partition_stateless`` and its DuckDB oracle twin so both
    engines embed identical literals."""
    sets = [set(s) for s in grid_constraint_sets(k)]
    offsets, sizes, members = [], [], []
    for su in range(k):
        for sv in range(k):
            inter = sorted(sets[su] & sets[sv])
            offsets.append(len(members))
            sizes.append(len(inter))
            members.extend(inter)
    return offsets, sizes, members


def grid_partition_stateless(edges: DataFrame, k: int) -> DataFrame:
    """Grid edge partitioner, Catalyst batch form (the scale path) —
    same disposition as ``pds_partition``.

    Reference rule (edgepartitioners/Grid.java:100-150): vertex shard
    = hash(v) mod k; edge machine = least-loaded member of the
    INTERSECTION of the endpoints' grid constraint sets (row ∪ column
    of the shard's grid cell — any two sets intersect, bounding
    replication at r + c − 1). The reference breaks least-loaded ties
    sequentially (parallelism-1 state); this batch form substitutes a
    deterministic uniform member ``hash(src,dst) mod |intersection|``
    — same expected balance (off-diagonal intersections have ≤ 2
    members, so uniform-over-candidates ≈ least-loaded in
    expectation), no state, exact DuckDB oracle. The faithful
    least-loaded fold is ``grid_partition``.

    Plan: three tiny literal lookup arrays (k², k², Σ|∩| ints) inside
    one projection — zero joins, zero shuffles, whole-stage codegen.
    """
    offsets, sizes, members = grid_lookup_tables(k)
    su = f"pmod({_h('src')}, {k})"
    sv = f"pmod({_h('dst')}, {k})"
    hpair = _h("concat(cast(src as string), ',', cast(dst as string))")
    off_arr = "array(" + ",".join(str(x) for x in offsets) + ")"
    sz_arr = "array(" + ",".join(str(x) for x in sizes) + ")"
    mem_arr = "array(" + ",".join(str(x) for x in members) + ")"
    idx = f"cast(({su}) * {k} + ({sv}) + 1 as int)"
    expr = (
        f"element_at({mem_arr}, cast(element_at({off_arr}, {idx})"
        f" + pmod({hpair}, element_at({sz_arr}, {idx})) + 1 as int))"
    )
    return edges.withColumn("part", F.expr(expr).cast("int"))


def greedy_scalable(edges: DataFrame, k: int) -> DataFrame:
    """Greedy scale twin — the stateless limit of Greedy.java:95-170's
    score, the same disposition as ``hdrf_scalable``:

    1. each endpoint's replica set collapses to its STATIC hash home
       (the 0/1 affinity term g = [p ∈ replicas(u)] + [p ∈
       replicas(v)] becomes [p = h(u)] + [p = h(v)]), so the only
       scoring candidates are h(u) and h(v) — both with affinity 1
       when they differ, forced when equal;
    2. per-machine loads are projected from a first deterministic
       pass (p0 = h(src), i.e. the HashEdges assignment) via one
       k-row aggregate; the final choice between h(u) and h(v) is
       Greedy's balance term λ·(maxload − load(p))/(maxload + 1),
       which with equal affinities reduces (for any λ > 0) to the
       LESS-LOADED candidate home, ties → lower machine id ("power
       of two choices").

    Every step is a shuffle-parallel aggregate/join — the form that
    runs at 10^12 edges; exact SQL oracle. The faithful sequential
    fold is ``greedy_partition``."""
    j = edges.withColumn(
        "hu", F.expr(f"pmod({_h('src')}, {k})").cast("int")
    ).withColumn("hv", F.expr(f"pmod({_h('dst')}, {k})").cast("int"))
    loads = j.groupBy("hu").agg(F.count(F.lit(1)).alias("load"))
    lu = loads.select(F.col("hu"), F.col("load").alias("load_u"))
    lv = loads.select(
        F.col("hu").alias("hv"), F.col("load").alias("load_v")
    )
    scored = (
        j.join(lu, "hu", "left")
        .join(lv, "hv", "left")
        .withColumn("load_u", F.coalesce("load_u", F.lit(0)))
        .withColumn("load_v", F.coalesce("load_v", F.lit(0)))
        .withColumn(
            "part",
            F.when(F.col("hu") == F.col("hv"), F.col("hu"))
            .when(F.col("load_u") < F.col("load_v"), F.col("hu"))
            .when(F.col("load_v") < F.col("load_u"), F.col("hv"))
            .otherwise(F.least("hu", "hv"))
            .cast("int"),
        )
    )
    return scored.select(*edges.columns, "part")


def pds_generator(p: int) -> list[int] | None:
    """Perfect difference set for k = p²+p+1 (object/PdsGenerator.
    java:10-88): a set D of p+1 residues whose pairwise differences
    cover Z_k — PDS constraint sets intersect in EXACTLY one machine.
    Backtracking search (small p only, like the reference)."""
    k = p * p + p + 1
    target = p + 1

    def extend(ds: list[int], used: set[int]) -> list[int] | None:
        if len(ds) == target:
            return ds
        start = ds[-1] + 1 if ds else 0
        for c in range(start, k):
            diffs = set()
            ok = True
            for d in ds:
                a, b = (c - d) % k, (d - c) % k
                if a in used or b in used or a in diffs or b in diffs:
                    ok = False
                    break
                diffs.add(a)
                diffs.add(b)
            if ok:
                res = extend(ds + [c], used | diffs)
                if res:
                    return res
        return None

    return extend([0], set())


def pds_lookup_tables(k: int) -> tuple[int, list[int], list[int]]:
    """(p, inter_flat, cset_flat) for k = p²+p+1: the flattened k×k
    pairwise-intersection table (singleton member for su ≠ sv, −1 on
    the diagonal) and the flattened k×(p+1) constraint sets. Shared
    by ``pds_partition`` and its DuckDB oracle twin so both engines
    embed identical literals."""
    p = int(math.isqrt(k - 1))
    if p < 1 or p * p + p + 1 != k:
        raise ValueError(f"k={k} is not p^2+p+1 for integer p (PDS requirement)")
    d = pds_generator(p)
    if d is None:
        raise ValueError(
            f"no perfect difference set exists for p={p} (k={k}); "
            "p must be a prime power"
        )
    csets = [sorted(((x + i) % k) for x in d) for i in range(k)]
    inter_flat = []
    for su in range(k):
        for sv in range(k):
            inter = sorted(set(csets[su]) & set(csets[sv]))
            # perfect-difference property: singleton whenever su != sv
            inter_flat.append(inter[0] if su != sv else -1)
    cset_flat = [m for cs in csets for m in cs]
    return p, inter_flat, cset_flat


def pds_partition(edges: DataFrame, k: int) -> DataFrame:
    """PDS edge partitioner, Catalyst batch form (the scale path).

    Reference rule (edgepartitioners/Pds.java:95-160): vertex shard =
    hash(v) mod k; edge machine = least-loaded member of the
    INTERSECTION of the endpoints' PDS constraint sets
    (constraint_graph[i] = {(d + i) mod k : d ∈ D},
    Pds.java:181-199). For shard_u ≠ shard_v the perfect-difference
    property makes that intersection a SINGLETON, so the choice is
    forced — a pure stateless expression. For shard_u = shard_v the
    reference breaks the tie by least-loaded (sequential state; its
    candidate pick is literally ``new Random()``, Pds.java:147-149):
    this batch form substitutes a deterministic uniform member
    ``hash(src,dst) mod (p+1)`` of the constraint set — same expected
    balance, no state, exact DuckDB oracle. The faithful least-loaded
    fold is ``pds_sequential`` below.

    Plan: two tiny literal lookup arrays (k² and k·(p+1) ints) inside
    one projection — zero joins, zero shuffles, whole-stage codegen.
    """
    p, inter_flat, cset_flat = pds_lookup_tables(k)
    su = f"pmod({_h('src')}, {k})"
    sv = f"pmod({_h('dst')}, {k})"
    hpair = _h("concat(cast(src as string), ',', cast(dst as string))")
    inter_arr = "array(" + ",".join(str(x) for x in inter_flat) + ")"
    cset_arr = "array(" + ",".join(str(x) for x in cset_flat) + ")"
    expr = (
        f"case when ({su}) != ({sv}) then "
        f"element_at({inter_arr}, cast(({su}) * {k} + ({sv}) + 1 as int)) "
        f"else element_at({cset_arr}, "
        f"cast(({su}) * {p + 1} + pmod({hpair}, {p + 1}) + 1 as int)) end"
    )
    return edges.withColumn("part", F.expr(expr).cast("int"))


# ---------------------------------------------------------------------------
# stateful scoring partitioners (sequential parity ops)
# ---------------------------------------------------------------------------


def _single_group_fold(
    df: DataFrame, fold, schema: str | None = None
) -> DataFrame:
    """Run ``fold(pdf) -> pdf`` over the whole frame as ONE pandas
    group — the reference's parallelism-1 shared state. ``schema``
    defaults to the input columns, types preserved (vertex ids may be
    string labels or longs), plus ``part int``."""
    if schema is None:
        schema = ", ".join(f"{c} {t}" for c, t in df.dtypes) + ", part int"
    return single_group(df, fold, schema)


def _sequential_edge_partition(
    edges: DataFrame, k: int, score_fn, init_fn=None
) -> DataFrame:
    """Shared harness: fold edges in (ts, src, dst) order through a
    stateful scorer — the reference's parallelism-1 shared-state model
    (StoredState.java:14-130). ``score_fn(u, v, p, replicas, degrees,
    loads) -> float``; the argmax machine wins (ties -> lowest id).
    ``init_fn(pdf)``, if given, sees the full group before the fold
    (for scorers needing global n/m, e.g. LeastCostAdvance's alpha)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "src", "dst"], kind="stable")
        if init_fn is not None:
            init_fn(pdf)
        replicas: dict = {}
        degrees: dict = {}
        loads = [0] * k
        parts = []
        for u, v in zip(pdf["src"], pdf["dst"]):
            degrees[u] = degrees.get(u, 0) + 1
            degrees[v] = degrees.get(v, 0) + 1
            best, best_score = 0, -math.inf
            for p in range(k):
                s = score_fn(u, v, p, replicas, degrees, loads)
                if s > best_score:
                    best, best_score = p, s
            replicas.setdefault(u, set()).add(best)
            replicas.setdefault(v, set()).add(best)
            loads[best] += 1
            parts.append(best)
        out = pdf.copy()
        out["part"] = pd.array(parts, dtype="int32")
        return out

    return _single_group_fold(edges, fold)


def hdrf(edges: DataFrame, k: int, lam: float = 1.0, eps: float = 1e-9) -> DataFrame:
    """HDRF (Hdrf.java:92-224): replica affinity weighted by
    normalized degree (the HIGHER-degree endpoint is the one worth
    replicating) plus λ-weighted load balance."""

    def score(u, v, p, replicas, degrees, loads):
        du, dv = degrees[u], degrees[v]
        tu = du / (du + dv)
        tv = 1.0 - tu
        g = 0.0
        if p in replicas.get(u, ()):
            g += 1.0 + (1.0 - tu)
        if p in replicas.get(v, ()):
            g += 1.0 + (1.0 - tv)
        maxl, minl = max(loads), min(loads)
        bal = (maxl - loads[p]) / (eps + maxl - minl)
        return g + lam * bal

    return _sequential_edge_partition(edges, k, score)


def hdrf_scalable(edges: DataFrame, k: int, lam: float = 1.0) -> DataFrame:
    """HDRF scale twin — the batch expression SURVEY §2.9 proposes:
    HDRF's score (Hdrf.java:92-224) evaluated with replica affinity
    from the endpoints' STATIC hash homes and load balance from
    first-pass projected loads, instead of the sequential shared
    state. Two Catalyst passes, deterministic, exact SQL oracle:

    1. degrees du, dv via one aggregate; provisional assignment =
       hash home of the lower-degree endpoint (the stateless limit of
       HDRF's degree-normalized affinity — high-degree endpoints get
       replicated, which is also why DBH approximates HDRF);
    2. projected per-machine loads from pass 1 (k-row aggregate) feed
       HDRF's λ-balance term; final choice between the two candidate
       homes h(u), h(v) by the full score
       g(θ) + λ·(maxload − load(p))/(ε + maxload − minload),
       ties → lower machine id.

    Unlike the faithful ``hdrf`` fold (parallelism-1 parity op), every
    step here is a shuffle-parallel aggregate/join — the form that
    runs at 10^12 edges."""
    j = (
        _with_endpoint_degrees(edges, "du", "dv")
        .withColumn("hu", F.expr(f"pmod({_h('src')}, {k})").cast("int"))
        .withColumn("hv", F.expr(f"pmod({_h('dst')}, {k})").cast("int"))
        .withColumn(
            "p0",
            F.when(F.col("du") < F.col("dv"), F.col("hu"))
            .when(F.col("dv") < F.col("du"), F.col("hv"))
            .otherwise(
                F.when(F.col("src") <= F.col("dst"), F.col("hu")).otherwise(
                    F.col("hv")
                )
            ),
        )
    )
    loads = j.groupBy("p0").agg(F.count(F.lit(1)).alias("load"))
    bounds = loads.agg(
        F.max("load").alias("maxl"), F.min("load").alias("minl")
    )
    lu = loads.select(F.col("p0").alias("hu"), F.col("load").alias("load_u"))
    lv = loads.select(F.col("p0").alias("hv"), F.col("load").alias("load_v"))
    scored = (
        j.join(lu, "hu", "left")
        .join(lv, "hv", "left")
        .crossJoin(bounds)
        .withColumn("load_u", F.coalesce("load_u", F.lit(0)))
        .withColumn("load_v", F.coalesce("load_v", F.lit(0)))
        # identical operation order in the SQL twin: theta as a single
        # int division; bal as (maxl - load) / (eps + maxl - minl)
        .withColumn("tu", F.expr("cast(du as double) / (du + dv)"))
        .withColumn("tv", F.expr("cast(dv as double) / (du + dv)"))
        .withColumn(
            "score_u",
            F.expr(
                f"(1.0 + (1.0 - tu)) + {lam} * (maxl - load_u) / (1e-9 + maxl - minl)"
            ),
        )
        .withColumn(
            "score_v",
            F.expr(
                f"(1.0 + (1.0 - tv)) + {lam} * (maxl - load_v) / (1e-9 + maxl - minl)"
            ),
        )
        .withColumn(
            "part",
            F.when(F.col("hu") == F.col("hv"), F.col("hu"))
            .when(F.col("score_u") > F.col("score_v"), F.col("hu"))
            .when(F.col("score_v") > F.col("score_u"), F.col("hv"))
            .otherwise(F.least("hu", "hv"))
            .cast("int"),
        )
    )
    return scored.select(*edges.columns, "part")


def greedy_partition(edges: DataFrame, k: int, lam: float = 1.0) -> DataFrame:
    """Greedy (Greedy.java:95-170): 0/1 replica affinity + balance."""

    def score(u, v, p, replicas, degrees, loads):
        g = (p in replicas.get(u, ())) + (p in replicas.get(v, ()))
        maxl = max(loads)
        return g + lam * (maxl - loads[p]) / (maxl + 1.0)

    return _sequential_edge_partition(edges, k, score)


def _constraint_set_partition(
    edges: DataFrame, k: int, csets: list[frozenset]
) -> DataFrame:
    """The rule Grid and PDS share: least-loaded machine in the
    intersection of the endpoints' constraint sets, ties -> lowest
    machine id (the reference picks randomly among least-loaded,
    Pds.java:147-149 — made deterministic here). Vertex shard =
    ``hash60(v) % k``, the same canonical 60-bit hash as the Catalyst
    PDS form (ADVICE r2: a crc32 fallback used to pick different
    constraint sets than the Catalyst twin for the same edge)."""

    def score(u, v, m, replicas, degrees, loads):
        if m not in csets[hash60_py(u) % k] & csets[hash60_py(v) % k]:
            return -math.inf
        return -loads[m]

    return _sequential_edge_partition(edges, k, score)


def grid_partition(edges: DataFrame, k: int) -> DataFrame:
    """Grid (Grid.java:100-150): least-loaded machine in the
    intersection of the endpoints' grid constraint sets (any two
    intersect)."""
    return _constraint_set_partition(
        edges, k, [frozenset(s) for s in grid_constraint_sets(k)]
    )


def pds_sequential(edges: DataFrame, k: int) -> DataFrame:
    """Faithful PDS edge partitioner (Pds.java:95-160): least-loaded
    machine in the intersection of the endpoints' PDS constraint
    sets. Sequential parity op; the stateless scale form is
    ``pds_partition``. Both forms shard vertices by the same
    ``hash60(v) % k``, so wherever shard_u != shard_v the intersection
    is a singleton and the two forms agree exactly."""
    # shares the full validation (incl. the None return for
    # non-prime-power p) with the batch form
    p, _, cset_flat = pds_lookup_tables(k)
    return _constraint_set_partition(
        edges,
        k,
        [frozenset(cset_flat[i * (p + 1) : (i + 1) * (p + 1)]) for i in range(k)],
    )


def least_cost(edges: DataFrame, k: int) -> DataFrame:
    """LeastCost (edgepartitioners/LeastCost.java:99-260): per-machine
    cost = 0 if BOTH endpoints already live there, 1 if one, 2 if
    neither (getValue :215-235); pick min cost, ties -> smaller
    cost+load (compareCost :185-210, which under equal cost is the
    smaller load), further ties -> lowest machine id. Encoded for the
    argmax harness as score = -(cost·BIG + load)."""
    BIG = 1 << 40

    def score(u, v, m, replicas, degrees, loads):
        present = (m in replicas.get(u, ())) + (m in replicas.get(v, ()))
        cost = 2 - present
        return -(cost * BIG + loads[m])

    return _sequential_edge_partition(edges, k, score)


def least_cost_advance(
    edges: DataFrame, k: int, gamma: float = 1.5
) -> DataFrame:
    """LeastCostAdvance (edgepartitioners/LeastCostAdvance.java:
    104-226): Fennel-shaped edge score — value(m) = #endpoints
    already on m (0/1/2, getValue :206-226) minus
    α·γ·load(m)^(γ−1); argmax, first index wins ties
    (CompareCost :193-204). α is the fork's own formula AS WRITTEN
    (:122: ``alpha = m·n^1.5 + sqrt(k)/n^1.5`` — operator precedence
    makes the first term dominate, so the balance term swamps
    affinity; reproduced faithfully as a parity op, not "fixed")."""
    ctx = {}

    def init(pdf: pd.DataFrame) -> None:
        n = max(1, pd.concat([pdf["src"], pdf["dst"]]).nunique())
        m = len(pdf)
        ctx["alpha"] = m * (n ** 1.5) + math.sqrt(k) / (n ** 1.5)

    def score(u, v, m, replicas, degrees, loads):
        present = (m in replicas.get(u, ())) + (m in replicas.get(v, ()))
        return present - ctx["alpha"] * gamma * (loads[m] ** (gamma - 1))

    return _sequential_edge_partition(edges, k, score, init_fn=init)


def degree_based_custom(
    edges: DataFrame, k: int, loadlimit: float | None = None
) -> DataFrame:
    """DegreeBasedCustom (edgepartitioners/DegreeBasedCustom.java:
    149-252): per-partition per-vertex degree tables; membership value
    2/1/0 like LeastCostAdvance, argmax under a load limit
    (loadlimit = (k·1.1 + m)/k, :163), with the fork's asymmetric
    degree tie-breaks (cost() :151-196: on equal value 1, prefer the
    machine where the incoming endpoint's degree is smaller than the
    current best's other-endpoint degree, else smaller load). State
    update per :117-141: target degree +1, source degree kept
    (the fork never increments d1 — reproduced as-is), load +1.
    Not expressible on the shared argmax harness (the tie-breaks
    compare cross-machine degree cells), so this is its own fold."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "src", "dst"], kind="stable")
        limit = loadlimit if loadlimit is not None else (k * 1.1 + len(pdf)) / k
        degree: list[dict] = [dict() for _ in range(k)]
        loads = [0.0] * k
        parts: list[int] = []
        first = True
        for u, v in zip(pdf["src"], pdf["dst"]):
            if first:
                # first-edge special case (:97-108)
                loads[0] = 1.0
                degree[0][u] = 0
                degree[0][v] = 1
                parts.append(0)
                first = False
                continue
            subset = [
                (u in degree[m]) + (v in degree[m]) for m in range(k)
            ]
            best, best_val = 0, subset[0]
            for j in range(1, k):
                if subset[j] > best_val and loads[j] < limit:
                    best, best_val = j, subset[j]
                elif subset[j] == best_val and loads[j] < limit and subset[j] == 1:
                    dju, dbv = degree[j].get(u), degree[best].get(v)
                    djv, dbu = degree[j].get(v), degree[best].get(u)
                    if dju is not None and dbv is not None:
                        if dju < dbv or loads[j] < loads[best]:
                            best = j
                    elif djv is not None and dbu is not None:
                        if djv < dbu or loads[j] < loads[best]:
                            best = j
                    elif loads[j] < loads[best]:
                        best = j
                elif subset[j] == best_val and subset[j] == 0 and loads[j] < loads[best]:
                    best = j
            degree[best][u] = degree[best].get(u, 0)
            degree[best][v] = degree[best].get(v, 0) + 1
            loads[best] += 1.0
            parts.append(best)
        out = pdf.copy()
        out["part"] = pd.array(parts, dtype="int32")
        return out

    return _single_group_fold(edges, fold)


def fennel_vertices(
    adjacency: DataFrame,
    k: int,
    gamma: float = 1.5,
    alpha: float | None = None,
) -> DataFrame:
    """Fennel streaming vertex partitioner (vertexpartitioners/
    Fennel.java:132-230): assign v to argmax |N(v) ∩ P_i| −
    α·γ·load_i^(γ−1). Input: (vertex, neighbors array). Sequential
    parity op (the reference is parallelism-1 too)."""

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        n_vertices = len(pdf)
        n_edges = max(1, int(pdf["neighbors"].map(len).sum()) // 2)
        a = alpha if alpha is not None else (
            math.sqrt(k) * n_edges / (n_vertices ** gamma)
        )
        assign: dict[int, int] = {}
        loads = [0] * k
        parts = []
        pdf = pdf.sort_values("vertex", kind="stable")
        for v, nbrs in zip(pdf["vertex"], pdf["neighbors"]):
            best, best_score = 0, -math.inf
            for p in range(k):
                inter = sum(1 for n in nbrs if assign.get(int(n)) == p)
                s = inter - a * gamma * (loads[p] ** (gamma - 1))
                if s > best_score:
                    best, best_score = p, s
            assign[int(v)] = best
            loads[best] += 1
            parts.append(best)
        return pd.DataFrame(
            {"vertex": pdf["vertex"].values, "part": pd.array(parts, dtype="int32")}
        )

    return _single_group_fold(adjacency, fold, "vertex long, part int")


def linear_greedy_vertices(
    adjacency: DataFrame, k: int, capacity: int, overflow: str = "error"
) -> DataFrame:
    """LinearGreedy (vertexpartitioners/LinearGreedy.java:139-214):
    argmax |N(v) ∩ P_i| · (1 − load_i/capacity).

    When every partition is at ``capacity`` (n_vertices > k·capacity)
    the documented hard cap cannot hold: ``overflow='error'``
    (default) raises; ``overflow='least_loaded'`` assigns the
    globally least-loaded partition and keeps going (the breach is
    then explicit policy, not the silent partition-0 default the r1
    code fell into — ADVICE.md)."""
    if overflow not in ("error", "least_loaded"):
        raise ValueError(f"unknown overflow policy {overflow!r}")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        assign: dict[int, int] = {}
        loads = [0] * k
        parts = []
        pdf = pdf.sort_values("vertex", kind="stable")
        for v, nbrs in zip(pdf["vertex"], pdf["neighbors"]):
            best, best_key = None, (-math.inf, -math.inf)
            for p in range(k):
                if loads[p] >= capacity:  # hard capacity c
                    continue
                inter = sum(1 for n in nbrs if assign.get(int(n)) == p)
                # least-loaded tie-break (no-affinity cold start)
                key = (inter * (1.0 - loads[p] / capacity), -loads[p])
                if key > best_key:
                    best, best_key = p, key
            if best is None:
                if overflow == "error":
                    raise ValueError(
                        f"all {k} partitions at capacity {capacity}; "
                        "raise capacity or use overflow='least_loaded'"
                    )
                best = min(range(k), key=lambda p: (loads[p], p))
            assign[int(v)] = best
            loads[best] += 1
            parts.append(best)
        return pd.DataFrame(
            {"vertex": pdf["vertex"].values, "part": pd.array(parts, dtype="int32")}
        )

    return _single_group_fold(adjacency, fold, "vertex long, part int")


def hash_vertices(vertices: DataFrame, k: int, vertex_col: str = "vertex") -> DataFrame:
    """HashVertices (vertexpartitioners/HashVertices.java:118-135):
    part = hash(vertex) mod k — murmur-of-hashCode there, the
    engine-portable md5-derived hash60 here. Pure projection."""
    return vertices.withColumn(
        "part", F.expr(f"pmod({_h(vertex_col)}, {k})").cast("int")
    )


# ---------------------------------------------------------------------------
# partition-quality metrics (CutSink / StoredState analog)
# ---------------------------------------------------------------------------


def partition_metrics(assignment: DataFrame) -> DataFrame:
    """Single-row quality summary of an edge partition assignment
    (edges + ``part``): per-machine load spread, replication factor,
    vertex cut — the metrics StoredState.java:65-105 and CutSink
    track. All Catalyst aggregates; doubles are single divisions."""
    loads = assignment.groupBy("part").agg(F.count(F.lit(1)).alias("load"))
    load_row = loads.agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.max("load").alias("max_load"),
        F.min("load").alias("min_load"),
        F.sum("load").alias("total_edges"),
    )
    vp = (
        assignment.select(
            F.explode(F.array("src", "dst")).alias("vertex"), "part"
        )
        .distinct()
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_parts_v"))
    )
    rep_row = vp.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("n_parts_v").alias("total_replicas"),
        F.sum(F.col("n_parts_v") - 1).alias("vertex_cut"),
    )
    return (
        load_row.crossJoin(rep_row)
        .withColumn(
            "replication_factor",
            F.col("total_replicas").cast("double")
            / F.col("n_vertices").cast("double"),
        )
        .withColumn(
            "balance",
            F.col("max_load").cast("double")
            * F.col("n_parts").cast("double")
            / F.col("total_edges").cast("double"),
        )
    )
