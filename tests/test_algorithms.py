"""Layer-3 algorithm golden tests on the merge-tree engine
(model: ConnectedComponentsTest, BipartitenessCheckTest,
NonBipartitnessCheckTest)."""

from collections import defaultdict

import pytest

from gelly_streaming_spark import fixtures
from gelly_streaming_spark.edges import EdgeStream
from gelly_streaming_spark.plans import (
    BipartitenessCheck,
    ConnectedComponents,
    DegreeCheck,
    Spanner,
)
from gelly_streaming_spark.plans.bipartiteness import verdict


def make_edges(spark, graph):
    return EdgeStream(
        spark.createDataFrame(
            fixtures.edges_pdf(graph),
            schema="src long, dst long, val long, ts timestamp",
        )
    )


def component_sets(df):
    groups = defaultdict(set)
    for r in df.collect():
        groups[r["component"]].add(r["vertex"])
    return sorted(tuple(sorted(g)) for g in groups.values())


@pytest.mark.parametrize("num_shards,salt", [(1, 1), (4, 1), (4, 2)])
def test_connected_components_golden(spark, num_shards, salt):
    """CC_GRAPH -> {1,2,3,5},{6,7},{8,9} at several shard/salt
    configs (order-insensitive set compare,
    ConnectedComponentsTest.java:20-87)."""
    es = make_edges(spark, fixtures.CC_GRAPH)
    out = es.aggregate(ConnectedComponents(), num_shards=num_shards, salt=salt)
    assert component_sets(out) == [(1, 2, 3, 5), (6, 7), (8, 9)]


def test_cc_component_is_min_vertex(spark):
    es = make_edges(spark, fixtures.CC_GRAPH)
    out = es.aggregate(ConnectedComponents(), num_shards=4)
    comp = {r["vertex"]: r["component"] for r in out.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 1, 6: 6, 7: 6, 8: 8, 9: 8}


@pytest.mark.parametrize("num_shards", [1, 3, 8])
def test_bipartite_positive(spark, num_shards):
    es = make_edges(spark, fixtures.BIPARTITE_GRAPH)
    out = es.aggregate(BipartitenessCheck(), num_shards=num_shards).cache()
    assert verdict(out) is True
    col = {r["vertex"]: r["color"] for r in out.collect()}
    parts = (
        {v for v, c in col.items() if c == 0},
        {v for v, c in col.items() if c == 1},
    )
    assert parts == fixtures.BIPARTITE_PARTS


@pytest.mark.parametrize("num_shards", [1, 3, 8])
def test_bipartite_negative(spark, num_shards):
    es = make_edges(spark, fixtures.NON_BIPARTITE_GRAPH)
    out = es.aggregate(BipartitenessCheck(), num_shards=num_shards).cache()
    assert verdict(out) is False
    # (false, {}) golden: no real coloring rows
    assert [r["vertex"] for r in out.collect()] == [-1]


def test_degree_check_merge_tree_matches_native(spark, sample_edges):
    es = EdgeStream(sample_edges)
    tree = {
        (r["vertex"], r["degree"])
        for r in es.aggregate(DegreeCheck(), num_shards=4).collect()
    }
    native = {(r["vertex"], r["degree"]) for r in es.get_degrees().collect()}
    assert tree == native == {(1, 3), (2, 2), (3, 4), (4, 2), (5, 3)}


@pytest.mark.parametrize("num_shards", [2, 32])
def test_spanner_properties(spark, sample_edges, num_shards):
    """Spanner output preserves connectivity within the stretch bound
    on the sample graph (edge set is arrival-order dependent, like
    the reference — assert properties, not an exact edge list), at a
    few shards and at the default 32."""
    from gelly_streaming_spark.functions.synopses import AdjacencyListGraph

    k = 2
    es = EdgeStream(sample_edges)
    out = es.aggregate(Spanner(k=k), num_shards=num_shards)
    spanner = AdjacencyListGraph()
    for r in out.collect():
        spanner.add_edge(r["src"], r["dst"])
    # every original edge (u,v) must have dist_spanner(u,v) <= k^2:
    # each rejected edge had a path <= k at rejection time, and one
    # merge level may replace each path edge by another <= k path
    # (same compounding as the reference's Spanner.merge,
    # Spanner.java:93-117)
    for s, d, _ in fixtures.SAMPLE_GRAPH:
        assert spanner.bounded_bfs(min(s, d), max(s, d), k * k), (s, d)
    # and the spanner uses no edges outside the original graph
    orig = {(min(s, d), max(s, d)) for s, d, _ in fixtures.SAMPLE_GRAPH}
    got = {(r["src"], r["dst"]) for r in out.collect()}
    assert got <= orig


def test_scalable_cc_quotient_resolution(spark):
    """connected_components (sharded fold + distributed quotient
    resolution) must link chains that span many shards — the case the
    funnel-free combine has to get right."""
    from gelly_streaming_spark.plans.connected_components import (
        connected_components,
    )

    # path graph 0-1-2-...-63 (one long chain) + isolated pair
    edges = [(i, i + 1) for i in range(63)] + [(100, 101)]
    df = spark.createDataFrame(
        [(a, b, 1, i) for i, (a, b) in enumerate(edges)],
        schema="src long, dst long, val long, sec long",
    ).selectExpr("src", "dst", "val", "timestamp_seconds(sec) as ts")
    out = {
        r["vertex"]: r["component"]
        for r in connected_components(df, num_shards=16).collect()
    }
    assert all(out[v] == 0 for v in range(64))
    assert out[100] == 100 and out[101] == 100


def test_quotient_contraction_pathological_sharding(spark):
    """VERDICT r2 #3: a giant hash-sharded path component makes the
    quotient O(V) — the distributed pointer-doubling contraction must
    resolve it with NO single-task union-find and NO O(V) driver
    broadcast. Direct worst case: the quotient IS one long path."""
    from pyspark.sql import functions as F

    from gelly_streaming_spark.plans.connected_components import (
        _contract_min_labels,
    )

    n = 100_000
    quotient = spark.range(1, n).select(
        F.col("id").alias("comp"), (F.col("id") - 1).alias("min_comp")
    )
    mapping = _contract_min_labels(quotient, "long")
    assert mapping.filter(F.col("root") != 0).count() == 0
    assert mapping.count() == n


@pytest.mark.parametrize(
    "num_shards,limit,branch",
    [(1, 1_000_000, "empty"), (16, 1_000_000, "serial"), (16, 1, "distributed")],
    ids=["empty_quotient", "serial_quotient", "distributed_quotient"],
)
def test_resolve_partials_distributed_fallback(spark, num_shards, limit, branch):
    """resolve_partials switches to the distributed contraction when
    the quotient exceeds quotient_serial_limit; results must be
    IDENTICAL to the serial union-find path (same oracle), and to the
    one-shard fold, whose quotient is empty. In every case the
    partials are shuffled once: the returned plan joins the quotient
    mapping on ``min_comp`` (no mapping at all for an empty quotient)
    and holds no second aggregate over ``vertex``."""
    import re

    from gelly_streaming_spark.operators.aggregation import sharded_fold
    from gelly_streaming_spark.plans.connected_components import (
        ConnectedComponents,
        resolve_partials,
    )

    # two interleaved chains + a clique, hash-sharded (adversarial:
    # shards do NOT follow connectivity)
    edges = (
        [(i, i + 2, 1, i) for i in range(0, 400, 2)]
        + [(i, i + 2, 1, i) for i in range(1, 401, 2)]
        + [(1000 + a, 1000 + b, 1, 500 + a) for a in range(5) for b in range(a)]
    )
    df = spark.createDataFrame(
        edges, schema="src long, dst long, val long, sec long"
    ).selectExpr("src", "dst", "val", "timestamp_seconds(sec) as ts")
    partials = sharded_fold(df, ConnectedComponents(), num_shards=num_shards)
    out = resolve_partials(partials, quotient_serial_limit=limit)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"Aggregate \[vertex#\d+", plan), plan
    assert ("Join" in plan) == (branch != "empty"), plan
    assert ("FlatMapGroupsInPandas" in plan) == (branch == "serial"), plan
    comp = {r["vertex"]: r["component"] for r in out.collect()}
    assert comp == {
        **{v: 0 for v in range(0, 402, 2)},
        **{v: 1 for v in range(1, 402, 2)},
        **{1000 + a: 1000 for a in range(5)},
    }


def test_sssp_golden_and_fixpoint(spark):
    """GSA-SSSP semantics (GSASSSPHash.java:97-141): hop and weighted
    distances on a hand-checked graph; fixed-round == fixpoint once
    rounds cover the eccentricity; unreached vertices omitted."""
    from gelly_streaming_spark.plans.sssp import sssp

    edges = [(0, 1, 5), (1, 2, 1), (0, 2, 10), (2, 3, 1), (7, 8, 1)]
    df = spark.createDataFrame(
        [(a, b, w, i) for i, (a, b, w) in enumerate(edges)],
        schema="src long, dst long, val long, sec long",
    ).selectExpr("src", "dst", "val", "timestamp_seconds(sec) as ts")
    hop = {r["vertex"]: r["dist"] for r in sssp(df, rounds=4).collect()}
    assert hop == {0: 0, 1: 1, 2: 1, 3: 2}  # source = min vertex 0
    wt = {
        r["vertex"]: r["dist"]
        for r in sssp(df, rounds=4, weighted=True).collect()
    }
    assert wt == {0: 0, 1: 5, 2: 6, 3: 7}  # 0-1-2 (6) beats 0-2 (10)
    fix = {
        r["vertex"]: r["dist"]
        for r in sssp(df, rounds=None, weighted=True).collect()
    }
    assert fix == wt
    assert 7 not in wt and 8 not in wt  # other component unreached


def test_label_propagation_matches_simulator(spark):
    """Synchronous LPA with (votes DESC, label ASC) tie-break must
    equal a direct per-round simulation for several round counts —
    pins the exact deterministic semantics the DuckDB twin encodes."""
    from collections import Counter, defaultdict

    from gelly_streaming_spark.plans.community import label_propagation

    edges = [
        (1, 2), (1, 3), (2, 3),           # triangle
        (10, 11), (11, 12), (10, 12),     # triangle
        (3, 10),                          # bridge
        (20, 21),                         # pair
    ]
    df = spark.createDataFrame(
        [(a, b, 1, i) for i, (a, b) in enumerate(edges)],
        schema="src long, dst long, val long, sec long",
    ).selectExpr("src", "dst", "val", "timestamp_seconds(sec) as ts")

    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)

    def simulate(rounds):
        labels = {v: v for v in adj}
        for _ in range(rounds):
            new = {}
            for v in adj:
                votes = Counter(labels[u] for u in adj[v])
                top = max(votes.values())
                new[v] = min(l for l, c in votes.items() if c == top)
            labels = new
        return labels

    for rounds in (1, 2, 3):
        got = {
            r["vertex"]: r["community"]
            for r in label_propagation(df, rounds=rounds).collect()
        }
        assert got == simulate(rounds), f"rounds={rounds}"


def test_pagerank_matches_fixed_point_simulation(spark):
    """The BIGINT fixed-point recurrence replicated in pure Python must
    agree EXACTLY (same integer divisions) — the property that makes
    the DuckDB oracle hashable. Plus invariants: near-conservation of
    mass and symmetry (all cycle vertices equal)."""
    from collections import defaultdict

    from gelly_streaming_spark.plans.pagerank import SCALE, pagerank

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(
        [(a, b) for a, b in edges], schema="src long, dst long"
    )

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)

    def simulate(rounds):
        n = len(adj)
        r0 = SCALE // n
        rank = {v: r0 for v in adj}
        for _ in range(rounds):
            inflow = {v: 0 for v in adj}
            for u in adj:
                c = rank[u] // len(adj[u])
                for v in adj[u]:
                    inflow[v] += c
            rank = {v: (15 * r0) // 100 + (85 * inflow[v]) // 100 for v in adj}
        return rank

    for rounds in (1, 3):
        got = {r["vertex"]: r["rank"] for r in pagerank(df, rounds=rounds).collect()}
        assert got == simulate(rounds), f"rounds={rounds}"

    out = pagerank(df, rounds=3).collect()
    total = sum(r["rank"] for r in out)
    # each integer division loses < 1 per vertex per round
    assert SCALE * 0.99 <= total <= SCALE
    assert all(abs(r["prob"] - r["rank"] / SCALE) < 1e-18 for r in out)

    ring = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], schema="src long, dst long"
    )
    ranks = {r["vertex"]: r["rank"] for r in pagerank(ring, rounds=4).collect()}
    assert len(set(ranks.values())) == 1  # symmetric graph -> equal ranks
