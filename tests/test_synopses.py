"""Layer-1 unit tests for the pure-python synopses
(model: util/DisjointSetTest.java, util/AdjacencyListGraphTest.java)."""

import random
from collections import defaultdict, deque

import numpy as np
import pandas as pd

from gelly_streaming_spark import fixtures
from gelly_streaming_spark.functions.synopses import (
    AdjacencyListGraph,
    signed_union_find,
    union_find,
)
from gelly_streaming_spark.plans.bipartiteness import BipartitenessCheck


def components_of(vertices, labels):
    groups = defaultdict(set)
    for v, c in zip(vertices, labels):
        groups[c].add(v)
    return sorted(tuple(sorted(g)) for g in groups.values())


def union_pairs(pairs):
    return union_find([a for a, _ in pairs], [b for _, b in pairs])


def signed_pairs(pairs):
    return signed_union_find(
        [a for a, _ in pairs], [b for _, b in pairs], np.ones(len(pairs), dtype=np.int8)
    )


def test_disjoint_set_union_find():
    vertices, labels = union_pairs(fixtures.CC_GRAPH)
    assert components_of(vertices, labels) == [(1, 2, 3, 5), (6, 7), (8, 9)]
    # each component is labelled with its min vertex
    assert dict(zip(vertices, labels)) == {
        1: 1, 2: 1, 3: 1, 5: 1, 6: 6, 7: 6, 8: 8, 9: 8
    }


def test_disjoint_set_merge():
    # the merge of two exports is the same kernel over their rows
    v1, c1 = union_pairs([(1, 2), (1, 3), (2, 3)])
    v2, c2 = union_pairs([(1, 5), (6, 7), (8, 9)])
    vertices, labels = union_find(v1 + v2, c1 + c2)
    assert components_of(vertices, labels) == [(1, 2, 3, 5), (6, 7), (8, 9)]


def test_signed_bipartite_positive():
    vertices, roots, signs = signed_pairs(fixtures.BIPARTITE_GRAPH)
    col = BipartitenessCheck().finalize(
        pd.DataFrame(
            {"vertex": vertices, "root": roots, "sign": signs,
             "failed": [False] * len(vertices)}
        )
    )
    parts = (
        set(col.loc[col["color"] == 0, "vertex"]),
        set(col.loc[col["color"] == 1, "vertex"]),
    )
    assert parts == fixtures.BIPARTITE_PARTS
    assert col["is_bipartite"].all()


def test_signed_bipartite_negative():
    assert signed_pairs(fixtures.NON_BIPARTITE_GRAPH) is None


def test_signed_merge_detects_cross_shard_odd_cycle():
    # each shard alone is bipartite; only the combine sees the triangle
    va, ra, sa = signed_pairs([(1, 2), (2, 3)])
    vb, rb, sb = signed_pairs([(3, 1)])
    assert signed_union_find(va + vb, ra + rb, sa + sb) is None
    algo = BipartitenessCheck()
    partials = pd.concat(
        [algo.fold(pd.DataFrame({"src": [1, 2], "dst": [2, 3]})),
         algo.fold(pd.DataFrame({"src": [3], "dst": [1]}))],
        ignore_index=True,
    )
    assert not partials["failed"].any()
    merged = algo.combine(partials)
    assert merged["failed"].tolist() == [True]
    assert algo.finalize(merged)["vertex"].tolist() == [-1]


def bfs_parts(edges):
    """Reference over the whole graph: its BFS components, and each
    vertex's BFS-layer parity, or None when an edge joins two vertices
    of equal parity (an odd cycle)."""
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    parity, parts = {}, []
    for s in sorted(adj):
        if s in parity:
            continue
        parity[s], part, todo = 0, {s}, deque([s])
        while todo:
            x = todo.popleft()
            for y in adj[x]:
                if y not in parity:
                    parity[y] = parity[x] ^ 1
                    part.add(y)
                    todo.append(y)
        parts.append(part)
    if any(parity[a] == parity[b] for a, b in edges):
        return parts, None
    return parts, parity


def test_merge_of_shard_exports_matches_whole_graph():
    """Fold random shards, merge their exports with the same kernel:
    components and 2-colorings equal a BFS over the whole graph."""
    rng = random.Random(5)
    algo = BipartitenessCheck(vertex_type="string")
    for _ in range(200):
        n = rng.randint(2, 30)
        # half the graphs join even to odd vertices only: bipartite
        step = rng.choice([1, 2])
        edges = [
            (f"v{rng.randrange(0, n, step)}", f"v{rng.randrange(step - 1, n, step)}")
            for _ in range(rng.randint(1, 40))
        ]
        k = rng.randint(1, 6)
        shards = [edges[i::k] for i in range(k) if edges[i::k]]
        parts, parity = bfs_parts(edges)

        exports = [union_pairs(s) for s in shards]
        vertices, labels = union_find(
            [v for vs, _ in exports for v in vs], [c for _, cs in exports for c in cs]
        )
        comp = dict(zip(vertices, labels))
        assert sorted(tuple(sorted(p)) for p in parts) == components_of(vertices, labels)
        assert all(comp[v] == min(p) for p in parts for v in p)

        partials = pd.concat(
            [algo.fold(pd.DataFrame({"src": [a for a, _ in s], "dst": [b for _, b in s]}))
             for s in shards],
            ignore_index=True,
        )
        col = algo.finalize(algo.combine(partials))
        if parity is None:
            assert col["is_bipartite"].tolist() == [False]
        else:
            # color 0 on each component's min vertex
            low = {v: parity[min(p)] for p in parts for v in p}
            assert dict(zip(col["vertex"], col["color"])) == {
                v: parity[v] ^ low[v] for v in parity
            }


def test_adjacency_bounded_bfs_spanner():
    g = AdjacencyListGraph()
    assert g.maybe_add_spanner_edge(1, 2, 2)
    assert g.maybe_add_spanner_edge(2, 3, 2)
    assert not g.maybe_add_spanner_edge(1, 3, 2)  # dist 2 <= k
    assert g.bounded_bfs(1, 3, 2)
    assert not g.bounded_bfs(1, 3, 1)
