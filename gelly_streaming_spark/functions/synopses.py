"""Graph-summary synopses — bounded per-shard state folded over edges.

Pure-Python/numpy rebuilds of the reference's summary classes
(summaries/DisjointSet.java:30-136, summaries/Candidates.java:27-196,
summaries/AdjacencyListGraph.java:29-120, summaries/HMap.java:10-101),
designed to run inside Arrow-vectorized ``applyInPandas`` groups.

Each union-find synopsis is ONE batch kernel over an edge list. As in
the reference, where ``DisjointSet`` and ``Candidates`` use the same
union for the fold and the merge, the fold (edges), the combine
(exported rows read back as edges) and CC's quotient resolution all
call the same kernel; a synopsis is never updated in place. Vertices
are factorized to int codes (vectorized), so per-call work runs over
plain int arrays, not dicts of vertex labels.

Serialization contract (what crosses the shuffle between the partial
fold and the combine):
- ``union_find``         -> (vertex, component) pairs, component = the
  component's min vertex; re-read as edges by the combine
- ``signed_union_find``  -> (vertex, root, sign) triples + failed flag,
  sign = the vertex's parity relative to its root; re-read as edges
  (vertex, root) of parity ``sign`` by the combine
- AdjacencyListGraph     -> its (src, dst) edge list
- degree map (HMap)      -> (vertex, degree) pairs
"""

from __future__ import annotations

from collections import deque

import numpy as np
import pandas as pd


def _factorize(a, b) -> tuple[np.ndarray, np.ndarray, list]:
    """Int codes for the endpoints of the edges (a[i], b[i]) and the
    vertex of each code. Hash-based (appearance order): ~10x cheaper
    than a sorting ``np.unique`` at millions of rows, and the kernels
    only need SOME consistent total order on codes."""
    a, b = np.asarray(a), np.asarray(b)
    codes, vals = pd.factorize(np.concatenate([a, b]), sort=False)
    return codes[: len(a)], codes[len(a) :], np.asarray(vals).tolist()


def union_find(a, b) -> tuple[list, list]:
    """Connected components of the edges (a[i], b[i])
    (reference: summaries/DisjointSet.java:71-136): returns
    ``(vertices, components)``, each vertex once, labelled with its
    component's MIN vertex so results are deterministic and match a
    MIN-label SQL oracle.

    Hooking + pointer doubling over the int codes: each round hooks
    every edge's larger root under the smaller via ``np.minimum.at``,
    then shortcuts the parent array (p = p[p]) to its fixpoint, and
    carries forward only the edges whose endpoints still have
    different roots — O(E + V·log V) vectorized work, no per-edge
    Python. One Python pass then labels each root with the min vertex
    under it."""
    ca, cb, vals = _factorize(a, b)
    p = np.arange(len(vals))
    while len(ca):
        ra, rb = p[ca], p[cb]
        lo = np.minimum(ra, rb)
        hi = np.maximum(ra, rb)
        mask = lo != hi
        if not mask.any():
            break
        lo, hi = lo[mask], hi[mask]
        np.minimum.at(p, hi, lo)
        while True:
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
        ca, cb = hi, lo
    roots = p.tolist()
    low = vals[:]
    for v, r in zip(vals, roots):
        if v < low[r]:
            low[r] = v
    return vals, [low[r] for r in roots]


def signed_union_find(a, b, parity) -> tuple[list, list, list] | None:
    """2-coloring union-find of the edges (a[i], b[i]) with relative
    parity ``parity[i]`` (1 = opposite colors, a graph edge; 0 = same
    color) — the reference's Candidates synopsis
    (summaries/Candidates.java:27-196). Returns
    ``(vertices, roots, signs)``, each vertex once with its root vertex
    and its parity relative to that root, or None as soon as an edge
    closes an odd cycle (fail-fast, Candidates.merge
    Candidates.java:77-196).

    Parity makes full vectorization awkward, so this is a tight
    union-find over the int codes with path halving, union by rank and
    the parity folded in along each path."""
    ca, cb, vals = _factorize(a, b)
    n = len(vals)
    parent = list(range(n))
    sign = [0] * n
    rank = [0] * n

    def find(x: int) -> tuple[int, int]:
        s = 0
        while parent[x] != x:
            # path halving, folding the grandparent's parity in
            px = parent[x]
            parent[x] = parent[px]
            sign[x] ^= sign[px]
            s ^= sign[x]
            x = parent[x]
        return x, s

    for x, y, pxy in zip(ca.tolist(), cb.tolist(), np.asarray(parity).tolist()):
        rx, sx = find(x)
        ry, sy = find(y)
        if rx == ry:
            if (sx ^ sy) != pxy:
                return None
            continue
        if rank[rx] < rank[ry]:
            rx, ry = ry, rx
            sx, sy = sy, sx
        parent[ry] = rx
        sign[ry] = sx ^ sy ^ pxy
        if rank[rx] == rank[ry]:
            rank[rx] += 1
    found = [find(i) for i in range(n)]
    return vals, [vals[r] for r, _ in found], [s for _, s in found]


class AdjacencyListGraph:
    """Adjacency map + bounded BFS for the k-spanner
    (summaries/AdjacencyListGraph.java:29-120)."""

    def __init__(self):
        self.adj: dict = {}

    def add_edge(self, a, b) -> None:
        self.adj.setdefault(a, set()).add(b)
        self.adj.setdefault(b, set()).add(a)

    def bounded_bfs(self, a, b, k: int) -> bool:
        """True iff dist(a, b) <= k in the current spanner
        (AdjacencyListGraph.java:79-116)."""
        if a not in self.adj or b not in self.adj:
            return False
        if a == b:
            return True
        seen = {a}
        frontier = deque([(a, 0)])
        while frontier:
            node, d = frontier.popleft()
            if d >= k:
                continue
            for nb in self.adj.get(node, ()):
                if nb == b:
                    return True
                if nb not in seen:
                    seen.add(nb)
                    frontier.append((nb, d + 1))
        return False

    def maybe_add_spanner_edge(self, a, b, k: int) -> bool:
        """Add (a,b) iff no path of length <= k exists
        (Spanner.java:72-78). Returns True if added."""
        if self.bounded_bfs(a, b, k):
            return False
        self.add_edge(a, b)
        return True

    def edges(self):
        out = []
        for a, nbs in self.adj.items():
            for b in nbs:
                if a < b:
                    out.append((a, b))
        return out
