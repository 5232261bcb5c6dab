"""Independent NumPy oracles for the benchmark's checks.

Each function recomputes an engine result from the planted edge list alone,
with no Spark and no engine code: exact edge multiset, PageRank by the
delta-push recurrence at the same iteration cap, WCC by union-find, and
triangles by degree-ordered wedge closing.
"""

from __future__ import annotations

import numpy as np


def unique_pairs(n: int, src: np.ndarray, dst: np.ndarray):
    """Distinct ``(src, dst)`` pairs sorted by ``(src, dst)``, with the
    multiplicity of each as its weight."""
    keys, counts = np.unique(src.astype(np.int64) * n + dst, return_counts=True)
    return keys // n, keys % n, counts.astype(np.float64)


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, max_iterations: int,
             damping: float = 0.85, tolerance: float = 1e-7,
             prev: np.ndarray | None = None) -> tuple[np.ndarray, int]:
    """Delta-push PageRank over the edge rows ``src -> dst``.

    From scratch: ``rank = delta = 1 - damping``. Warm start from ``prev``:
    ``delta`` is the fixpoint residual on this graph and ``rank = prev +
    delta``. Each superstep pushes ``delta / out_degree`` from the nodes
    whose delta exceeds the tolerance; the initial superstep counts toward
    ``max_iterations``. Returns ``(rank, iterations run)``."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    safe_deg = np.where(deg > 0, deg, 1.0)
    alpha = 1.0 - damping
    if prev is None:
        rank = np.full(n, alpha)
        delta = rank.copy()
        active = delta > 0
        norm = lambda d: d
    else:
        inflow = np.bincount(dst, weights=(prev / safe_deg)[src], minlength=n)
        delta = alpha + damping * inflow - prev
        rank = prev + delta
        norm = np.abs
        active = norm(delta) > tolerance
    steps = 0
    while active.any() and steps < max_iterations - 1:
        push = np.where(active, delta / safe_deg, 0.0)
        delta = damping * np.bincount(dst, weights=push[src], minlength=n)
        rank = rank + delta
        active = norm(delta) > tolerance
        steps += 1
    return rank, steps + 1


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Union-find with union-by-min: each node's label is the smallest node
    id of its weakly connected component."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        ps, pd = parent[src], parent[dst]
        lo, hi = np.minimum(ps, pd), np.maximum(ps, pd)
        cross = lo != hi
        if not cross.any():
            return parent
        # hook each larger root under a smaller one, then compress fully;
        # parent[v] <= v always holds, so the final root is the minimum
        np.minimum.at(parent, hi[cross], lo[cross])
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt


def triangles(n: int, src: np.ndarray, dst: np.ndarray,
              chunk_wedges: int = 4_000_000) -> tuple[np.ndarray, int]:
    """Per-node and global triangle counts on the simple undirected graph.

    Edges are oriented from the lower ``(degree, id)`` end, so each
    triangle is closed exactly once at its lowest corner; wedges are
    generated in bounded chunks and closed by a sorted-key lookup."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    keys = np.unique(a[keep].astype(np.int64) * n + b[keep])
    a, b = keys // n, keys % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    a_low = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u = np.where(a_low, a, b)
    v = np.where(a_low, b, a)
    order = np.argsort(u, kind="stable")
    u, v = u[order], v[order]
    ends = np.searchsorted(u, u, side="right")
    # position p pairs with every later position of the same low corner
    later = ends - np.arange(u.size) - 1
    per_node = np.zeros(n, dtype=np.int64)
    total = 0
    cum = np.cumsum(later)
    start = 0
    while start < u.size:
        base = cum[start - 1] if start else 0
        stop = int(np.searchsorted(cum, base + chunk_wedges, side="right"))
        stop = max(stop, start + 1)
        cnt = later[start:stop]
        p = np.repeat(np.arange(start, stop), cnt)
        offs = np.arange(p.size) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        q = p + 1 + offs
        x, y = v[p], v[q]
        probe = np.minimum(x, y) * n + np.maximum(x, y)
        hit = np.searchsorted(keys, probe)
        hit = np.minimum(hit, keys.size - 1)
        closed = keys[hit] == probe
        total += int(closed.sum())
        for corner in (u[p][closed], x[closed], y[closed]):
            per_node += np.bincount(corner, minlength=n)
        start = stop
    return per_node, total
