"""Per-conversation centrality kernels (beyond the reference, same
north-rule family as cohesion.py's clustering/coreness companions).

Betweenness (Brandes 2001 — exact single-source accumulation, public
algorithm), closeness (Wasserman-Faust component-scaled form, the
networkx default for disconnected graphs) and harmonic centrality
(Boldi-Vigna 2014 form, nx.harmonic_centrality — the disconnection-robust
closeness variant) over each conversation's UNDIRECTED simple
projection, computed in the shared per-conversation runner
(operators/per_conv.py).

Scale shape: a conversation graph is small (tens of vertices), so the
corpus-scale strategy is the one the whole engine uses for
per-conversation analytics — embarrassingly parallel in conv_id, ONE
shuffle total, Arrow batches, exact answers. A corpus-wide giant-graph
betweenness would need sampled-source Brandes on the superstep skeleton
(O(sources x diameter) rounds); deliberately not built: no reference or
pipeline query asks for cross-conversation betweenness, and an
approximate kernel without a consumer would be dead weight (scope
decision, mirrored in COVERAGE.md).
"""

from __future__ import annotations

from collections import deque

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField

from .per_conv import per_conv_map

_CENTRALITIES = [
    StructField(c, DoubleType(), False)
    for c in ("betweenness", "closeness", "harmonic")
]


def brandes_betweenness(n: int, adj: list) -> list:
    """Exact normalized betweenness on an undirected simple graph given as
    an adjacency list — Brandes' single-source shortest-path accumulation
    (matches nx.betweenness_centrality(normalized=True) to float
    accumulation order)."""
    bc = [0.0] * n
    for s in range(n):
        order = []
        preds: list = [[] for _ in range(n)]
        sigma = [0] * n
        sigma[s] = 1
        dist = [-1] * n
        dist[s] = 0
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = [0.0] * n
        while order:
            w = order.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    # undirected: every pair was accumulated from both endpoints
    bc = [b / 2.0 for b in bc]
    if n > 2:
        scale = 2.0 / ((n - 1) * (n - 2))
        bc = [b * scale for b in bc]
    else:
        bc = [0.0] * n
    return bc


def closeness_wf(n: int, adj: list) -> list:
    """Wasserman-Faust closeness (nx default wf_improved=True): for each
    vertex, (r-1)/sum_dists scaled by (r-1)/(n-1) where r = size of the
    vertex's reachable set; isolated vertices get 0."""
    out = [0.0] * n
    for s in range(n):
        dist = [-1] * n
        dist[s] = 0
        q = deque([s])
        tot, r = 0, 1
        while q:
            v = q.popleft()
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    tot += dist[w]
                    r += 1
                    q.append(w)
        if tot > 0 and n > 1:
            out[s] = ((r - 1) / tot) * ((r - 1) / (n - 1))
    return out


def harmonic_bfs(n: int, adj: list) -> list:
    """Raw harmonic centrality (nx.harmonic_centrality — UNnormalized):
    sum over reachable other vertices of 1/d; robust to disconnection by
    construction (unreachable pairs contribute 0)."""
    out = [0.0] * n
    for s in range(n):
        dist = [-1] * n
        dist[s] = 0
        q = deque([s])
        acc = 0.0
        while q:
            v = q.popleft()
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    acc += 1.0 / dist[w]
                    q.append(w)
        out[s] = acc
    return out


def centrality_per_conv(gedges: DataFrame) -> DataFrame:
    """(conv_id, kind, key, betweenness, closeness, harmonic) on each
    conversation's undirected simple projection (self-loops dropped,
    parallel edges collapsed — nx.Graph semantics)."""

    def kernel(a, b, n, _nodes):
        mask = a != b
        und = np.unique(
            np.stack(
                [np.minimum(a[mask], b[mask]), np.maximum(a[mask], b[mask])],
                axis=1,
            ),
            axis=0,
        ) if mask.any() else np.empty((0, 2), dtype=np.int64)
        adj: list = [[] for _ in range(n)]
        for u, v in und:
            adj[u].append(int(v))
            adj[v].append(int(u))
        return brandes_betweenness(n, adj), closeness_wf(n, adj), harmonic_bfs(n, adj)

    return per_conv_map(gedges, kernel, _CENTRALITIES)
