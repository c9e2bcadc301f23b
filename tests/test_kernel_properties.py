"""Property-based tests (hypothesis) for the numpy kernel cores.

These exercise the exact math the Spark kernels execute inside the
per-conversation runner (operators/per_conv.py) — `_power_iteration`,
`_lpa_numpy`, `_union_find` — against the networkx / spec oracles over
MANY random graphs (dangling nodes, self-loops, multi-edges, disconnected
pieces), far beyond the fixed-seed Spark tests. Pure Python/numpy: no Spark session, so hundreds of examples
run in seconds.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deeprank_spark.operators.components import _union_find
from deeprank_spark.operators.labelprop import _lpa_numpy
from deeprank_spark.operators.pagerank import _power_iteration
from deeprank_spark.oracle.kernels import components_nx, lpa_sync, pagerank_nx

ATOL = 1.0e-6

edge_lists = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=60,
)


def _dedup(edges):
    return sorted(set(edges))


@settings(max_examples=120, deadline=None)
@given(edge_lists)
def test_power_iteration_matches_networkx(edges):
    edges = _dedup(edges)
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    p = np.full(n, 1.0 / n)
    x = _power_iteration(src, dst, n, p, alpha=0.85, tol=1e-6, max_iter=100)
    exp = pagerank_nx(edges)
    assert len(exp) == n
    for v, r in exp.items():
        assert math.isclose(x[idx[v]], r, abs_tol=ATOL), (v, x[idx[v]], r)


@settings(max_examples=120, deadline=None)
@given(
    edge_lists,
    st.lists(st.floats(0.01, 5.0), min_size=15, max_size=15),
)
def test_power_iteration_personalized(edges, weights):
    edges = _dedup(edges)
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    pers = {v: weights[v] for v in nodes}
    p = np.array([pers[v] for v in nodes])
    p = p / p.sum()
    x = _power_iteration(src, dst, n, p, alpha=0.85, tol=1e-6, max_iter=100)
    exp = pagerank_nx(edges, pers=pers)
    for v, r in exp.items():
        assert math.isclose(x[idx[v]], r, abs_tol=ATOL)


@settings(max_examples=150, deadline=None)
@given(edge_lists)
def test_union_find_matches_networkx(edges):
    edges = _dedup(edges)
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    roots = _union_find(len(nodes), src, dst)
    exp = components_nx(edges, nodes=nodes)
    # same partition: root index maps to min node of the component
    for v in nodes:
        assert nodes[roots[idx[v]]] == exp[v]


@settings(max_examples=100, deadline=None)
@given(edge_lists)
def test_lpa_numpy_matches_spec(edges):
    edges = _dedup(edges)
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    got = _lpa_numpy(len(nodes), src, dst, max_iter=7)
    exp = lpa_sync(edges, nodes=nodes, max_iter=7)
    for v in nodes:
        assert nodes[got[idx[v]]] == exp[v], (v, nodes[got[idx[v]]], exp[v])
