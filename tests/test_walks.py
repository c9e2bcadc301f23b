"""Deterministic random-walk differentials: pure-python md5 mirror,
sink termination, path folding, reproducibility."""

import hashlib

import pytest

from deeprank_spark.operators.walks import random_walks, walks_as_paths


def _h(seed, start, rep, step):
    s = f"{seed}|{start}|{rep}|{step}"
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_walks(edges, walks_per_vertex, walk_length, seed="walks"):
    adj = {}
    verts = set()
    for s, d in set(edges):
        adj.setdefault(s, set()).add(d)
        verts.update((s, d))
    adj = {v: sorted(ns) for v, ns in adj.items()}
    out = {}
    for v in verts:
        for r in range(walks_per_vertex):
            path = [v]
            cur = v
            for t in range(1, walk_length + 1):
                ns = adj.get(cur)
                if not ns:
                    break
                cur = ns[_h(seed, v, r, t) % len(ns)]
                path.append(cur)
            out[(v, r)] = path
    return out


EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (2, 4), (4, 5), (1, 3)]
# 5 is a sink: walks reaching it stop early


def test_walks_match_python_mirror(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    # 12 steps span two lineage resets of the superstep loop: the output
    # must not depend on a reset the loop has since deleted
    for length in (6, 12):
        rows = random_walks(e, walks_per_vertex=3, walk_length=length).collect()
        got = {}
        for r in rows:
            got.setdefault((r["start_id"], r["rep"]), {})[r["step"]] = r["vertex"]
        exp = _py_walks(EDGES, 3, length)
        assert set(got) == set(exp)
        for key, path in exp.items():
            steps = got[key]
            assert [steps[i] for i in range(len(path))] == path
            assert len(steps) == len(path)  # sink walks stop emitting


def test_walks_paths_and_reproducibility(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    p1 = {
        (r["start_id"], r["rep"]): r["path"]
        for r in walks_as_paths(random_walks(e, 2, 5)).collect()
    }
    p2 = {
        (r["start_id"], r["rep"]): r["path"]
        for r in walks_as_paths(random_walks(e, 2, 5)).collect()
    }
    assert p1 == p2  # bit-identical across runs
    exp = _py_walks(EDGES, 2, 5)
    assert {k: list(v) for k, v in p1.items()} == exp
    # a different seed changes at least one walk
    p3 = {
        (r["start_id"], r["rep"]): r["path"]
        for r in walks_as_paths(random_walks(e, 2, 5, seed="other")).collect()
    }
    assert p3 != p1


def test_walks_validation(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    with pytest.raises(ValueError, match="must be >= 1"):
        random_walks(e, walks_per_vertex=0)
    with pytest.raises(ValueError, match="must be >= 1"):
        random_walks(e, walk_length=0)
