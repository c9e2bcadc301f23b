"""HITS kernel differentials: nx._hits_python schedule parity, fixed-
iteration mode, checkpoint/resume, the documented edgeless divergence."""

import math
import random

import pytest

from deeprank_spark.operators.hits import hits_distributed
from deeprank_spark.oracle.kernels import hits_fixed_python, hits_nx


def _random_edges(seed, n=50, m=140):
    rng = random.Random(seed)
    return sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})


def _collect(df):
    rows = df.collect()
    return (
        {r["id"]: r["hub"] for r in rows},
        {r["id"]: r["auth"] for r in rows},
    )


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_hits_matches_networkx(spark, seed):
    edges = _random_edges(seed)
    e = spark.createDataFrame(edges, "src long, dst long")
    hub, auth = _collect(hits_distributed(e, max_iter=200, tol=1.0e-10))
    nh, na = hits_nx(edges, max_iter=200, tol=1.0e-10)
    assert set(hub) == set(nh)
    for k in nh:
        assert math.isclose(hub[k], nh[k], rel_tol=0, abs_tol=1e-8)
        assert math.isclose(auth[k], na[k], rel_tol=0, abs_tol=1e-8)


def test_hits_fixed_iteration_schedule(spark):
    # tol=0: exactly N supersteps, matching the pure-python mirror of the
    # same schedule much tighter than convergence tolerance (this is the
    # mode the unrolled DuckDB contract oracle replays)
    edges = _random_edges(21, n=30, m=70)
    e = spark.createDataFrame(edges, "src long, dst long")
    hub, auth = _collect(hits_distributed(e, max_iter=7, tol=0.0))
    ph, pa = hits_fixed_python(edges, iters=7)
    for k in ph:
        assert math.isclose(hub[k], ph[k], rel_tol=0, abs_tol=1e-12)
        assert math.isclose(auth[k], pa[k], rel_tol=0, abs_tol=1e-12)


def test_hits_self_loop_and_dangling(spark):
    # self-loop contributes to its own hub/auth like nx; pure sinks get
    # hub 0, pure sources get auth 0
    edges = [(1, 1), (1, 2), (3, 2), (3, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    hub, auth = _collect(hits_distributed(e, max_iter=100, tol=1.0e-10))
    nh, na = hits_nx(edges, max_iter=100, tol=1.0e-10)
    for k in nh:
        assert math.isclose(hub[k], nh[k], rel_tol=0, abs_tol=1e-8)
        assert math.isclose(auth[k], na[k], rel_tol=0, abs_tol=1e-8)
    assert auth[1] == pytest.approx(na[1], abs=1e-8)
    assert hub[2] == pytest.approx(0.0, abs=1e-12)
    assert hub[4] == pytest.approx(0.0, abs=1e-12)


def test_hits_edgeless_divergence(spark):
    # nx._hits_python raises ZeroDivisionError on a graph with vertices
    # but no usable max; our documented divergence: empty input -> empty
    # result frame (the vertex set is derived from edges, so "edgeless"
    # means no rows at all)
    e = spark.createDataFrame([], "src long, dst long")
    out = hits_distributed(e, max_iter=5, tol=0.0)
    assert out.count() == 0
    assert out.columns == ["id", "hub", "auth"]


def test_hits_salted_matches_unsalted(spark):
    # explicit two-phase (key, salt) aggregation must not change values
    # beyond float re-association noise
    edges = _random_edges(31, n=40, m=160) + [(i, 0) for i in range(1, 40)]
    e = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    hub0, auth0 = _collect(hits_distributed(e, max_iter=20, tol=0.0))
    hub1, auth1 = _collect(
        hits_distributed(e, max_iter=20, tol=0.0, salt_buckets=8)
    )
    for k in hub0:
        assert math.isclose(hub0[k], hub1[k], rel_tol=0, abs_tol=1e-12)
        assert math.isclose(auth0[k], auth1[k], rel_tol=0, abs_tol=1e-12)


def test_hits_checkpoint_resume(tmp_path, spark):
    edges = _random_edges(41, n=60, m=150)
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")

    full = hits_distributed(
        e, max_iter=9, tol=0.0, checkpoint_dir=ck, run_id="full",
        checkpoint_interval=3, return_run=True,
    )
    part = hits_distributed(
        e, max_iter=4, tol=0.0, checkpoint_dir=ck, run_id="part",
        checkpoint_interval=3, return_run=True,
    )
    assert part.rounds == 4 and part.converged  # tol=0: fixed-iter mode
    resumed = hits_distributed(
        e, max_iter=9, tol=0.0, checkpoint_dir=ck, run_id="part",
        checkpoint_interval=3, resume=True, return_run=True,
    )
    fh, fa = _collect(full.labels)
    rh, ra = _collect(resumed.labels)
    assert resumed.rounds == 9
    assert len(resumed.metrics) == 9 - 4
    for k in fh:
        assert rh[k] == fh[k]  # bitwise: same schedule, parquet state
        assert ra[k] == fa[k]
    ph, pa = hits_fixed_python(edges, iters=9)
    for k in ph:
        assert math.isclose(fh[k], ph[k], rel_tol=0, abs_tol=1e-12)


def test_hits_nonconvergence_raises(spark):
    edges = _random_edges(51)
    e = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="no convergence"):
        hits_distributed(e, max_iter=1, tol=1.0e-15)


def test_hits_per_conv_matches_networkx(spark):
    from deeprank_spark.config import CraftParams
    from deeprank_spark.engine import digest as spark_digest
    from deeprank_spark.operators.hits import hits_per_conv
    from deeprank_spark.oracle import textgraph as otg
    from deeprank_spark.transcripts import small_transcripts, transcripts_sdf

    def enc(x):
        return ("S" + str(x)) if isinstance(x, int) else ("W" + x)

    pdf = small_transcripts(n_convs=8)
    d = spark_digest(transcripts_sdf(spark, pdf), CraftParams())
    got = {}
    for r in hits_per_conv(d.gedges, max_iter=500, tol=1e-12).collect():
        got[(r["conv_id"], r["kind"] + r["key"])] = (r["hub"], r["auth"])
    for conv, grp in pdf.groupby("conv_id"):
        sents = list(grp.sort_values("turn_idx")["text"])
        g = otg.nx_graph(otg.digest(sents))
        edges = [(enc(a), enc(b)) for a, b in g.edges()]
        nh, na = hits_nx(edges, max_iter=500, tol=1e-12)
        for node in nh:
            gh, ga = got[(conv, node)]
            assert math.isclose(gh, nh[node], rel_tol=0, abs_tol=1e-8), (conv, node)
            assert math.isclose(ga, na[node], rel_tol=0, abs_tol=1e-8), (conv, node)


def test_hits_per_conv_nonconvergence_raises(spark):
    # like nx and hits_distributed: tol > 0 and max_iter spent raises;
    # tol = 0 runs exactly max_iter iterations and returns
    from pyspark.errors import PythonException

    from deeprank_spark.operators.hits import hits_per_conv

    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    g = spark.createDataFrame(
        [("c1", "W", s, "W", d) for s, d in pairs],
        "conv_id string, src_kind string, src string, dst_kind string, dst string",
    )
    with pytest.raises(PythonException, match="no convergence"):
        hits_per_conv(g, max_iter=1, tol=1e-15).collect()
    assert len(hits_per_conv(g, max_iter=1, tol=0).collect()) == 4


def _eig_nx(edges, tol=1e-6, max_iter=200):
    import networkx as nx

    g = nx.DiGraph()
    for s, d in edges:
        g.add_edge(s, d)
    return nx.eigenvector_centrality(g, tol=tol, max_iter=max_iter)


@pytest.mark.parametrize("seed", [61, 62])
def test_eigenvector_matches_networkx(spark, seed):
    from deeprank_spark.operators.hits import eigenvector_distributed

    edges = _random_edges(seed)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["centrality"]
        for r in eigenvector_distributed(e, max_iter=300, tol=1e-10).collect()
    }
    exp = _eig_nx(edges, tol=1e-10, max_iter=300)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert math.isclose(got[k], v, rel_tol=0, abs_tol=1e-8), k


def test_eigenvector_undirected_star(spark):
    from deeprank_spark.operators.hits import eigenvector_distributed

    # undirected star (symmetrized): center dominates
    star = [(0, i) for i in range(1, 6)]
    sym = star + [(b, a) for a, b in star]
    e = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["id"]: r["centrality"]
        for r in eigenvector_distributed(e, tol=1e-10, max_iter=300).collect()
    }
    exp = _eig_nx(sym, tol=1e-10, max_iter=300)
    for k, v in exp.items():
        assert math.isclose(got[k], v, rel_tol=0, abs_tol=1e-8)
    assert got[0] == max(got.values())


def test_eigenvector_checkpoint_resume(tmp_path, spark):
    from deeprank_spark.operators.hits import eigenvector_distributed

    edges = _random_edges(71, n=40, m=120)
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")
    full = eigenvector_distributed(
        e, tol=1e-10, max_iter=300, checkpoint_dir=ck, run_id="full",
        checkpoint_interval=5, return_run=True,
    )
    assert full.converged and full.rounds > 6
    # max_iter exhausted pre-convergence: in-flight state persists FIRST,
    # then the kernel raises (same contract as the frontier kernels)
    with pytest.raises(RuntimeError, match="no convergence"):
        eigenvector_distributed(
            e, tol=1e-10, max_iter=6, checkpoint_dir=ck, run_id="part",
            checkpoint_interval=5,
        )
    resumed = eigenvector_distributed(
        e, tol=1e-10, max_iter=300, checkpoint_dir=ck, run_id="part",
        checkpoint_interval=5, resume=True, return_run=True,
    )
    assert resumed.converged and resumed.rounds == full.rounds
    a = {r["id"]: r["centrality"] for r in full.labels.collect()}
    b = {r["id"]: r["centrality"] for r in resumed.labels.collect()}
    for k in a:
        # not asserted bitwise: the interrupted run's extra tail-write at
        # step 6 gives the resumed schedule a parquet-sorted state layout
        # the uninterrupted run never had, so partial-sum order differs at
        # the last ulp (visible only on this graph's ~1e-28 decayed tail)
        assert math.isclose(a[k], b[k], rel_tol=1e-9, abs_tol=1e-15), k
