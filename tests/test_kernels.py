"""CC / LPA / triangle kernels vs oracles — exact-match gates."""

import random

from deeprank_spark.config import CraftParams
from deeprank_spark.engine import digest as spark_digest
from deeprank_spark.oracle import textgraph as otg
from deeprank_spark.oracle.kernels import components_nx, lpa_sync, triangles_nx
from deeprank_spark.operators.components import (
    components_distributed,
    components_per_conv,
)
from deeprank_spark.operators.labelprop import lpa_distributed, lpa_per_conv
from deeprank_spark.operators.triangles import (
    triangles_distributed,
    triangles_per_conv,
)
from deeprank_spark.transcripts import small_transcripts, transcripts_sdf


def _enc(x):
    return ("S" + str(x)) if isinstance(x, int) else ("W" + x)


def _conv_graphs(pdf):
    out = {}
    for conv, grp in pdf.groupby("conv_id"):
        sents = list(grp.sort_values("turn_idx")["text"])
        g = otg.nx_graph(otg.digest(sents))
        out[conv] = [(_enc(a), _enc(b)) for a, b in g.edges()]
    return out


def test_components_per_conv(spark):
    pdf = small_transcripts(n_convs=8)
    d = spark_digest(transcripts_sdf(spark, pdf), CraftParams())
    got = {}
    for r in components_per_conv(d.gedges).collect():
        got[(r["conv_id"], r["kind"] + r["key"])] = r["component"]
    for conv, edges in _conv_graphs(pdf).items():
        exp = components_nx(edges)
        for node, comp in exp.items():
            assert got[(conv, node)] == comp, (conv, node)


def test_lpa_per_conv(spark):
    pdf = small_transcripts(n_convs=8)
    d = spark_digest(transcripts_sdf(spark, pdf), CraftParams())
    got = {}
    for r in lpa_per_conv(d.gedges, max_iter=20).collect():
        got[(r["conv_id"], r["kind"] + r["key"])] = r["label"]
    for conv, edges in _conv_graphs(pdf).items():
        exp = lpa_sync(edges, max_iter=20)
        for node, lab in exp.items():
            assert got[(conv, node)] == lab, (conv, node)


def test_triangles_per_conv(spark):
    pdf = small_transcripts(n_convs=8)
    d = spark_digest(transcripts_sdf(spark, pdf), CraftParams())
    got = {}
    for r in triangles_per_conv(d.gedges).collect():
        got[(r["conv_id"], r["kind"] + r["key"])] = r["tri_count"]
    for conv, edges in _conv_graphs(pdf).items():
        exp = triangles_nx(edges)
        for node, c in exp.items():
            assert got[(conv, node)] == c, (conv, node)


def _random_edges(seed, n=50, m=140):
    rng = random.Random(seed)
    return sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})


def test_components_distributed(spark):
    edges = _random_edges(5) + [(100, 101), (102, 102)]  # extra comp + self-loop
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in components_distributed(e).collect()}
    exp = components_nx(edges)
    assert got == exp


def test_lpa_distributed(spark):
    edges = _random_edges(6)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["label"] for r in lpa_distributed(e, max_iter=10).collect()}
    exp = lpa_sync(edges, max_iter=10)
    assert got == exp


def test_triangles_distributed(spark):
    edges = _random_edges(8, n=30, m=160)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["tri_count"] for r in triangles_distributed(e).collect()}
    exp = triangles_nx(edges)
    # vertices with no undirected edge (pure self-loop) are absent from got
    for node, c in exp.items():
        assert got.get(node, 0) == c, node
    total_got = sum(got.values())
    assert total_got == sum(exp.values())


def test_components_path_graph_logarithmic_rounds(spark):
    """Pointer jumping must converge on a high-diameter graph in O(log n)
    rounds: a 4096-vertex path (diameter 4095) with max_iter capped at
    2*log2(n)+4 = 28. Plain hash-min would need ~4096 rounds and return
    wrong labels under this cap."""
    import math

    n = 4096
    edges = [(i, i + 1) for i in range(n - 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    cap = 2 * int(math.log2(n)) + 4
    got = {r["id"]: r["component"] for r in components_distributed(e, max_iter=cap).collect()}
    assert len(got) == n
    assert set(got.values()) == {0}


# ---------------------------------------------------------------------------
# strongly connected components (round-3: closes the SURVEY §2.9 delta)
# ---------------------------------------------------------------------------

from deeprank_spark.oracle.kernels import scc_nx
from deeprank_spark.operators.scc import scc_distributed, scc_per_conv


def test_scc_per_conv(spark):
    pdf = small_transcripts(n_convs=8)
    d = spark_digest(transcripts_sdf(spark, pdf), CraftParams())
    got = {}
    for r in scc_per_conv(d.gedges).collect():
        got[(r["conv_id"], r["kind"] + r["key"])] = r["component"]
    for conv, edges in _conv_graphs(pdf).items():
        exp = scc_nx(edges)
        for node, comp in exp.items():
            assert got[(conv, node)] == comp, (conv, node)


def _directed_random(seed, n=40, m=120):
    rng = random.Random(seed)
    return sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})


def test_scc_distributed_random(spark):
    # random directed graph: mix of nontrivial SCCs and singletons
    edges = _directed_random(7)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in scc_distributed(e).collect()}
    exp = scc_nx(edges)
    # oracle covers every vertex incident to an edge (kernel's vertex set)
    exp = {k: v for k, v in exp.items() if any(k in t for t in edges)}
    assert got == exp


def test_scc_distributed_cycles_and_dag(spark):
    # two disjoint cycles bridged by DAG edges + a pure path (all singleton)
    edges = (
        [(1, 2), (2, 3), (3, 1)]          # SCC {1,2,3}
        + [(10, 11), (11, 12), (12, 13), (13, 10)]  # SCC {10..13}
        + [(3, 10), (13, 20), (20, 21), (21, 22)]   # bridges + path
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in scc_distributed(e).collect()}
    exp = scc_nx(edges)
    assert got == exp


def test_scc_two_mutual_cliques(spark):
    # bidirectional clique pairs -> one SCC each; one-way bridge keeps them apart
    edges = []
    for grp in ([0, 1, 2, 3], [100, 101, 102]):
        for a in grp:
            for b in grp:
                if a != b:
                    edges.append((a, b))
    edges.append((3, 100))
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in scc_distributed(e).collect()}
    exp = scc_nx(edges)
    assert got == exp


# ---------------------------------------------------------------------------
# single-source shortest paths (round-3 beyond-reference kernel)
# ---------------------------------------------------------------------------


def test_sssp_distributed_random(spark):
    import networkx as nx

    from deeprank_spark.operators.paths import sssp_distributed

    edges = _random_edges(11, n=60, m=150)
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in edges if a != b)
    src = min(g.nodes)
    exp = nx.single_source_shortest_path_length(g, src)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["dist"] for r in sssp_distributed(e, source=src).collect()}
    assert got == dict(exp)


def test_sssp_directed_path(spark):
    from deeprank_spark.operators.paths import sssp_distributed

    edges = [(i, i + 1) for i in range(20)]  # directed path 0 -> 20
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["dist"] for r in sssp_distributed(e, source=0, directed=True).collect()}
    assert got == {i: i for i in range(21)}
    # from the middle, only the suffix is reachable in the directed graph
    got = {r["id"]: r["dist"] for r in sssp_distributed(e, source=10, directed=True).collect()}
    assert got == {i: i - 10 for i in range(10, 21)}


def test_scc_long_cycle_converges_logarithmically(spark):
    """A 500-vertex directed cycle is ONE SCC with diameter 499: both SCC
    fixpoints are pointer-jumped, so it must resolve well inside the
    default round budgets (a non-jumped backward pass would need 499
    rounds and previously fell off max_inner)."""
    n = 500
    edges = [(i, (i + 1) % n) for i in range(n)]
    # shift ids so the min vertex isn't at position 0 (exercises root-id math)
    edges = [(a + 17, b + 17) for a, b in edges]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in scc_distributed(e).collect()}
    assert got == {i + 17: 17 for i in range(n)}


def test_sssp_raises_on_budget_exhaustion(spark):
    """Refuse-to-mislabel: an incomplete distance map must RAISE, never be
    returned (vertices past max_iter hops would look 'unreachable')."""
    import pytest

    from deeprank_spark.operators.paths import sssp_distributed

    edges = [(i, i + 1) for i in range(10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="frontier non-empty"):
        sssp_distributed(e, source=0, directed=True, max_iter=3)


def test_scc_distributed_self_loops_and_empty(spark):
    """nx parity edge cases: self-loop-only vertices are singleton SCCs
    (not dropped); an edge set that is empty after self-loop removal
    returns an empty frame instead of raising."""
    # graph = one 2-cycle + one vertex with only a self-loop
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (7, 7)], "src long, dst long"
    )
    got = {r["id"]: r["component"] for r in scc_distributed(e).collect()}
    assert got == {1: 1, 2: 1, 7: 7}
    # all edges are self-loops
    e2 = spark.createDataFrame([(3, 3), (4, 4)], "src long, dst long")
    got2 = {r["id"]: r["component"] for r in scc_distributed(e2).collect()}
    assert got2 == {3: 3, 4: 4}
    # fully empty input
    e3 = spark.createDataFrame([], "src long, dst long")
    assert scc_distributed(e3).collect() == []


# ---------------------------------------------------------------------------
# weighted SSSP (round-4 kernel: delta-stepping-style bucketed relaxation)
# ---------------------------------------------------------------------------


def _weighted_edges(seed, n=60, m=160):
    rng = random.Random(seed)
    return sorted(
        {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    ), rng


def test_wsssp_distributed_random(spark):
    import networkx as nx

    from deeprank_spark.operators.paths import wsssp_distributed

    rng = random.Random(13)
    edges = sorted({(rng.randrange(60), rng.randrange(60)) for _ in range(170)})
    rows = [(a, b, float(rng.randrange(1, 10))) for a, b in edges if a != b]
    g = nx.Graph()
    for a, b, w in rows:
        # parallel-edge min-weight convention (both directions of an
        # undirected pair collapse to the min)
        if g.has_edge(a, b):
            g[a][b]["weight"] = min(g[a][b]["weight"], w)
        else:
            g.add_edge(a, b, weight=w)
    src = min(g.nodes)
    exp = nx.single_source_dijkstra_path_length(g, src)
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    got = {
        r["id"]: r["dist"]
        for r in wsssp_distributed(e, source=src).collect()
    }
    assert got == {k: float(v) for k, v in exp.items()}


def test_wsssp_delta_invariance_and_directed(spark):
    """delta is a scheduling knob only: any bucket width yields the same
    exact distances; directed mode relaxes forward edges only."""
    import networkx as nx

    from deeprank_spark.operators.paths import wsssp_distributed

    rng = random.Random(29)
    rows = [
        (a, b, float(rng.randrange(1, 8)))
        for a, b in sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
        if a != b
    ]
    e = spark.createDataFrame(rows, "src long, dst long, w double")
    g = nx.DiGraph()
    for a, b, w in rows:
        if g.has_edge(a, b):
            g[a][b]["weight"] = min(g[a][b]["weight"], w)
        else:
            g.add_edge(a, b, weight=w)
    src = min(g.nodes)
    exp = {k: float(v) for k, v in
           nx.single_source_dijkstra_path_length(g, src).items()}
    for delta in (0.5, 3.0, 1e9):  # tiny buckets, mid, Bellman-Ford-like
        got = {
            r["id"]: r["dist"]
            for r in wsssp_distributed(
                e, source=src, directed=True, delta=delta
            ).collect()
        }
        assert got == exp, f"delta={delta}"


# ---------------------------------------------------------------------------
# durable checkpoint / per-partition lineage / resume for the LABEL kernels
# (round 5 — north rule: "checkpointed rank/label state per superstep with
# per-partition lineage and iteration metrics for resumable runs"; the rank
# half lives in test_pagerank.py::test_distributed_checkpoint_resume)
# ---------------------------------------------------------------------------


def test_components_checkpoint_resume(tmp_path, spark):
    from deeprank_spark.operators.superstep import read_kernel_lineage

    # high-diameter path graph: needs many hash-min/jump rounds, so a
    # max_iter cap leaves a genuinely partial durable state
    n = 128
    edges = [(i, i + 1) for i in range(n - 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")

    full = components_distributed(
        e, checkpoint_dir=ck, run_id="full", checkpoint_interval=3, return_run=True
    )
    assert full.converged and full.metrics[-1]["changed"] == 0
    assert full.rounds > 4  # the cap below must be a real interruption

    # crash simulation: cap the run mid-flight, then resume it
    part = components_distributed(
        e, checkpoint_dir=ck, run_id="part", checkpoint_interval=3,
        max_iter=4, return_run=True,
    )
    assert not part.converged and part.rounds == 4
    resumed = components_distributed(
        e, checkpoint_dir=ck, run_id="part", checkpoint_interval=3,
        resume=True, return_run=True,
    )
    assert resumed.converged
    a = {r["id"]: r["component"] for r in full.labels.collect()}
    b = {r["id"]: r["component"] for r in resumed.labels.collect()}
    assert a == b == components_nx(edges)
    # rounds are pure functions of (labels, round index): the resumed run
    # replays exactly the remaining schedule, nothing more
    assert resumed.rounds == full.rounds
    assert len(resumed.metrics) == full.rounds - 4

    lin = read_kernel_lineage(spark, ck, "part").toPandas()
    assert {"superstep", "partition_id", "rows", "checksum", "wall_ms"} <= set(lin.columns)
    assert set(lin["superstep"]) >= {3, 4}
    assert (lin.groupby("superstep")["rows"].sum() == n).all()

    # resuming an already-converged run re-reads state without any rounds
    again = components_distributed(
        e, checkpoint_dir=ck, run_id="full", resume=True, return_run=True
    )
    assert again.converged and again.metrics == []
    assert {r["id"]: r["component"] for r in again.labels.collect()} == a


def test_lpa_checkpoint_resume(tmp_path, spark):
    edges = _random_edges(21, n=60, m=150)
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")

    full = lpa_distributed(
        e, max_iter=10, checkpoint_dir=ck, run_id="full",
        checkpoint_interval=3, return_run=True,
    )
    assert full.rounds > 2  # the 2-round cap below must interrupt mid-run
    part = lpa_distributed(
        e, max_iter=2, checkpoint_dir=ck, run_id="part",
        checkpoint_interval=3, return_run=True,
    )
    assert part.rounds == 2 and not part.converged
    resumed = lpa_distributed(
        e, max_iter=10, checkpoint_dir=ck, run_id="part",
        checkpoint_interval=3, resume=True, return_run=True,
    )
    a = {r["id"]: r["label"] for r in full.labels.collect()}
    b = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert a == b == lpa_sync(edges, max_iter=10)
    assert resumed.rounds == full.rounds
    assert len(resumed.metrics) == full.rounds - 2


def test_wsssp_budget_and_weight_validation(spark):
    import pytest

    from deeprank_spark.operators.paths import wsssp_distributed

    path = [(i, i + 1, 1.0) for i in range(12)]
    e = spark.createDataFrame(path, "src long, dst long, w double")
    with pytest.raises(RuntimeError, match="frontier non-empty"):
        wsssp_distributed(e, source=0, directed=True, delta=0.5, max_iter=3)
    bad = spark.createDataFrame([(0, 1, -1.0)], "src long, dst long, w double")
    with pytest.raises(ValueError, match="weights must be > 0"):
        wsssp_distributed(bad, source=0)


def test_scc_checkpoint_resume(tmp_path, spark):
    """SCC durable resume at outer-round granularity: a deep-DAG path
    forces multiple FW-BW/refinement rounds; interrupting after round 1
    and resuming reproduces the uninterrupted labels exactly."""
    import pytest

    n = 100
    edges = [(i, i + 1) for i in range(n - 1)]  # all singleton SCCs
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")

    full = scc_distributed(e, checkpoint_dir=ck, run_id="full", return_run=True)
    assert full.converged and full.rounds >= 2
    with pytest.raises(RuntimeError, match="unresolved"):
        scc_distributed(e, max_outer=1, checkpoint_dir=ck, run_id="part")
    resumed = scc_distributed(
        e, checkpoint_dir=ck, run_id="part", resume=True, return_run=True
    )
    a = {r["id"]: r["component"] for r in full.labels.collect()}
    b = {r["id"]: r["component"] for r in resumed.labels.collect()}
    assert a == b == {i: i for i in range(n)}
    assert resumed.rounds == full.rounds
    assert len(resumed.metrics) == full.rounds - 1


def test_sssp_checkpoint_resume(tmp_path, spark):
    """Budget exhaustion on a durable run persists the in-flight frontier
    BEFORE the refuse-to-mislabel raise, so resume with a larger budget
    CONTINUES the search and reaches the exact uninterrupted distances."""
    import pytest

    from deeprank_spark.operators.paths import sssp_distributed

    edges = [(i, i + 1) for i in range(20)]  # directed path: 1 vertex/round
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")

    full = sssp_distributed(
        e, source=0, directed=True, checkpoint_dir=ck, run_id="full",
        checkpoint_interval=4, return_run=True,
    )
    assert full.converged
    with pytest.raises(RuntimeError, match="frontier non-empty"):
        sssp_distributed(
            e, source=0, directed=True, max_iter=7,
            checkpoint_dir=ck, run_id="part", checkpoint_interval=4,
        )
    resumed = sssp_distributed(
        e, source=0, directed=True, checkpoint_dir=ck, run_id="part",
        checkpoint_interval=4, resume=True, return_run=True,
    )
    assert resumed.converged
    a = {r["id"]: r["dist"] for r in full.labels.collect()}
    b = {r["id"]: r["dist"] for r in resumed.labels.collect()}
    assert a == b == {i: i for i in range(21)}
    assert resumed.rounds == full.rounds
    assert len(resumed.metrics) == full.rounds - 7


def test_wsssp_checkpoint_resume(tmp_path, spark):
    import pytest

    from deeprank_spark.operators.paths import wsssp_distributed

    path = [(i, i + 1, 1.0) for i in range(15)]
    e = spark.createDataFrame(path, "src long, dst long, w double")
    ck = str(tmp_path / "ck")

    full = wsssp_distributed(
        e, source=0, directed=True, delta=0.5, checkpoint_dir=ck,
        run_id="full", checkpoint_interval=4, return_run=True,
    )
    assert full.converged
    with pytest.raises(RuntimeError, match="frontier non-empty"):
        wsssp_distributed(
            e, source=0, directed=True, delta=0.5, max_iter=6,
            checkpoint_dir=ck, run_id="part", checkpoint_interval=4,
        )
    resumed = wsssp_distributed(
        e, source=0, directed=True, delta=0.5, checkpoint_dir=ck,
        run_id="part", checkpoint_interval=4, resume=True, return_run=True,
    )
    a = {r["id"]: r["dist"] for r in full.labels.collect()}
    b = {r["id"]: r["dist"] for r in resumed.labels.collect()}
    assert a == b == {i: float(i) for i in range(16)}
    assert resumed.rounds == full.rounds and resumed.converged


def test_diameter_double_sweep(spark):
    import networkx as nx

    from deeprank_spark.operators.paths import diameter_double_sweep

    # path graph: double sweep is EXACT on trees
    path = [(i, i + 1) for i in range(9)]
    e = spark.createDataFrame(path, "src long, dst long")
    out = diameter_double_sweep(e)
    assert out["lower_bound"] == 9
    # random connected graph: bound must be a true lower bound <= diameter
    # and >= the eccentricity-based floor
    rng = random.Random(3)
    edges = sorted({(rng.randrange(15), rng.randrange(15)) for _ in range(40)})
    edges += [(i, i + 1) for i in range(14)]  # ensure connected
    e2 = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    got = diameter_double_sweep(e2)
    g = nx.Graph((a, b) for a, b in set(edges) if a != b)
    assert got["lower_bound"] <= nx.diameter(g)
    assert got["lower_bound"] >= max(
        nx.eccentricity(g, v) for v in (got["start"], got["far_vertex"])
    ) - 0  # second-sweep ecc is exactly the far vertex's eccentricity
    assert got["lower_bound"] == nx.eccentricity(g, got["far_vertex"])


def test_negative_edge_samples(spark):
    import hashlib

    from deeprank_spark.operators.linkpred import negative_edge_samples

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    rows = negative_edge_samples(e, per_vertex=4, seed="t").collect()
    got = {(r["src"], r["dst"], r["slot"]) for r in rows}
    verts = sorted({x for ed in edges for x in ed})
    eset = set(edges)
    first_slot = {}  # (u, v) -> the lowest slot that picked it
    for u in verts:
        for slot in range(4):
            h = int(hashlib.md5(f"t|{u}|{slot}".encode()).hexdigest()[:8], 16)
            v = verts[h % len(verts)]
            if v != u and (u, v) not in eset:
                first_slot.setdefault((u, v), slot)
    exp = {(u, v, slot) for (u, v), slot in first_slot.items()}
    assert got == exp
    # one row per pair
    assert len(rows) == len({(r["src"], r["dst"]) for r in rows})
    for (u, v, _) in got:
        assert (u, v) not in eset and u != v

    import pytest as _pytest

    with _pytest.raises(ValueError, match="per_vertex"):
        negative_edge_samples(e, per_vertex=0)


def _py_temporal(edges, source, start_ts):
    # relaxation to fixpoint: the obviously-correct oracle
    arr = {source: start_ts}
    changed = True
    while changed:
        changed = False
        for (u, v, t) in edges:
            if u == v:
                continue
            if u in arr and t >= arr[u] and (v not in arr or t < arr[v]):
                arr[v] = t
                changed = True
    return arr


def test_temporal_reachability_matches_python(spark):
    from deeprank_spark.operators.paths import temporal_reachability

    rng = random.Random(13)
    edges = sorted(
        {
            (rng.randrange(20), rng.randrange(20), rng.randrange(100))
            for _ in range(120)
        }
    )
    e = spark.createDataFrame(edges, "src long, dst long, ts long")
    got = {
        r["id"]: r["arrival"]
        for r in temporal_reachability(e, source=0).collect()
    }
    start = min(t for (_, _, t) in edges)
    assert got == _py_temporal(edges, 0, start)


def test_temporal_reachability_respects_time(spark):
    from deeprank_spark.operators.paths import temporal_reachability

    # 1 -t5-> 2 -t3-> 3: the t3 edge fires BEFORE influence reaches 2, so
    # 3 is unreachable; 2 -t7-> 4 works; same-ts chaining 4 -t7-> 5 works
    # (non-decreasing); start_ts cuts off early edges
    edges = [(1, 2, 5), (2, 3, 3), (2, 4, 7), (4, 5, 7), (9, 1, 1)]
    e = spark.createDataFrame(edges, "src long, dst long, ts long")
    got = {
        r["id"]: r["arrival"]
        for r in temporal_reachability(e, source=1).collect()
    }
    assert got == {1: 1, 2: 5, 4: 7, 5: 7}
    # start_ts after the 1->2 edge: nothing reachable beyond the source
    got2 = {
        r["id"]: r["arrival"]
        for r in temporal_reachability(e, source=1, start_ts=6).collect()
    }
    assert got2 == {1: 6}


def test_temporal_reachability_checkpoint_resume(tmp_path, spark):
    from deeprank_spark.operators.paths import temporal_reachability

    rng = random.Random(29)
    edges = sorted(
        {
            (rng.randrange(30), rng.randrange(30), rng.randrange(50))
            for _ in range(200)
        }
    )
    e = spark.createDataFrame(edges, "src long, dst long, ts long")
    ck = str(tmp_path / "ck")
    full = temporal_reachability(
        e, source=0, checkpoint_dir=ck, run_id="full",
        checkpoint_interval=2, return_run=True,
    )
    assert full.converged and full.rounds > 2
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="raise max_iter"):
        temporal_reachability(
            e, source=0, max_iter=2, checkpoint_dir=ck, run_id="part",
            checkpoint_interval=2,
        )
    resumed = temporal_reachability(
        e, source=0, checkpoint_dir=ck, run_id="part",
        checkpoint_interval=2, resume=True, return_run=True,
    )
    a = {r["id"]: r["arrival"] for r in full.labels.collect()}
    b = {r["id"]: r["arrival"] for r in resumed.labels.collect()}
    assert a == b  # integer arrivals: exact
