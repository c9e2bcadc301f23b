"""PageRank kernels vs networkx oracle — the north-rule allclose 1e-6 gate."""

import math
import os
import random

import pytest

from deeprank_spark.config import CraftParams
from deeprank_spark.engine import digest as spark_digest
from deeprank_spark.oracle import textgraph as otg
from deeprank_spark.oracle.kernels import pagerank_nx
from deeprank_spark.operators.pagerank import (
    pagerank_distributed,
    pagerank_per_conv,
    read_lineage,
)
from deeprank_spark.transcripts import small_transcripts, tiny_transcripts, transcripts_sdf

ATOL = 1.0e-6


def _enc(x):
    return ("S", str(x)) if isinstance(x, int) else ("W", x)


def test_per_conv_matches_networkx(spark):
    pdf = small_transcripts(n_convs=10)
    d = spark_digest(transcripts_sdf(spark, pdf), CraftParams())
    got = {}
    for r in pagerank_per_conv(d.gedges).collect():
        got[(r["conv_id"], r["kind"], r["key"])] = r["rank"]

    for conv, grp in pdf.groupby("conv_id"):
        sents = list(grp.sort_values("turn_idx")["text"])
        dg = otg.digest(sents)
        g = otg.nx_graph(dg)
        exp = pagerank_nx(list(g.edges()))
        for node, er in exp.items():
            kind, key = _enc(node)
            assert math.isclose(got[(conv, kind, key)], er, abs_tol=ATOL), (
                conv, node, got[(conv, kind, key)], er)
        # same node sets
        n_conv = sum(1 for k in got if k[0] == conv)
        assert n_conv == len(exp)


def test_per_conv_batched_equals_grouped(spark):
    # the mapInPandas partition-batched path must reproduce the grouped
    # applyInPandas path exactly (same per-conv float schedule; only the
    # framework framing differs)
    pdf = small_transcripts(n_convs=12)
    d = spark_digest(transcripts_sdf(spark, pdf), CraftParams())
    grouped = {
        (r["conv_id"], r["kind"], r["key"]): r["rank"]
        for r in pagerank_per_conv(d.gedges, batched=False).collect()
    }
    batched = {
        (r["conv_id"], r["kind"], r["key"]): r["rank"]
        for r in pagerank_per_conv(d.gedges, batched=True).collect()
    }
    assert grouped.keys() == batched.keys()
    for k, v in grouped.items():
        assert math.isclose(batched[k], v, rel_tol=0, abs_tol=1e-12), (k, v, batched[k])


def test_per_conv_personalized(spark):
    pdf = tiny_transcripts()
    d = spark_digest(transcripts_sdf(spark, pdf), CraftParams())
    pers_rows = [
        ("c_mixed", "W", "graph", 2.0),
        ("c_mixed", "W", "engine", 1.0),
        ("c_cat", "W", "cat", 1.0),
        # c_catdog gets no personalization -> uniform
    ]
    pers = spark.createDataFrame(pers_rows, "conv_id string, kind string, key string, weight double")
    got = {}
    for r in pagerank_per_conv(d.gedges, pers=pers).collect():
        got[(r["conv_id"], r["kind"], r["key"])] = r["rank"]

    pers_by_conv = {
        "c_mixed": {"graph": 2.0, "engine": 1.0},
        "c_cat": {"cat": 1.0},
    }
    for conv, grp in pdf.groupby("conv_id"):
        sents = list(grp.sort_values("turn_idx")["text"])
        g = otg.nx_graph(otg.digest(sents))
        exp = pagerank_nx(list(g.edges()), pers=pers_by_conv.get(conv))
        for node, er in exp.items():
            kind, key = _enc(node)
            assert math.isclose(got[(conv, kind, key)], er, abs_tol=ATOL)


def _random_graph(seed, n=60, m=150, with_dangling=True, with_selfloop=True):
    rng = random.Random(seed)
    edges = set()
    for _ in range(m):
        s, t = rng.randrange(n), rng.randrange(n)
        if not with_selfloop and s == t:
            continue
        edges.add((s, t))
    if with_dangling:
        # make a few guaranteed dangling nodes (incoming only)
        for k in range(3):
            edges = {(s, t) for (s, t) in edges if s != k} | {(n - 1, k)}
    return sorted(edges)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_distributed_matches_networkx(spark, seed):
    edges = _random_graph(seed)
    e = spark.createDataFrame(edges, "src long, dst long")
    run = pagerank_distributed(e, num_partitions=8)
    got = {r["id"]: r["rank"] for r in run.ranks.collect()}
    exp = pagerank_nx(edges)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert math.isclose(got[k], v, abs_tol=ATOL)
    assert run.converged
    assert run.supersteps <= 100


def test_distributed_personalized_and_salted(spark):
    edges = _random_graph(7)
    # hub: many nodes point at node 5
    edges = sorted(set(edges) | {(s, 5) for s in range(40)})
    e = spark.createDataFrame(edges, "src long, dst long")
    pers = spark.createDataFrame([(5, 3.0), (9, 1.0)], "id long, weight double")
    run = pagerank_distributed(e, pers=pers, salt_buckets=4, num_partitions=8)
    got = {r["id"]: r["rank"] for r in run.ranks.collect()}
    exp = pagerank_nx(edges, pers={5: 3.0, 9: 1.0})
    for k, v in exp.items():
        assert math.isclose(got[k], v, abs_tol=ATOL)


def test_distributed_checkpoint_resume(tmp_path, spark):
    edges = _random_graph(11)
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")

    full = pagerank_distributed(
        e, checkpoint_dir=ck, run_id="full", checkpoint_interval=3, num_partitions=4
    )
    # simulate a crash: run again with a low max_iter cap to leave a partial
    # checkpoint, then resume from it
    try:
        pagerank_distributed(
            e, checkpoint_dir=ck, run_id="part", checkpoint_interval=3,
            max_iter=4, num_partitions=4,
        )
    except RuntimeError:
        pass
    resumed = pagerank_distributed(
        e, checkpoint_dir=ck, run_id="part", checkpoint_interval=3,
        resume=True, num_partitions=4,
    )
    a = {r["id"]: r["rank"] for r in full.ranks.collect()}
    b = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], abs_tol=1e-12)

    lin = read_lineage(spark, ck, "part").toPandas()
    assert {"superstep", "partition_id", "rows", "checksum", "wall_ms"} <= set(lin.columns)
    assert lin["rows"].sum() > 0


def test_distributed_weighted_matches_networkx(spark):
    from deeprank_spark.oracle.kernels import pagerank_weighted_nx

    rng = random.Random(17)
    wedges = sorted(
        {(rng.randrange(40), rng.randrange(40)) for _ in range(160)}
    )
    wedges = [(s, t, round(rng.uniform(0.1, 5.0), 3)) for (s, t) in wedges]
    e = spark.createDataFrame(wedges, "src long, dst long, w double")
    run = pagerank_distributed(e, num_partitions=8, weight_col="w")
    got = {r["id"]: r["rank"] for r in run.ranks.collect()}
    exp = pagerank_weighted_nx(wedges)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert math.isclose(got[k], v, abs_tol=ATOL)
    assert run.converged


def test_distributed_weighted_unit_weights_match_unweighted(spark):
    edges = _random_graph(23)
    e = spark.createDataFrame(edges, "src long, dst long")
    ew = spark.createDataFrame(
        [(s, t, 1.0) for (s, t) in edges], "src long, dst long, w double"
    )
    a = {r["id"]: r["rank"]
         for r in pagerank_distributed(e, num_partitions=8).ranks.collect()}
    b = {r["id"]: r["rank"]
         for r in pagerank_distributed(
             ew, num_partitions=8, weight_col="w").ranks.collect()}
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=0, abs_tol=1e-12)


def test_distributed_weighted_zero_outweight_is_dangling(spark):
    # documented divergence from nx (which propagates nan): a vertex whose
    # out-weights sum to 0 behaves exactly like an edgeless (dangling) one
    from deeprank_spark.oracle.kernels import pagerank_weighted_nx

    wedges = [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (3, 4, 1.0)]
    withzero = wedges + [(4, 1, 0.0)]
    e = spark.createDataFrame(withzero, "src long, dst long, w double")
    got = {r["id"]: r["rank"]
           for r in pagerank_distributed(
               e, num_partitions=4, weight_col="w").ranks.collect()}
    exp = pagerank_weighted_nx(wedges)  # 4 dangling: no out-edge at all
    for k, v in exp.items():
        assert math.isclose(got[k], v, abs_tol=ATOL)


_PLAN_CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions",
)


def test_distributed_one_job_per_superstep_and_conf_restored(tmp_path, spark):
    # Each superstep is ONE Spark job (the eager state checkpoint); set-up
    # is two (the vertex/out-degree aggregation and edges_deg) and every
    # durable write two more (state parquet, lineage rows). The kernel
    # pins the plan settings for its call and must restore them, also
    # when it raises.
    sc = spark.sparkContext
    before = {k: spark.conf.get(k) for k in _PLAN_CONF}
    e = spark.createDataFrame(_random_graph(31), "src long, dst long")
    ck = str(tmp_path / "ck")
    sc.setJobGroup("pr-job-count", "pagerank_distributed job count")
    try:
        run = pagerank_distributed(
            e, checkpoint_dir=ck, run_id="pr", checkpoint_interval=4,
            num_partitions=4,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("pr-job-count"))
    writes = len([n for n in os.listdir(os.path.join(ck, "pr"))
                  if n.startswith("_DONE_")])
    assert run.converged and run.supersteps > 4 and writes >= 2
    assert run.supersteps <= jobs <= run.supersteps + 2 + 2 * writes, (
        jobs, run.supersteps, writes)
    assert {k: spark.conf.get(k) for k in _PLAN_CONF} == before

    with pytest.raises(RuntimeError, match="no convergence"):
        pagerank_distributed(e, max_iter=2, num_partitions=4)
    assert {k: spark.conf.get(k) for k in _PLAN_CONF} == before
