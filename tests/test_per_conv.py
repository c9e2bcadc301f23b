"""The shared per-conversation runner (operators/per_conv.py): every
per-conversation kernel sees each conversation whole, whatever the Arrow
batch size and however many partitions are empty, and plans exactly one
shuffle, the conv_id repartition."""

import re
from collections import defaultdict

import numpy as np
import pytest

from deeprank_spark.operators.centrality import centrality_per_conv
from deeprank_spark.operators.components import components_per_conv
from deeprank_spark.operators.hits import hits_per_conv
from deeprank_spark.operators.labelprop import lpa_per_conv
from deeprank_spark.operators.pagerank import pagerank_per_conv
from deeprank_spark.operators.scc import scc_per_conv
from deeprank_spark.operators.triangles import triangles_per_conv

P = 11  # more partitions than conversations: most are empty

KERNELS = {
    "pagerank": pagerank_per_conv,
    "components": components_per_conv,
    "scc": scc_per_conv,
    "lpa": lpa_per_conv,
    "triangles": triangles_per_conv,
    "hits": lambda g: hits_per_conv(g, max_iter=20, tol=0.0),
    "centrality": centrality_per_conv,
}


def _edges():
    rows = []
    # one conversation far larger than an Arrow batch of 3 records
    for i in range(30):
        rows.append(("c_big", "W", f"w{i % 11}", "S", str((3 * i) % 7)))
        rows.append(("c_big", "S", str(i % 7), "W", f"w{(i * 5) % 11}"))
    rows.append(("c_loop", "W", "x", "W", "x"))  # a single self-loop
    dup = [("W", "a", "W", "b"), ("W", "b", "W", "c"), ("W", "c", "W", "a")]
    rows += [("c_dup", *e) for e in dup * 3]  # every edge three times
    rows += [("c_pair", "S", "0", "W", "y"), ("c_pair", "W", "y", "S", "0")]
    return rows


@pytest.fixture(scope="module")
def gedges(spark):
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
        )
    }
    spark.conf.set("spark.sql.shuffle.partitions", str(P))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        yield spark.createDataFrame(
            _edges(),
            "conv_id string, src_kind string, src string, dst_kind string, dst string",
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_runner_sees_each_conversation_whole(spark, gedges, name):
    out = KERNELS[name](gedges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert re.search(rf"Exchange hashpartitioning\(conv_id#\d+, {P}\)", exchanges[0]), plan

    got = defaultdict(list)
    for r in out.collect():
        got[r["conv_id"]].append(r["kind"] + r["key"])
    tokens = defaultdict(list)
    for conv, sk, s, dk, d in _edges():
        tokens[conv] += [sk + s, dk + d]
    assert got.keys() == tokens.keys()
    for conv, toks in tokens.items():
        assert sorted(got[conv]) == list(np.unique(toks)), conv
