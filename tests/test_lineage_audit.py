"""tools/lineage_audit.py — must pass on healthy durable kernel runs and
FAIL when the durable state is altered (content integrity: the XOR-fold
of per-partition checksums is partition-layout-independent, so a
post-crash re-read can be verified against the lineage table)."""

import importlib.util
import os

import pytest

from deeprank_spark.operators.components import components_distributed
from deeprank_spark.operators.pagerank import pagerank_distributed
from deeprank_spark.oracle.kernels import pagerank_nx


def _load_audit():
    spec = importlib.util.spec_from_file_location(
        "lineage_audit",
        os.path.join(
            os.path.dirname(__file__), "..", "tools", "lineage_audit.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.audit


def test_lineage_audit_green_then_detects_corruption(tmp_path, spark):
    audit = _load_audit()
    edges = [(i, i + 1) for i in range(40)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")
    components_distributed(
        e, checkpoint_dir=ck, run_id="cc", checkpoint_interval=2
    )
    rep = audit(spark, ck, "cc")
    assert rep["ok"], rep
    assert rep["newest"]["checksum_match"] and rep["newest"]["converged"]

    # corrupt the newest round's state: silently drop one row
    k = rep["newest"]["round"]
    path = os.path.join(ck, "cc", f"superstep={k}")
    st = spark.read.parquet(path)
    pdf = st.toPandas().iloc[:-1]  # materialize BEFORE the overwrite
    spark.createDataFrame(pdf, st.schema).write.mode("overwrite").parquet(path)
    rep2 = audit(spark, ck, "cc")
    assert not rep2["ok"]
    assert any("rows" in err or "checksum" in err for err in rep2["errors"])


def test_lineage_audit_empty_graph_run(tmp_path, spark):
    # an empty durable state still leaves a sentinel lineage row, so the
    # auditor can tell "empty by design" from "rows went missing"
    audit = _load_audit()
    e = spark.createDataFrame([], "src long, dst long")
    ck = str(tmp_path / "ck")
    components_distributed(e, checkpoint_dir=ck, run_id="cc")
    rep = audit(spark, ck, "cc")
    assert rep["ok"], rep
    assert rep["newest"]["rows"] == 0 and rep["newest"]["checksum_match"]


def test_lineage_audit_pagerank_rank_normalization(tmp_path, spark):
    # the double `rank` column goes through the same format_number(12)
    # normalization pagerank's own lineage writer uses
    audit = _load_audit()
    edges = [(i, (i * 7 + 1) % 23) for i in range(23)] + [(0, 5), (5, 11)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")
    pagerank_distributed(
        e, checkpoint_dir=ck, run_id="pr", checkpoint_interval=3,
        num_partitions=4,
    )
    rep = audit(spark, ck, "pr")
    assert rep["ok"], rep
    assert rep["newest"]["checksum_match"]


def test_lineage_audit_scc_sections_layout(tmp_path, spark):
    # the multi-section protocol (done / rem_v / rem_e per round): the
    # auditor follows the marker's section list and lineage_of pointer
    from deeprank_spark.operators.scc import scc_distributed

    audit = _load_audit()
    edges = [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")
    scc_distributed(e, checkpoint_dir=ck, run_id="scc")
    rep = audit(spark, ck, "scc")
    assert rep["ok"], rep
    assert rep["newest"]["converged"] and rep["newest"]["checksum_match"]
    assert rep["newest"]["rows"] == 5  # all vertices labeled


def test_torn_marker_is_ignored_by_resume_and_audit(tmp_path, spark, monkeypatch):
    # A crash while a _DONE marker is being written leaves only its temp
    # file (markers are published by an atomic rename). Resume and the
    # auditor must both read the run as ending at the previous marker.
    audit = _load_audit()
    edges = [(i, (i * 7 + 1) % 23) for i in range(23)] + [(0, 5), (5, 11)]
    e = spark.createDataFrame(edges, "src long, dst long")
    ck = str(tmp_path / "ck")
    kw = dict(checkpoint_dir=ck, checkpoint_interval=3, num_partitions=4)

    real_replace = os.replace
    published = []

    def crash_on_second_marker(src, dst):
        if published:
            raise OSError("crash before the marker is published")
        published.append(dst)
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_second_marker)
    with pytest.raises(OSError, match="crash before"):
        pagerank_distributed(e, run_id="part", **kw)
    monkeypatch.undo()

    names = os.listdir(os.path.join(ck, "part"))
    markers = sorted(n for n in names if n.startswith("_DONE_"))
    stray = [n for n in names if "DONE" in n and not n.startswith("_DONE_")]
    assert markers == ["_DONE_3"] and stray, names
    rep = audit(spark, ck, "part")
    assert rep["ok"] and rep["rounds"] == [3], rep

    # resume restarts at 3; agreement to 1e-12 with an uninterrupted
    # run is test_pagerank.py's resume test, here the oracle suffices
    resumed = pagerank_distributed(e, run_id="part", resume=True, **kw)
    assert resumed.supersteps > 6  # the crash was not at the last marker
    assert len(resumed.deltas) == resumed.supersteps - 3
    got = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    exp = pagerank_nx(edges)
    assert got.keys() == exp.keys()
    assert all(abs(got[k] - v) <= 1e-6 for k, v in exp.items())
    rep = audit(spark, ck, "part")
    assert rep["ok"], rep
