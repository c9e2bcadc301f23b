"""Incremental streaming connected components: stream replay must equal
a batch recompute over the full edge history at EVERY prefix, including
across merges of previously separate components and a restart."""

import os
import shutil

import pytest

from deeprank_spark.operators.components import components_distributed
from deeprank_spark.oracle.kernels import components_nx
from deeprank_spark.streaming import graph
from deeprank_spark.streaming.graph import incremental_components, streaming_components

SCHEMA = "src long, dst long"

B1 = [(1, 2), (3, 4), (5, 5)]          # two pairs + a self-loop singleton
B2 = [(2, 3), (6, 7)]                  # merges {1,2} with {3,4}; new pair
B3 = [(4, 5), (8, 8)]                  # merges the singleton in; another


def test_incremental_matches_batch_per_prefix(spark, tmp_path):
    state = str(tmp_path / "state")
    hist = []
    for batch in (B1, B2, B3):
        hist += batch
        got = {
            r["id"]: r["component"]
            for r in incremental_components(
                spark, spark.createDataFrame(batch, SCHEMA), state
            ).collect()
        }
        exp = components_nx(hist)
        assert got == exp, batch


def test_streaming_query_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def push_and_run(batch):
        spark.createDataFrame(batch, SCHEMA).write.mode("append").parquet(src)
        q = streaming_components(
            spark.readStream.schema(SCHEMA).parquet(src), state, ck, out
        )
        try:
            assert q.awaitTermination(120), "availableNow query did not terminate"
        finally:
            q.stop()

    push_and_run(B1)
    push_and_run(B2)  # second START on the same checkpoint = restart path
    got = {r["id"]: r["component"] for r in spark.read.parquet(out).collect()}
    assert got == components_nx(B1 + B2)
    # labels equal a full-history batch recompute, not just nx
    full = {
        r["id"]: r["component"]
        for r in components_distributed(
            spark.createDataFrame(B1 + B2, SCHEMA)
        ).collect()
    }
    assert got == full


def test_crash_before_marker_keeps_previous_forest(spark, tmp_path, monkeypatch):
    # a batch that dies after writing its forest but before publishing the
    # marker leaves the previous forest in force; the replayed batch and
    # the next one equal a batch recompute
    state = str(tmp_path / "state")
    incremental_components(spark, spark.createDataFrame(B1, SCHEMA), state)

    def crash(*_args, **_kwargs):
        raise OSError("crash before the marker")

    with monkeypatch.context() as m:
        m.setattr(graph, "write_marker", crash)
        with pytest.raises(OSError, match="crash before the marker"):
            incremental_components(spark, spark.createDataFrame(B2, SCHEMA), state)
    hist = B1
    for batch in (B2, B3):  # B2 replayed, then the next batch
        hist = hist + batch
        got = {
            r["id"]: r["component"]
            for r in incremental_components(
                spark, spark.createDataFrame(batch, SCHEMA), state
            ).collect()
        }
        full = {
            r["id"]: r["component"]
            for r in components_distributed(spark.createDataFrame(hist, SCHEMA)).collect()
        }
        assert got == full, batch
    # versions older than the previous one are pruned
    assert sorted(n for n in os.listdir(state) if n.startswith(("forest", "_DONE_"))) == [
        "_DONE_2", "_DONE_3", "forest_v2", "forest_v3"]


def test_unmarked_forest_raises(spark, tmp_path):
    state = str(tmp_path / "state")
    incremental_components(spark, spark.createDataFrame(B1, SCHEMA), state)
    os.remove(os.path.join(state, "_DONE_1"))
    with pytest.raises(RuntimeError, match="no version is marked"):
        incremental_components(spark, spark.createDataFrame(B2, SCHEMA), state)
    # a forest from before versioning, with no marker, raises too
    shutil.move(os.path.join(state, "forest_v1"), os.path.join(state, "forest"))
    with pytest.raises(RuntimeError, match="no version is marked"):
        incremental_components(spark, spark.createDataFrame(B2, SCHEMA), state)
