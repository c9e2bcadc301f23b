"""Incremental streaming connected components: stream replay must equal
a batch recompute over the full edge history at EVERY prefix, including
across merges of previously separate components and a restart."""

from deeprank_spark.operators.components import components_distributed
from deeprank_spark.oracle.kernels import components_nx
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
