"""Incremental connected components over a stream of edges.

An unbounded edge stream (new links between conversation turns, URLs,
entities) wants component labels that stay current without recomputing
over ALL edges ever seen. The classic trick: component structure is
fully captured by a SPANNING FOREST (<= V-1 edges), so each micro-batch
merges its new edges with the saved forest — never with the full edge
history — and re-labels that union:

    per batch B_t:  forest_t = spanning_forest( forest_{t-1} UNION B_t )
                    labels_t = components( forest_{t-1} UNION B_t )

Incremental cost is O(V + |B_t|) rows per batch regardless of how many
edges the stream has carried (forest compression is what Union-Find's
path compression does, expressed as data). Labels are identical to a
batch recompute over the full history — components(edges) depends only
on connectivity, which the forest preserves exactly — and the pytest
parity test pins stream-replay == batch for every prefix.

Built on foreachBatch: per-key state stores won't do here because
component merging is inherently CROSS-key (two previously unrelated
keys join when an edge arrives), which applyInPandasWithState's
key-isolated state cannot express. The forest lives as versioned parquet
next to the checkpoint, published with the superstep marker protocol
(operators/superstep.py), so a crash mid-write never loses the forest.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deeprank_spark.operators.superstep import completed_supersteps, write_marker


def _star_forest(labels: DataFrame) -> DataFrame:
    """One row per seen vertex: (component_min -> id). For non-root
    vertices that is a star spanning tree of the component (the dataflow
    analog of Union-Find path compression); for the root it is a
    self-loop row, kept deliberately — a component whose only member is
    its root (e.g. born from a self-loop edge) must still survive into
    the next batch's union or the vertex would vanish from later label
    tables. Self-loops are connectivity no-ops downstream."""
    return labels.select(
        F.col("component").alias("src"), F.col("id").alias("dst")
    )


def incremental_components(
    spark,
    batch_edges: DataFrame,
    state_dir: str,
) -> DataFrame:
    """Process ONE micro-batch: merge `batch_edges` (src, dst) with the
    saved forest under `state_dir`, recompute labels on the union, save
    the new forest, return (id, component). Call from foreachBatch (or
    any replay loop); idempotent per batch content.

    The forest is versioned with the superstep marker protocol
    (operators/superstep.py): batch k+1 writes forest_v<k+1>/, then
    publishes _DONE_<k+1>. Reads take the newest marked version; an
    unmarked version above it is a crashed write and is overwritten. A
    crash anywhere leaves the previous forest readable, and the stream's
    checkpoint replays the batch.
    """
    from deeprank_spark.operators.components import components_distributed

    e = batch_edges.select("src", "dst")
    done = completed_supersteps(state_dir)
    names = os.listdir(state_dir) if os.path.isdir(state_dir) else []
    versions = [int(n[len("forest_v"):]) for n in names if n.startswith("forest_v")]
    # only NO forest at all means "first batch": forest dirs with no
    # marked version are a state dir we cannot trust, and restarting
    # from an empty forest would drop every previously-seen component
    # and emit wrong labels that look healthy
    if not done and any(n.startswith("forest") for n in names):
        raise RuntimeError(
            f"{state_dir}: forest directories but no version is marked complete"
        )
    k = done[-1] if done else 0
    if done:
        prev = spark.read.parquet(os.path.join(state_dir, f"forest_v{k}"))
        union = prev.unionByName(e)
    else:
        union = e
    labels = components_distributed(union).localCheckpoint(eager=True)
    _star_forest(labels).write.mode("overwrite").parquet(
        os.path.join(state_dir, f"forest_v{k + 1}")
    )
    write_marker(state_dir, k + 1, {"superstep": k + 1})
    # keep the new version and the one before it
    for v in versions:
        if v < k:
            marker = os.path.join(state_dir, f"_DONE_{v}")
            if os.path.exists(marker):
                os.remove(marker)
            shutil.rmtree(os.path.join(state_dir, f"forest_v{v}"), ignore_errors=True)
    return labels


def streaming_components(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
):
    """Wire incremental_components into a Structured Streaming query:
    each micro-batch's full label table is (over)written to out_dir —
    "current components as of the latest batch". Returns the started
    query (caller awaits/stops)."""

    def _batch(batch_df: DataFrame, _epoch) -> None:
        labels = incremental_components(
            batch_df.sparkSession, batch_df, state_dir
        )
        labels.write.mode("overwrite").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
