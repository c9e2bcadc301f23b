"""Random-walk corpus generation (DeepWalk, Perozzi et al. 2014 /
node2vec-style walk sampling) — the standard preprocessing that turns a
link graph into training sequences for embedding models. Beyond the
reference; link-graph x training-pipeline family.

Walks are DETERMINISTIC: at step t the walker at vertex v moves to
sorted_neighbors(v)[ H(seed|start|rep|t) % out_degree(v) ], with H the
md5-hex-prefix integer (the same engine-portable hash stratified_sample
and dsir use). A fixed (seed, graph) therefore always yields the same
corpus — reproducible across runs, engines and partitionings, which
df.sample-style RNG walks cannot promise. Walks stop early at sinks
(out-degree 0).

Scale shape: the adjacency table (vertex, sorted out-neighbors) is built
ONCE (one groupBy; array length = out-degree, so degree-capped graphs
bound row width); each step is one equi-join of the walker frontier
against it plus a map-side element_at — no Python, no explode. The
frontier carries (start, rep, cur) only; each step is a step of the
shared superstep loop (operators/superstep.py), so every step's frontier
is checkpointed once and lineage stays constant-depth. walk_length joins is
the inherent cost of L-step walks; at 10^12 edges the caller bounds L
(10-80 in the published recipes) and the per-step join is
shuffle-partitioned on the current vertex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import superstep


def _hstep(seed: str, start, rep, step: int):
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(seed),
                    start.cast("string"),
                    rep.cast("string"),
                    F.lit(str(step)),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")


def random_walks(
    edges: DataFrame,
    walks_per_vertex: int = 1,
    walk_length: int = 10,
    seed: str = "walks",
    id_cols: tuple = ("src", "dst"),
) -> DataFrame:
    """-> (start_id, rep, step, vertex): step 0 is the start vertex
    itself; a walk visiting a sink stops emitting (shorter sequence, the
    DeepWalk convention). rep in [0, walks_per_vertex).

    Directed simple-graph semantics (parallel edges collapsed by the
    sorted-distinct adjacency build; self-loops are legal moves).
    """
    if walk_length < 1 or walks_per_vertex < 1:
        raise ValueError(
            "random_walks: walk_length and walks_per_vertex must be >= 1, "
            f"got {walk_length}/{walks_per_vertex}"
        )
    src, dst = id_cols
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    adj = (
        e.groupBy("s")
        .agg(F.sort_array(F.collect_set("d")).alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col("s").alias("id"))
        .union(e.select(F.col("d").alias("id")))
        .distinct()
    )
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))
    ).alias("rep")
    frontier = verts.select(F.col("id").alias("start"), reps).select(
        "start", "rep", F.col("start").alias("cur")
    )
    # every step's checkpointed frontier, emitted by the final union (its
    # blocks, not a parquet reset the loop deletes later)
    emitted = [frontier]

    def step(frontier: DataFrame, t: int, _last: dict):
        t += 1
        nxt = frontier.join(adj, frontier["cur"] == adj["s"]).select(
            "start",
            "rep",
            F.element_at(
                F.col("nbrs"),
                (
                    F.pmod(_hstep(seed, F.col("start"), F.col("rep"), t), F.size("nbrs"))
                    + 1
                ).cast("int"),
            ).alias("cur"),
        )
        return nxt, {}

    def settle(frame: DataFrame, _v: dict) -> DataFrame:
        emitted.append(frame)
        return frame

    superstep.run(e.sparkSession, step, lambda: (frontier, {}),
                  max_iter=walk_length, settle=settle)
    res = None
    for t, fr in enumerate(emitted):
        fr = fr.select(
            F.col("start").alias("start_id"), "rep", F.lit(t).alias("step"),
            F.col("cur").alias("vertex"),
        )
        res = fr if res is None else res.unionByName(fr)
    return res


def walks_as_paths(walks: DataFrame) -> DataFrame:
    """Fold the long format into (start_id, rep, path array<...>), path
    ordered by step — the sentence-per-walk layout embedding trainers
    consume."""
    return walks.groupBy("start_id", "rep").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("step"), F.col("vertex")))
            ),
            lambda x: x["vertex"],
        ).alias("path")
    )
