"""Triangle counting (north-rule kernel, not in the reference).

Undirected simple graph; per-vertex triangle counts + global total
(each triangle counted once; global = sum/3 of per-vertex counts as in
nx.triangles).

Distributed path uses the degree-orientation method: orient every
undirected edge from the (degree, id)-smaller endpoint to the larger, build
wedges by self-joining oriented edges on their source, and close them with a
semi-join — the orientation bounds every vertex's out-degree by O(sqrt(m)),
which keeps the wedge join skew-safe on power-law graphs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField

from .per_conv import per_conv_map

_TRI_COUNT = [StructField("tri_count", LongType(), False)]


def _triangle_counts(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Per-vertex triangle counts of the undirected simple projection."""
    mask = a != b
    lo = np.minimum(a[mask], b[mask])
    hi = np.maximum(a[mask], b[mask])
    und = np.unique(np.stack([lo, hi], axis=1), axis=0)
    adj: list[set] = [set() for _ in range(n)]
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    tri = np.zeros(n, dtype=np.int64)
    deg_order = sorted(range(n), key=lambda v: (len(adj[v]), v))
    rank = {v: i for i, v in enumerate(deg_order)}
    for u, v in und:
        x, y = (u, v) if rank[u] < rank[v] else (v, u)
        for w in adj[x]:
            if rank[w] > rank[y] and w in adj[y]:
                tri[x] += 1
                tri[y] += 1
                tri[w] += 1
    return tri


def triangles_per_conv(gedges: DataFrame) -> DataFrame:
    """(conv_id, kind, key, tri_count) through the shared per-conversation
    runner (operators/per_conv.py)."""

    def kernel(src_idx, dst_idx, n, _nodes):
        return (_triangle_counts(src_idx, dst_idx, n),)

    return per_conv_map(gedges, kernel, _TRI_COUNT)


def triangles_distributed(
    edges: DataFrame, id_cols: tuple = ("src", "dst")
) -> DataFrame:
    """Per-vertex triangle counts (id, tri_count) on one giant graph."""
    src, dst = id_cols
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        e.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .cache()
    )
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    # orient from (deg, id)-smaller to larger
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("e")
        )
        .select("e.s", "e.d")
        .cache()
    )
    # Adjacency-array intersection instead of a wedge self-join: for each
    # oriented edge (u->v), the triangles it roots are N+(u) ∩ N+(v) (the
    # orientation makes each triangle a->b->c countable exactly once, at
    # its a->b edge). The wedge formulation shuffles O(sum deg+^2) rows —
    # 1.7e8 on the sf0.1 co-supplier graph (K_1000) — through TWO joins;
    # here the only wide rows are |E| edges joined against the adjacency
    # table, the per-triangle rows exist only inside one codegen stage
    # (project -> explode -> partial hash-agg on |V| keys, map-side
    # combine), and orientation bounds every array at O(sqrt(m)) so rows
    # stay narrow on power-law graphs. AQE broadcasts the adjacency side
    # when it fits; at cluster scale it degrades to a co-partitioned join.
    adj = oriented.groupBy("s").agg(F.sort_array(F.collect_list("d")).alias("nbrs"))
    eu = oriented.join(
        adj.select(F.col("s").alias("u_"), F.col("nbrs").alias("nbrs_u")),
        oriented["s"] == F.col("u_"),
    ).join(
        adj.select(F.col("s").alias("v_"), F.col("nbrs").alias("nbrs_v")),
        oriented["d"] == F.col("v_"),
        "left",
    ).select(
        "s",
        "d",
        # slice(nbrs_u, 1, 0) = typed empty array for sink vertices (no
        # out-neighbors), keeping the operator generic over the id type
        F.expr(
            "array_intersect(nbrs_u, coalesce(nbrs_v, slice(nbrs_u, 1, 0)))"
        ).alias("inter"),
    )
    contrib = (
        eu.select(F.col("s").alias("id"), F.size("inter").cast("long").alias("c"))
        .union(eu.select(F.col("d").alias("id"), F.size("inter").cast("long").alias("c")))
        .union(
            eu.select(F.explode("inter").alias("id"), F.lit(1).cast("long").alias("c"))
        )
    )
    per_vertex = contrib.groupBy("id").agg(F.sum("c").alias("tri_count"))
    verts = deg.select("id")
    return verts.join(per_vertex, "id", "left").select(
        "id", F.coalesce("tri_count", F.lit(0)).alias("tri_count")
    )
