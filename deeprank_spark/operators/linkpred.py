"""Link-prediction scores over an undirected graph.

Beyond-reference analytics for the link-graph family: given candidate
vertex pairs, score how likely the missing edge is by neighborhood
overlap — common-neighbor count, Jaccard, and Adamic-Adar
(sum over common neighbors w of 1/ln(deg(w)); Adamic & Adar 2003).
nx.jaccard_coefficient / nx.adamic_adar_index semantics.

Scale shape: candidates explode through ONE wedge join — each candidate
(u, v) joins the symmetric edge list twice on its endpoints and matches
on the shared neighbor, so a pair's cost is O(min fan-in) after the
join, and the per-pair aggregation is a partial-combine groupBy. Degree
is a broadcast-or-co-partitioned dimension. No adjacency arrays are
collected per vertex, so hub rows stay narrow (a hub appears as many
rows, spread across partitions, not one giant array).

`two_hop_candidates` generates the standard candidate set (non-adjacent
pairs sharing >= 1 neighbor) via a wedge self-join. Exact generation is
O(sum deg^2) by nature, so the DEFAULT path caps per-center fan-out at
`max_center_degree`: a wedge center with more neighbors contributes only
its first `max_center_degree` neighbors (deterministic id order) —
candidate RECALL through hub centers is bounded, never the shuffle. A
pair sharing any non-hub neighbor is still found through that neighbor.
At 100 TB feed explicit candidates (LSH/ANN output or per-community
pairs) for full recall; pass max_center_degree=None for the exact set
on small graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deeprank_spark.operators.cohesion import _sym, _undirected


def two_hop_candidates(
    edges: DataFrame,
    id_cols: tuple = ("src", "dst"),
    max_center_degree: int | None = 1024,
) -> DataFrame:
    """Non-adjacent pairs (u < v) with at least one common neighbor.

    max_center_degree bounds the wedge fan-out per center: a degree-d hub
    emits C(min(d, cap), 2) candidate pairs instead of C(d, 2). The kept
    neighbors are the cap smallest by vertex id — deterministic and
    exactly mirrorable in the SQL oracle (ROW_NUMBER over id). Centers at
    or under the cap are untouched, so results are exact whenever
    max degree <= cap. (At extreme scale replace the per-hub window with
    stateless hash-thresholding; the window only sorts over-cap hubs.)
    """
    und = _undirected(edges, id_cols).cache()
    sym = _sym(und)
    if max_center_degree is not None:
        degc = sym.groupBy("s").agg(F.count("*").alias("cdeg"))
        sym_d = sym.join(degc, "s")
        small = sym_d.where(F.col("cdeg") <= max_center_degree).select("s", "d")
        w = Window.partitionBy("s").orderBy("d")
        big = (
            sym_d.where(F.col("cdeg") > max_center_degree)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= max_center_degree)
            .select("s", "d")
        )
        sym = small.union(big)
    wedges = (
        sym.select(F.col("s").alias("w"), F.col("d").alias("u"))
        .join(sym.select(F.col("s").alias("w"), F.col("d").alias("v")), "w")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return wedges.join(und, ["u", "v"], "left_anti")


def link_prediction_scores(
    edges: DataFrame,
    candidates: DataFrame,
    id_cols: tuple = ("src", "dst"),
) -> DataFrame:
    """-> (u, v, common_neighbors, jaccard, adamic_adar) for each
    candidate pair (columns u, v; caller guarantees u != v; pairs are
    canonicalized to u < v). Pairs with zero common neighbors keep their
    row with scores 0.0 (matching nx, which scores any requested ebunch).
    """
    und = _undirected(edges, id_cols).cache()
    sym = _sym(und)
    deg = sym.groupBy(F.col("s").alias("id")).agg(F.count("*").alias("deg"))

    cand = candidates.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()

    # wedge join: candidate (u,v) x neighbors-of-u, matched on neighbors-of-v
    nu = sym.select(F.col("s").alias("u"), F.col("d").alias("w"))
    nv = sym.select(F.col("s").alias("v"), F.col("d").alias("w"))
    common = (
        cand.join(nu, "u")
        .join(nv, ["v", "w"])  # keeps rows where w is adjacent to BOTH
        .join(deg.select(F.col("id").alias("w"), F.col("deg").alias("dw")), "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum(1.0 / F.log("dw")).alias("aa"),
        )
    )
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    return (
        cand.join(common, ["u", "v"], "left")
        .join(du, "u", "left")
        .join(dv, "v", "left")
        .select(
            "u",
            "v",
            F.coalesce("common_neighbors", F.lit(0)).alias("common_neighbors"),
            F.when(
                F.coalesce(F.col("du"), F.lit(0))
                + F.coalesce(F.col("dv"), F.lit(0))
                - F.coalesce(F.col("common_neighbors"), F.lit(0))
                > 0,
                F.coalesce(F.col("common_neighbors"), F.lit(0))
                / (
                    F.coalesce(F.col("du"), F.lit(0))
                    + F.coalesce(F.col("dv"), F.lit(0))
                    - F.coalesce(F.col("common_neighbors"), F.lit(0))
                ).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
            F.coalesce(F.col("aa"), F.lit(0.0)).alias("adamic_adar"),
        )
    )


def negative_edge_samples(
    edges: DataFrame,
    per_vertex: int = 5,
    seed: str = "neg",
    id_cols: tuple = ("src", "dst"),
) -> DataFrame:
    """Deterministic negative sampling for link-prediction / embedding
    training: for every vertex u, up to `per_vertex` candidate pairs
    (u, v) where v is hash-picked uniformly from the global vertex list
    and (u, v) is NOT an observed edge (self-pairs dropped; a pair two
    slots both pick is kept once, with the lower slot). -> (src, dst, slot).

    The pick is verts_sorted[ H(seed|u|slot) % V ] with the portable
    md5-prefix hash, so the sample is reproducible across runs/engines
    (the property df.sample cannot give) and mirrorable in a pure-python
    oracle. Collisions with real edges are REMOVED, not re-drawn —
    re-draw loops are unbounded dataflow; the caller over-asks
    (per_vertex slightly above target) instead, the standard trick.

    Scale shape: the global vertex index is a two-pass parallel prefix
    (range partitions -> broadcast per-partition offsets -> in-partition
    row_number), never a single-partition window; candidates are an
    explode + one join to resolve the index; exclusion is one LEFT ANTI
    join against the observed edges on (src, dst).
    """
    if per_vertex < 1:
        raise ValueError(f"negative_edge_samples: per_vertex must be >= 1, got {per_vertex}")
    from pyspark.sql import Window

    src, dst = id_cols
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    verts = (
        e.select(F.col("s").alias("id")).union(e.select(F.col("d").alias("id"))).distinct()
    )
    # global contiguous index WITHOUT a single-partition window (the
    # pack_sequences two-pass parallel-prefix shape): range-partition by
    # id, broadcast per-partition counts as prefix offsets, then an
    # in-partition row_number. The resulting index is the global rank of
    # id — fully value-determined regardless of the sampled range
    # boundaries, so the draw stays reproducible across runs.
    ranged = verts.repartitionByRange(F.col("id")).localCheckpoint(eager=True)
    part_counts = (
        ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    offsets = {}
    run = 0
    for r in sorted(part_counts, key=lambda r: r["pid"]):
        offsets[r["pid"]] = run
        run += r["cnt"]
    omap = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    # pid must be pinned as a real column first: nondeterministic-marked
    # expressions (spark_partition_id) are not allowed inside a window
    # partition spec directly
    wp = Window.partitionBy("pid").orderBy("id")
    indexed = (
        ranged.withColumn("pid", F.spark_partition_id())
        .select(
            "id",
            (F.row_number().over(wp) - 1 + omap[F.col("pid")]).alias("ix"),
        )
        .localCheckpoint(eager=True)
    )
    nv = indexed.count()
    cand = indexed.select(
        F.col("id").alias("src"),
        F.explode(F.sequence(F.lit(0), F.lit(per_vertex - 1))).alias("slot"),
    ).select(
        "src",
        "slot",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(seed),
                            F.col("src").cast("string"),
                            F.col("slot").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % nv
        ).alias("ix"),
    )
    picked = cand.join(indexed, "ix").select(
        "src", F.col("id").alias("dst"), "slot"
    )
    # two slots of one vertex can pick the same v: keep the pair once, at
    # its lowest slot
    return (
        picked.where(F.col("src") != F.col("dst"))
        .join(e, (picked["src"] == e["s"]) & (picked["dst"] == e["d"]), "left_anti")
        .groupBy("src", "dst")
        .agg(F.min("slot").alias("slot"))
    )
