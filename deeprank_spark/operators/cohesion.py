"""Cohesion statistics: clustering coefficient, k-core, core numbers.

Companions to the triangle kernel for the north-rule "community/cohesion
stats" family (the reference ships none of these — DeepRank's cohesion
signal is nx.pagerank + connected components, textcrafts/deepRank.py:401,
535 — but any link-graph engine over the same edge tables needs them).

All three run on one (possibly giant) undirected graph expressed as an
edge DataFrame and are pure DataFrame programs:

- `clustering_coefficient` — nx.clustering semantics: one reuse of the
  degree-oriented triangle kernel plus a degree join; no new shuffle
  shape beyond `triangles_distributed` itself.
- `kcore_distributed` — iterative peeling to a fixed point: each round
  is one degree aggregation + one semi-join against the surviving vertex
  set. Round count is bounded by the peeling depth (<= diameter-ish in
  practice); each round's shuffle is on the vertex id only, and the edge
  set shrinks monotonically so late rounds are cheap. Fixed-round mode
  (`rounds=`) gives the deterministic schedule a SQL-unrolled
  differential oracle needs (same pattern as pagerank's tol=0 mode).
- `core_numbers_distributed` — full coreness decomposition via the
  H-index fixed point (Lu et al. 2016, "The H-index of a network node
  and its relation to degree and coreness"): h0 = degree,
  h_{t+1}(v) = H({h_t(u) : u ~ v}), which converges monotonically from
  above to core_number(v). Each round is one join + one windowed
  H-index aggregation — no vertex deletion, so the per-round work is
  constant and skew follows the degree distribution (the windowed
  H-index is a per-vertex sort of its neighbor values; a hub's window
  is O(deg log deg) on one reducer — for power-law graphs cap it with
  `salt_hint` pre-aggregation of equal neighbor values, which is
  lossless for H-index).

Scale notes (100 TB shape): all three loops are steps of the shared
superstep loop (operators/superstep.py: one eager checkpoint per round
with its convergence count observed on the same job, strong refs,
periodic parquet resets); shuffles stay on the vertex id with the
session's partition count; no collect, no Python rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import superstep


def _undirected(edges: DataFrame, id_cols: tuple) -> DataFrame:
    """Dedup to canonical undirected simple edges u < v (drops self-loops)."""
    src, dst = id_cols
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    return (
        e.where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )


def _sym(und: DataFrame) -> DataFrame:
    """Both directions of the canonical undirected edge set."""
    return und.select(F.col("u").alias("s"), F.col("v").alias("d")).union(
        und.select(F.col("v").alias("s"), F.col("u").alias("d"))
    )


def clustering_coefficient(
    edges: DataFrame, id_cols: tuple = ("src", "dst")
) -> DataFrame:
    """Per-vertex local clustering coefficient (id, degree, lcc).

    nx.clustering semantics on the undirected simple graph:
    lcc = 2*tri / (deg*(deg-1)), 0.0 where deg < 2.
    """
    from deeprank_spark.operators.triangles import triangles_distributed

    # cache: the canonical edge set feeds both the degree agg and the
    # triangle kernel — without it the upstream build (often an expensive
    # projection join) runs twice
    und = _undirected(edges, id_cols).cache()
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    tri = triangles_distributed(und, id_cols=("u", "v"))
    return deg.join(tri, "id", "left").select(
        "id",
        "degree",
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce(F.col("tri_count"), F.lit(0)).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def kcore_distributed(
    edges: DataFrame,
    k: int,
    id_cols: tuple = ("src", "dst"),
    rounds: int | None = None,
    max_rounds: int = 200,
) -> DataFrame:
    """Vertices of the k-core with their degree inside it (id, core_deg).

    Iterative peeling: drop every vertex whose degree in the current
    induced subgraph is < k, repeat to a fixed point (nx.k_core node set).
    `rounds=None` converges (asserting fixed point within max_rounds);
    `rounds=R` runs exactly R peels — peeling is idempotent at the fixed
    point, so any R past convergence yields the fixed point, which is what
    lets an unrolled SQL oracle mirror the result exactly.
    """
    und = _undirected(edges, id_cols).localCheckpoint(eager=True)

    def step(und: DataFrame, _r: int, last: dict):
        keep = _degrees(und).where(F.col("deg") >= k).select("id")
        nxt = (
            und.join(keep.select(F.col("id").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("id").alias("v")), "v", "left_semi")
            .select("u", "v")
        )
        return nxt, _edge_counts(last)

    und = _peel(und, step, rounds, max_rounds, "kcore")
    deg = _degrees(und).withColumnRenamed("deg", "core_deg")
    return deg.where(F.col("core_deg") >= k)


def _degrees(und: DataFrame) -> DataFrame:
    """(id, deg) of the canonical undirected edge set."""
    return (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )


def _edge_counts(last: dict) -> dict:
    """The measure of a peeling round: its edge count, and the edges it
    removed (against the previous round's count)."""
    m = F.count(F.lit(1))
    return {"edges": m, "removed": F.lit(last["edges"]) - m}


def _peel(und: DataFrame, step, rounds: int | None, max_rounds: int,
          what: str) -> DataFrame:
    """Peel the edge set `und` round by round: `rounds=None` converges (no
    edge removed), raising past max_rounds; `rounds=R` runs exactly R
    rounds (peeling is idempotent at the fixed point)."""
    fixed = rounds is not None
    res = superstep.run(
        und.sparkSession, step, lambda: (und, {"edges": -1 if fixed else und.count()}),
        max_iter=rounds if fixed else max_rounds,
        done=None if fixed else (lambda v: v["removed"] == 0),
    )
    if not fixed and not res.converged:
        raise RuntimeError(f"{what}: no fixed point within {max_rounds} rounds")
    return res.labels


def graph_summary(edges: DataFrame, id_cols: tuple = ("src", "dst")) -> DataFrame:
    """One-row structural summary of the undirected simple graph:
    (n_vertices, n_edges, density, max_degree, avg_degree) — the header
    numbers of any graph report (A8 "graph size" generalized). One
    degree aggregation + one global aggregate; everything partial-combines.
    """
    und = _undirected(edges, id_cols)
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    return deg.agg(
        F.count("*").cast("long").alias("n_vertices"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        (
            F.sum("deg")
            / (F.count("*") * (F.count("*") - F.lit(1))).cast("double")
        ).alias("density"),
        F.max("deg").cast("long").alias("max_degree"),
        (F.sum("deg") / F.count("*").cast("double")).alias("avg_degree"),
    )


def butterflies_bipartite(
    edges: DataFrame, id_cols: tuple = ("src", "dst")
) -> DataFrame:
    """Per-right-vertex butterfly (2x2 biclique / 4-cycle) counts on a
    bipartite graph: -> (id, butterflies) for every dst-side vertex.

    Butterflies are the bipartite analog of triangles (Sanei-Mehri et
    al. 2018): triangles cannot exist across a bipartition, so this is
    the cohesion primitive for bipartite link tables. Each butterfly
    lives on exactly one right-side pair (v1 < v2) sharing k >= 2 left
    neighbors and contributes C(k,2) there; per-vertex counts sum the
    pair counts at both endpoints, and the global count is their sum/2.

    Hub-safe EXACT algorithm — vertex-priority wedge direction (the
    BFC-VP idea of Sanei-Mehri et al. 2018, extended with per-vertex
    credits): every butterfly is enumerated exactly once, at its
    HIGHEST-priority corner x (priority = (degree, vertex), a total
    order). Wedges x -> c -> w are generated only when p(c) < p(x) and
    p(w) < p(x), so a degree-d hub no longer emits C(d,2) wedge rows as
    a wedge CENTER — a wedge is enumerated from its max-priority
    endpoint, and the total wedge count is bounded by
    O(sum over edges (u,v) of min(deg u, deg v)) instead of
    O(sum of C(deg, 2)) (same bound as degree-oriented triangle
    counting). Per-vertex credits per (x, w) group with k qualifying
    common centers: x and w each join C(k,2) butterflies; every center
    joins (k-1). Semantics identical to the naive right-pair formula
    (the DuckDB oracle keeps that independent formulation).

    Left and right id spaces may overlap: vertices are tagged with a
    side bit internally and only right-side ids are emitted.
    """
    src, dst = id_cols
    e = edges.select(F.col(src).alias("lu"), F.col(dst).alias("rv")).distinct()
    ab = e.select(
        F.struct(F.lit(0).alias("s"), F.col("lu").alias("i")).alias("a"),
        F.struct(F.lit(1).alias("s"), F.col("rv").alias("i")).alias("b"),
    )
    sym = ab.union(ab.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    # priority = (deg, side, id): struct comparison is lexicographic
    prio = deg.select(
        F.col("a").alias("vtx"), F.struct(F.col("deg"), F.col("a")).alias("prio")
    )
    e1 = (
        sym.select(F.col("a").alias("x"), F.col("b").alias("c"))
        .join(prio.select(F.col("vtx").alias("x"), F.col("prio").alias("px")), "x")
        .join(prio.select(F.col("vtx").alias("c"), F.col("prio").alias("pc")), "c")
        .where(F.col("pc") < F.col("px"))
    )
    e2 = sym.select(F.col("a").alias("c"), F.col("b").alias("w")).join(
        prio.select(F.col("vtx").alias("w"), F.col("prio").alias("pw")), "w"
    )
    wedges = (
        e1.join(e2, "c")
        .where((F.col("pw") < F.col("px")) & (F.col("w") != F.col("x")))
        .select("x", "w", "c")
    )
    grp = wedges.groupBy("x", "w").agg(F.count("*").alias("k")).where(F.col("k") >= 2)
    bf_pair = (F.col("k") * (F.col("k") - 1) / 2).cast("long").alias("bf")
    endc = grp.select(F.col("x").alias("vtx"), bf_pair).union(
        grp.select(F.col("w").alias("vtx"), bf_pair)
    )
    # centers: re-join the wedge rows to their group size (co-partitioned on
    # (x, w) with the groupBy above — no extra shuffle shape)
    ctrc = (
        wedges.join(grp, ["x", "w"])
        .groupBy(F.col("c").alias("vtx"))
        .agg(F.sum(F.col("k") - 1).alias("bf"))
    )
    per_v = endc.union(ctrc).groupBy("vtx").agg(F.sum("bf").alias("butterflies"))
    verts = e.select(
        F.struct(F.lit(1).alias("s"), F.col("rv").alias("i")).alias("vtx")
    ).distinct()
    return verts.join(per_v, "vtx", "left").select(
        F.col("vtx.i").alias("id"),
        F.coalesce("butterflies", F.lit(0)).cast("long").alias("butterflies"),
    )


def degree_assortativity(
    edges: DataFrame, id_cols: tuple = ("src", "dst")
) -> DataFrame:
    """-> one row (n_edges, assortativity): Pearson correlation of the
    degrees at the two endpoints of every undirected edge
    (nx.degree_assortativity_coefficient on the simple graph).

    Shape at scale: one degree aggregation, two co-keyed joins to tag
    endpoint degrees, then a single global aggregate with map-side
    partial combine — no per-vertex state, no iteration. The correlation
    uses the symmetrized endpoint-pair multiset (each edge contributes
    (du,dv) and (dv,du)), which makes the x/y moments equal by
    construction, matching networkx.
    """
    und = _undirected(edges, id_cols).cache()
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    pairs = (
        und.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            F.col("du").cast("double").alias("x"),
            F.col("dv").cast("double").alias("y"),
        )
    )
    sym_pairs = pairs.union(pairs.select(F.col("y").alias("x"), F.col("x").alias("y")))
    return sym_pairs.agg(
        (F.count("*") / 2).cast("long").alias("n_edges"),
        F.corr("x", "y").alias("assortativity"),
    )


def _comm_key(label_col: F.Column, id_col: F.Column) -> F.Column:
    """Collision-proof community key: labeled vertices get (0, label),
    unlabeled fallback singletons get (1, own id) — structurally disjoint
    even when a vertex id equals another community's label."""
    return F.when(
        label_col.isNotNull(), F.struct(F.lit(0).alias("fb"), label_col.alias("k"))
    ).otherwise(F.struct(F.lit(1).alias("fb"), id_col.alias("k")))


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    id_cols: tuple = ("src", "dst"),
    label_cols: tuple = ("id", "label"),
) -> DataFrame:
    """-> one row (n_communities, modularity): Newman modularity
    Q = sum_c [ m_c/m - (D_c/(2m))^2 ] of a vertex partition on the
    undirected simple graph (nx.community.modularity semantics; vertices
    missing from `labels` become singleton communities). Singleton keys
    are tagged (struct(fallback_bit, value)) so an unlabeled vertex whose
    id happens to equal another community's LABEL stays a singleton
    instead of silently merging — relevant precisely because the LPA/CC
    kernels' labels ARE vertex ids. Requires a non-empty edge set
    (modularity is undefined at m=0, as in networkx).

    Shape at scale: two joins keyed on the vertex id to label edge
    endpoints, one groupBy(community), one global aggregate.
    """
    lid, lcol = label_cols
    lab = labels.select(F.col(lid).alias("id"), F.col(lcol).alias("community"))
    und = _undirected(edges, id_cols).cache()
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    m = und.count()
    if m == 0:
        raise ValueError("modularity undefined on an empty edge set")
    tagged = (
        und.join(
            lab.select(F.col("id").alias("u"), F.col("community").alias("cu")), "u", "left"
        )
        .join(
            lab.select(F.col("id").alias("v"), F.col("community").alias("cv")), "v", "left"
        )
        .select(
            _comm_key(F.col("cu"), F.col("u")).alias("cu"),
            _comm_key(F.col("cv"), F.col("v")).alias("cv"),
        )
    )
    intra = (
        tagged.where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").alias("m_c"))
    )
    deg_c = (
        deg.join(lab, "id", "left")
        .groupBy(_comm_key(F.col("community"), F.col("id")).alias("community"))
        .agg(F.sum("deg").alias("d_c"))
    )
    per_c = deg_c.join(intra, "community", "left").select(
        "community",
        (
            F.coalesce(F.col("m_c"), F.lit(0)) / F.lit(float(m))
            - (F.col("d_c") / F.lit(2.0 * m)) * (F.col("d_c") / F.lit(2.0 * m))
        ).alias("q_c"),
    )
    return per_c.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.sum("q_c").alias("modularity"),
    )


def core_numbers_distributed(
    edges: DataFrame,
    id_cols: tuple = ("src", "dst"),
    rounds: int | None = None,
    max_rounds: int = 500,
) -> DataFrame:
    """Coreness per vertex (id, core) via the H-index fixed point.

    h0 = degree; each round replaces every vertex's value with the
    H-index of its neighbors' values (max h such that >= h neighbors have
    value >= h). The sequence is monotone non-increasing and its fixed
    point is exactly core_number (Lu et al. 2016). `rounds=None`
    converges (stops when no vertex changed); `rounds=R` runs exactly R
    rounds for SQL-unrolled oracle parity (H-index iteration is
    idempotent at the fixed point; the value is an exact integer, so any
    correct H-index formulation yields the identical multiset).

    The per-round H-index uses the histogram formulation
    h(v) = max over distinct neighbor values x of min(x, |{u ~ v : h(u) >= x}|)
    rather than a per-vertex sorted window: the (vertex, value) count
    gets Spark's partial map-side combine, and the per-vertex reduce
    touches only the distinct-value histogram (<= max coreness entries),
    so a 10^8-degree hub costs its reducer O(distinct values), not an
    O(deg log deg) sort — the same two-phase shape the salted PageRank
    aggregation uses, but lossless by construction.
    """
    und = _undirected(edges, id_cols)
    sym = _sym(und).localCheckpoint(eager=True)
    fixed = rounds is not None
    w = (
        Window.partitionBy("id")
        .orderBy(F.col("nh").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def init():
        h0 = sym.groupBy(F.col("s").alias("id")).agg(F.count("*").cast("long").alias("h"))
        return h0.localCheckpoint(eager=True), {}

    def step(state: DataFrame, _r: int, _last: dict):
        hist = (
            sym.join(
                state.select(F.col("id").alias("s"), F.col("h").alias("nh")), "s"
            )
            .groupBy(F.col("d").alias("id"), "nh")
            .agg(F.count("*").alias("cnt"))
        )
        nxt = (
            hist.withColumn("cum", F.sum("cnt").over(w))
            .groupBy("id")
            .agg(F.max(F.least(F.col("nh"), F.col("cum"))).cast("long").alias("h"))
        )
        if fixed:
            return nxt, {}
        # the changed count rides the round's own job
        nxt = nxt.join(state.select("id", F.col("h").alias("ph")), "id")
        return nxt, {"changed": F.count_if(F.col("h") != F.col("ph"))}

    res = superstep.run(
        sym.sparkSession, step, init, max_iter=rounds if fixed else max_rounds,
        done=None if fixed else (lambda v: v["changed"] == 0),
        settle=lambda frame, _v: frame.select("id", "h"),
    )
    if not fixed and not res.converged:
        raise RuntimeError(f"core_numbers: no fixed point within {max_rounds} rounds")
    return res.labels.select("id", F.col("h").alias("core"))


def _edge_support(und: DataFrame) -> DataFrame:
    """(u, v, support) for every canonical undirected edge: the number of
    triangles containing it. Same degree-orientation adjacency-
    intersection as triangles_distributed (out-degrees bounded O(sqrt(m)),
    wedge rows never shuffled) but materializing one row per TRIANGLE and
    folding each into its three edges."""
    deg = (
        und.select(F.col("u").alias("id"))
        .union(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
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
    )
    adj = oriented.groupBy("s").agg(
        F.sort_array(F.collect_list("d")).alias("nbrs")
    )
    tris = (
        oriented.join(
            adj.select(F.col("s").alias("u_"), F.col("nbrs").alias("nbrs_u")),
            oriented["s"] == F.col("u_"),
        )
        .join(
            adj.select(F.col("s").alias("v_"), F.col("nbrs").alias("nbrs_v")),
            oriented["d"] == F.col("v_"),
            "left",
        )
        .select(
            "s",
            "d",
            F.explode(
                F.expr(
                    "array_intersect(nbrs_u, coalesce(nbrs_v, slice(nbrs_u, 1, 0)))"
                )
            ).alias("w"),
        )
    )
    edge3 = (
        tris.select(F.least("s", "d").alias("eu"), F.greatest("s", "d").alias("ev"))
        .union(
            tris.select(
                F.least("s", "w").alias("eu"), F.greatest("s", "w").alias("ev")
            )
        )
        .union(
            tris.select(
                F.least("d", "w").alias("eu"), F.greatest("d", "w").alias("ev")
            )
        )
    )
    sup = edge3.groupBy("eu", "ev").agg(F.count("*").alias("support"))
    return und.join(
        sup,
        (und["u"] == sup["eu"]) & (und["v"] == sup["ev"]),
        "left",
    ).select(
        "u", "v", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )


def ktruss_distributed(
    edges: DataFrame,
    k: int,
    id_cols: tuple = ("src", "dst"),
    max_rounds: int = 100,
) -> DataFrame:
    """Edges of the k-truss (u, v, support) — the maximal subgraph where
    every edge is in >= k-2 triangles (nx.k_truss edge set; support
    reported is the support INSIDE the truss at the fixed point).

    Iterative peeling like kcore_distributed: recompute per-edge triangle
    support on the surviving subgraph, drop edges under threshold, repeat
    to a fixed point. Full recomputation per round keeps each round one
    bounded dataflow (the decremental-update alternative needs per-edge
    triangle lists in state — O(sum support) rows carried between rounds);
    round count is the peel depth, typically small, and each round reuses
    the skew-safe oriented-intersection support kernel.
    """
    if k < 2:
        raise ValueError(f"ktruss: k must be >= 2, got {k}")
    thresh = k - 2
    und = _undirected(edges, id_cols).localCheckpoint(eager=True)

    def step(und: DataFrame, _r: int, last: dict):
        nxt = _edge_support(und).where(F.col("support") >= thresh).select("u", "v")
        return nxt, _edge_counts(last)

    return _edge_support(_peel(und, step, None, max_rounds, "ktruss"))


def conductance(
    edges: DataFrame,
    labels: DataFrame,
    id_cols: tuple = ("src", "dst"),
) -> DataFrame:
    """Per-community conductance over the undirected simple projection:
    phi(C) = cut(C) / min(vol(C), 2m - vol(C)) — the standard community
    quality score alongside modularity (lower = better-separated).
    labels: (id, label); unlabeled endpoints raise (a silent drop would
    understate cuts). -> (label, n_vertices, cut, volume, conductance);
    communities spanning the whole volume get NULL conductance (the
    denominator min(vol, 2m-vol) is 0 — conductance is undefined there).

    One labels join per endpoint (co-partitioned equi-joins) + two
    aggregations; nothing quadratic, no Python.
    """
    und = _undirected(edges, id_cols)
    lu = labels.select(F.col("id").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("id").alias("v"), F.col("label").alias("lv"))
    # the guard lives INSIDE the kept columns: a separate assert_true
    # column gets pruned by Catalyst (same pitfall pack_sequences
    # documents); raise_error only evaluates on the NULL branch
    def _guarded(c):
        return F.when(
            F.col("lu").isNotNull() & F.col("lv").isNotNull(), F.col(c)
        ).otherwise(
            F.raise_error(F.lit("conductance: unlabeled edge endpoint"))
        )

    tagged = (
        und.join(lu, "u", "left")
        .join(lv, "v", "left")
        .select(_guarded("lu").alias("lu"), _guarded("lv").alias("lv"))
    )
    m2 = tagged.count() * 2  # 2m = total volume
    # volume: degree mass per label (each edge adds 1 to both endpoints'
    # labels — same label twice for internal edges)
    vol = (
        tagged.select(F.col("lu").alias("label"))
        .unionByName(tagged.select(F.col("lv").alias("label")))
        .groupBy("label")
        .agg(F.count("*").alias("volume"))
    )
    cut = (
        tagged.where(F.col("lu") != F.col("lv"))
        .select(F.explode(F.array("lu", "lv")).alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("cut"))
    )
    nv = labels.groupBy("label").agg(F.count("*").alias("n_vertices"))
    return (
        nv.join(vol, "label", "left")
        .join(cut, "label", "left")
        .select(
            "label",
            "n_vertices",
            F.coalesce(F.col("cut"), F.lit(0)).alias("cut"),
            F.coalesce(F.col("volume"), F.lit(0)).alias("volume"),
            F.when(
                F.least(
                    F.coalesce(F.col("volume"), F.lit(0)),
                    F.lit(m2) - F.coalesce(F.col("volume"), F.lit(0)),
                )
                > 0,
                F.coalesce(F.col("cut"), F.lit(0)).cast("double")
                / F.least(
                    F.coalesce(F.col("volume"), F.lit(0)),
                    F.lit(m2) - F.coalesce(F.col("volume"), F.lit(0)),
                ),
            ).alias("conductance"),
        )
    )
