"""PageRank kernels (networkx-equivalent semantics, allclose 1e-6).

Semantics matched exactly to the reference's single call site
(nx.pagerank, /root/reference/textcrafts/deepRank.py:535; library defaults
alpha=0.85, tol=1e-6, max_iter=100):

- right-stochastic transition (contribution = rank/out_degree)
- dangling mass redistributed along the personalization vector
- x0 uniform; personalization restricted to graph nodes, renormalized
- L1 convergence: sum(|x' - x|) < N * tol; failure to converge raises

Two physical strategies for one logical kernel:

1. `pagerank_per_conv` — the 10^12-turn fast path. Conversations are
   independent graphs, so ONE shuffle (the conv_id repartition of the
   shared per-conversation runner, operators/per_conv.py) moves each graph
   to one task, and the whole power iteration runs in numpy inside
   mapInPandas (Arrow batches, vectorized bincount gather-scatter =
   CSR-style SpMV; no per-row Python). 10^10 conversations stream through
   as ordinary partitions — no supersteps, no driver round-trips.
   Personalized ranks take a cogroup of edges and personalization rows.

2. `pagerank_distributed` — for one giant graph (cross-conversation link
   graph) that cannot sit in a single task: driver-side superstep loop over
   a DataFrame SpMV (join + partial-agg), optional explicit salting for
   hub-vertex fan-in on top of AQE skew handling, per-superstep
   localCheckpoint to truncate lineage, optional durable checkpoints with a
   per-partition lineage table, and resume from the latest complete
   superstep.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField

from . import superstep
from .per_conv import per_conv_map, per_conv_schema
from .superstep import pinned_plan

_RANK = [StructField("rank", DoubleType(), False)]


def _dedup_pairs(src_idx: np.ndarray, dst_idx: np.ndarray, n: int):
    """DiGraph semantics: parallel edges collapse. Accepting multi-edges
    here lets callers feed the raw edge cascade straight into the kernel's
    conv_id shuffle — the per-conv dedup is a local np.unique instead of a
    full distinct shuffle over the corpus-wide edge table. Also pins the
    bincount summation order to sorted (src, dst), independent of shuffle
    arrival order."""
    pairs = src_idx.astype(np.int64) * n + dst_idx.astype(np.int64)
    uniq = np.unique(pairs)
    return uniq // n, uniq % n


def _power_iteration(
    src_idx: np.ndarray,
    dst_idx: np.ndarray,
    n: int,
    p: np.ndarray,
    alpha: float,
    tol: float,
    max_iter: int,
) -> np.ndarray:
    src_idx, dst_idx = _dedup_pairs(src_idx, dst_idx, n)
    outdeg = np.bincount(src_idx, minlength=n).astype(np.float64)
    dangling = outdeg == 0.0
    safe_deg = np.where(dangling, 1.0, outdeg)
    x = np.full(n, 1.0 / n, dtype=np.float64)
    for _ in range(max_iter):
        xlast = x
        contrib = np.bincount(
            dst_idx, weights=xlast[src_idx] / safe_deg[src_idx], minlength=n
        )
        dm = xlast[dangling].sum()
        x = alpha * (contrib + dm * p) + (1.0 - alpha) * p
        if np.abs(x - xlast).sum() < n * tol:
            return x
    raise RuntimeError(f"pagerank failed to converge in {max_iter} iterations")


def _conv_pagerank_pdf(
    edges_pdf: pd.DataFrame,
    pers_pdf: pd.DataFrame | None,
    alpha: float,
    tol: float,
    max_iter: int,
) -> pd.DataFrame:
    if len(edges_pdf) == 0:
        return pd.DataFrame({"conv_id": [], "kind": [], "key": [], "rank": []})
    conv = edges_pdf["conv_id"].iloc[0]
    skey = edges_pdf["src_kind"].astype(str) + edges_pdf["src"].astype(str)
    dkey = edges_pdf["dst_kind"].astype(str) + edges_pdf["dst"].astype(str)
    nodes, inv = np.unique(
        np.concatenate([skey.to_numpy(), dkey.to_numpy()]), return_inverse=True
    )
    m = len(edges_pdf)
    src_idx, dst_idx = inv[:m], inv[m:]
    n = len(nodes)

    p = np.full(n, 1.0 / n, dtype=np.float64)
    if pers_pdf is not None and len(pers_pdf) > 0:
        pk = (pers_pdf["kind"].astype(str) + pers_pdf["key"].astype(str)).to_numpy()
        pos = np.searchsorted(nodes, pk)
        ok = (pos < n) & (nodes[np.minimum(pos, n - 1)] == pk)
        w = pers_pdf["weight"].to_numpy(dtype=np.float64)
        pv = np.zeros(n, dtype=np.float64)
        np.add.at(pv, pos[ok], w[ok])
        if pv.sum() > 0:
            p = pv / pv.sum()

    x = _power_iteration(src_idx, dst_idx, n, p, alpha, tol, max_iter)
    kinds = np.array([s[0] for s in nodes])
    keys = np.array([s[1:] for s in nodes])
    return pd.DataFrame(
        {"conv_id": conv, "kind": kinds, "key": keys, "rank": x}
    )


def pagerank_per_conv(
    gedges: DataFrame,
    pers: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1.0e-6,
    max_iter: int = 100,
) -> DataFrame:
    """ranks(conv_id, kind, key, rank) for every conversation graph.

    gedges: (conv_id, src_kind, src, dst_kind, dst) edge pairs — duplicates
    allowed (DiGraph collapse happens inside the kernel via a per-conv
    np.unique, so callers can feed the raw multi-edge cascade without
    paying a corpus-wide distinct shuffle first).
    pers:   optional (conv_id, kind, key, weight) personalization rows.

    Without pers the power iteration runs in the shared per-conversation
    runner (operators/per_conv.py: one conv_id repartition, mapInPandas).
    With pers it runs in a cogroup of the edges and the personalization
    rows, per conversation; both paths index nodes the same way and run
    the same float schedule."""
    if pers is None:

        def kernel(src_idx, dst_idx, n, _nodes):
            p = np.full(n, 1.0 / n, dtype=np.float64)
            return (_power_iteration(src_idx, dst_idx, n, p, alpha, tol, max_iter),)

        return per_conv_map(gedges, kernel, _RANK)

    def run(_key, edges_pdf: pd.DataFrame, pers_pdf: pd.DataFrame) -> pd.DataFrame:
        return _conv_pagerank_pdf(edges_pdf, pers_pdf, alpha, tol, max_iter)

    return (
        gedges.groupBy("conv_id")
        .cogroup(pers.groupBy("conv_id"))
        .applyInPandas(run, per_conv_schema(_RANK))
    )


# ---------------------------------------------------------------------------
# Distributed superstep kernel (single giant graph)
# ---------------------------------------------------------------------------


class PageRankRun:
    """Result handle: final ranks + iteration metrics."""

    def __init__(self, ranks: DataFrame, supersteps: int, deltas: list,
                 wall_s: float, converged: bool):
        self.ranks = ranks
        self.supersteps = supersteps
        self.deltas = deltas
        self.wall_s = wall_s
        self.converged = converged


def pagerank_distributed(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    id_cols: tuple = ("src", "dst"),
    alpha: float = 0.85,
    tol: float = 1.0e-6,
    max_iter: int = 100,
    pers: DataFrame | None = None,
    salt_buckets: int = 0,
    checkpoint_dir: str | None = None,
    run_id: str = "pr",
    checkpoint_interval: int = 8,
    resume: bool = False,
    num_partitions: int | None = None,
    verbose: bool = False,
    weight_col: str | None = None,
) -> PageRankRun:
    """Superstep SpMV PageRank on one (possibly giant) graph.

    edges: DataFrame with long/str columns id_cols=(src, dst); multi-edges
    should be pre-deduped by the caller for DiGraph semantics.
    pers: optional (id, weight).
    weight_col: optional POSITIVE edge-weight column — nx weighted
    semantics (contribution rank*w / sum of out-weights, the stochastic
    normalization nx.pagerank's weight= applies). One divergence,
    documented: a vertex whose out-weights sum to 0 is treated as
    DANGLING (nx propagates nan); weights must be >= 0. When None the
    plan is expression-identical to the unweighted kernel (count-based
    degree), so the flagship path is untouched.

    Scale design: ONE Spark job with ONE exchange per superstep. The call
    runs under one fixed plan (superstep.pinned_plan: AQE and broadcast
    joins off, P shuffle partitions). The state (id, rank, p, dangling)
    stays hash-partitioned on id and sorted within partitions through its
    eager localCheckpoint; `edges_deg` (edges with the source's
    out-degree) is materialized once, hash-partitioned and sorted on src,
    as a local checkpoint too. The gather
    join is therefore a sort-merge join with no exchange and no sort on
    either side. Contributions aggregate with Spark's partial (map-side)
    aggregation into the one exchange, on dst, whose output joins the
    co-partitioned state without another. (Under the session defaults
    the gather join was instead a broadcast of the whole cached edge
    table every superstep, and AQE re-shuffled the checkpointed state.)
    `salt_buckets > 0` adds an explicit two-phase (dst, salt)->dst
    aggregation for power-law fan-in hubs, a second exchange. The (L1
    delta, dangling mass) read rides the state checkpoint as observed
    metrics. Set-up is two jobs: one aggregation yields every vertex with
    its out-degree and personalization weight and observes n, m, the
    dangling count and the personalization total (so the initial
    dangling mass needs no job); one job materializes `edges_deg`.

    `checkpoint_dir` makes state durable every `checkpoint_interval`
    supersteps plus a per-partition lineage table; durable state is
    exactly (id, rank). `resume=True` restarts from the latest complete
    superstep, taking its dangling mass from the _DONE marker, and
    reproduces the identical final state (same floating-point schedule).
    NOT re-entrant on a shared SparkSession (see pinned_plan).
    """
    spark = edges.sparkSession
    src, dst = id_cols
    weighted = weight_col is not None
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        *([F.col(weight_col).cast("double").alias("w")] if weighted else []),
    )

    # One row per edge end, vertex row and personalization row: k counts
    # out-edges, d sums the out-degree (k, or the out-weight: an all-zero
    # out-weight vertex is dangling, see doc), v marks a vertex, pw sums
    # the personalization weight.
    zero_d = F.lit(0.0) if weighted else F.lit(0)
    isv = F.lit(vertices is None)
    ends = e.select(
        F.col("src").alias("id"),
        F.lit(1).alias("k"),
        (F.col("w") if weighted else F.lit(1)).alias("d"),
        isv.alias("v"),
        F.lit(0.0).alias("pw"),
    ).union(e.select("dst", F.lit(0), zero_d, isv, F.lit(0.0)))
    if vertices is not None:
        ends = ends.union(
            vertices.select("id", F.lit(0), zero_d, F.lit(True), F.lit(0.0))
        )
    if pers is not None:
        ends = ends.union(pers.select(
            "id", F.lit(0), zero_d, F.lit(False), F.col("weight").cast("double")
        ))
    dangling = ~F.coalesce(F.col("deg") > 0, F.lit(False))

    # Partition count scales with graph size (at 10^12 edges the caller sets
    # it explicitly; small graphs shouldn't pay 100-task supersteps). P
    # follows EDGES as well as vertices: the gather join and the
    # contribution shuffle move one row per edge, so a dense graph (sf0.1
    # bipartite: 16k vertices / 587k edges) was running P=4 supersteps on
    # a 32-core host. Interleaved min-of-3 on that graph: P=4 8.78 s,
    # P=8 8.41 s, edge-derived auto P=9 8.57 s, P=32 WORSE at 12.7 s —
    # per-task overhead dominates at this size, so the cap stays. n and m
    # are observed by the set-up aggregation, which runs at the session's
    # partition count; base is re-partitioned only when P differs.
    P0 = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    with pinned_plan(spark, P0):
        setup = Observation(f"pr_setup_{run_id}")
        vdeg = (
            ends.groupBy("id")
            .agg(
                F.sum("d").alias("deg"),
                F.sum("k").alias("k"),
                F.max("v").alias("v"),
                F.sum("pw").alias("pw"),
            )
            .observe(
                setup,
                F.count_if("v").alias("n"),
                F.count_if(F.col("v") & dangling).alias("n_dangling"),
                F.sum("k").alias("m"),
                F.sum(F.when(F.col("v"), F.col("pw"))).alias("ptot"),
            )
        )
        if vertices is not None or pers is not None:
            vdeg = vdeg.where("v")
        vdeg = vdeg.select("id", "deg", "pw").localCheckpoint(eager=True)
        stats = setup.get
        n = int(stats["n"])
        if n == 0:
            return PageRankRun(
                vdeg.select("id", F.lit(0.0).alias("rank")), 0, [], 0.0, True
            )
        P = num_partitions or max(
            4, min(P0, max(n // 50_000, int(stats["m"]) // 100_000) + 4)
        )

        # personalization vector (restricted to vertices, renormalized)
        ptot = float(stats["ptot"] or 0.0)
        p = F.col("pw") / F.lit(ptot) if ptot > 0 else F.lit(1.0 / n)
        base = vdeg.select("id", p.alias("p"), dangling.alias("dangling"), "deg")
        if P != P0:
            spark.conf.set("spark.sql.shuffle.partitions", str(P))
            base = base.repartition(P, "id")

        # The second set-up job. A local checkpoint, not a cache: the state
        # shares `base`'s attributes, so a join of the two plans is a
        # self-join whose de-duplication re-instances the right side — a
        # cached plan then no longer matches and every superstep would
        # recompute the edge join. A checkpoint is a leaf with its own
        # (renamed e_*) attributes; it keeps the hash partitioning and the
        # src sort order of the join that built it.
        edges_deg = (
            e.join(base.where(~F.col("dangling")).select(F.col("id").alias("src"), "deg"), "src")
            .select(
                F.col("src").alias("e_src"),
                F.col("dst").alias("e_dst"),
                F.col("deg").cast("double").alias("e_deg"),
                *([F.col("w").alias("e_w")] if weighted else []),
            )
            .localCheckpoint(eager=True)
        )

        def with_base(ranks: DataFrame) -> DataFrame:
            return ranks.repartition(P, "id").join(
                base.select("id", "p", "dangling"), "id"
            )

        if weighted:
            contrib = F.col("rank") * F.col("e_w") / F.col("e_deg")
        else:
            contrib = F.col("rank") / F.col("e_deg")

        def step(state: DataFrame, _r: int, last: dict):
            gathered = state.join(edges_deg, F.col("id") == F.col("e_src"))
            c = contrib
            if salt_buckets > 1:
                # explicit two-phase aggregation: pre-aggregate hub fan-in
                # on (dst, hash(src) % B) before the final per-dst combine,
                # so a power-law hub's contributions spread over B reducers.
                gathered = gathered.groupBy(
                    "e_dst",
                    F.pmod(F.xxhash64("e_src"), F.lit(salt_buckets)).alias("salt"),
                ).agg(F.sum(c).alias("c"))
                c = F.col("c")
            summed = gathered.groupBy(F.col("e_dst").alias("id")).agg(
                F.sum(c).alias("c")
            )
            dm = F.lit(float(last["dangling_mass"] or 0.0))
            nxt = state.join(summed, "id", "left").select(
                "id",
                (
                    F.lit(alpha) * (F.coalesce(F.col("c"), F.lit(0.0)) + dm * F.col("p"))
                    + F.lit(1.0 - alpha) * F.col("p")
                ).alias("rank"),
                "p",
                "dangling",
                F.col("rank").alias("prev"),
            )
            return nxt, {
                "l1_delta": F.sum(F.abs(F.col("rank") - F.col("prev"))),
                "dangling_mass": F.sum(
                    F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)
                ),
            }

        def settle(state: DataFrame, v: dict) -> DataFrame:
            if verbose:
                print(f"[pagerank] l1={v['l1_delta']:.3e}", flush=True)
            return state

        # Each superstep is the loop's eager localCheckpoint of the new
        # state — ONE job, with the (L1 delta, dangling mass) read riding
        # it as observed metrics — and every checkpoint_interval supersteps
        # the state round-trips through parquet. The durable form is
        # exactly (id, rank), rejoined with `base` on the way back in; its
        # marker carries the dangling mass, which is all a resumed
        # superstep needs besides the ranks.
        res = superstep.run(
            spark, step,
            lambda: (
                base.select("id", F.lit(1.0 / n).alias("rank"), "p", "dangling"),
                # every vertex starts at 1/n
                {"dangling_mass": int(stats["n_dangling"]) / n},
            ),
            max_iter=max_iter, done=lambda v: tol > 0 and v["l1_delta"] < n * tol,
            settle=settle, save=lambda s: s.select("id", "rank"), load=with_base,
            interval=checkpoint_interval, checkpoint_dir=checkpoint_dir,
            run_id=run_id, resume=resume,
        )

    # fixed-iteration mode (tol=0): exactly max_iter supersteps, a
    # deterministic superstep count (what a SQL-unrolled differential
    # oracle needs)
    converged = res.converged or tol <= 0
    if not converged:
        raise RuntimeError(f"pagerank_distributed: no convergence in {max_iter} supersteps")
    return PageRankRun(
        res.labels.select("id", "rank"), res.rounds, res.metrics, res.wall_s, converged
    )
