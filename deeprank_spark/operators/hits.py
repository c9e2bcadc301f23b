"""HITS (hubs & authorities, Kleinberg 1999) and eigenvector centrality —
the distributed power-iteration kernels beyond PageRank (north-rule
link-analysis family, companions to pagerank.py; the reference ranks
vertices with nx.pagerank only, deepRank.py:535 — both are
beyond-reference additions in the same "rank nodes of the text graph"
role, e.g. customers-as-hubs / suppliers-as-authorities on the bipartite
transcript projection).

Semantics mirror networkx `_hits_python` (hits_alg.py) exactly, so the
pytest differential can compare to the library float-for-float:

  h0 = 1/n for every vertex
  each iteration:
    a_raw(v) = sum_{u->v} h(u)          (previous, max-normalized h)
    h_raw(u) = sum_{u->v} a_raw(v)      (the UNnormalized a — nx detail)
    a = a_raw / max(a_raw);  h = h_raw / max(h_raw)
    err = sum_v |h(v) - h_prev(v)|; stop when err < tol (raw tol — nx's
    _hits_python does NOT scale by n, unlike pagerank)
  finally a /= sum(a), h /= sum(h)

Directed simple-graph semantics (parallel edges pre-deduped by the
caller, weight 1); self-loops count like nx. One divergence from nx,
documented: an edgeless graph returns hub=auth=0.0 rows instead of
raising ZeroDivisionError.

Scale design (same shape as pagerank_distributed): TWO cached copies of
the edge list, hash-partitioned on src and on dst respectively, so both
gathers of every superstep join co-partitioned; both aggregations get
Spark's partial (map-side) combine plus optional explicit (key, salt)
two-phase aggregation for power-law hubs. A superstep carries hub only:
the a-gather feeds just the h-gather, so the plan is one chain of two
gather exchanges, and the RAW h sums land in one eager localCheckpoint
with the max-normalizer riding that job as an observed metric. auth is
the a-gather of the previous hub, recomputed only where it is read (a
durable write, the end). The normalized state is a lazy map-only
projection of the checkpointed frame. Fixed-iteration mode (tol=0) is
ONE driver action per superstep; convergence mode adds one shuffle-free
scan of the materialized blocks for the L1 error, which needs the
normalizer that same job observes. Both kernels are steps of the shared
superstep loop (operators/superstep.py): durable checkpoints, lineage and
bitwise resume, like every other iterative kernel here.

`hits_per_conv` runs the same schedule on every conversation graph in
numpy, through the shared per-conversation runner (operators/per_conv.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField

from . import superstep
from .per_conv import per_conv_map
from .superstep import KernelRun, pinned_plan


_HUB_AUTH = [
    StructField("hub", DoubleType(), False),
    StructField("auth", DoubleType(), False),
]


def _sum_normalized(state: DataFrame) -> DataFrame:
    sums = F.broadcast(
        state.agg(F.sum("hub").alias("hsum"), F.sum("auth").alias("asum"))
    )
    return state.crossJoin(sums).select(
        "id",
        (F.col("hub") / F.col("hsum")).alias("hub"),
        (F.col("auth") / F.col("asum")).alias("auth"),
    )


def hits_distributed(
    edges: DataFrame,
    id_cols: tuple = ("src", "dst"),
    max_iter: int = 100,
    tol: float = 1.0e-8,
    num_partitions: int | None = None,
    salt_buckets: int = 0,
    checkpoint_dir: str | None = None,
    run_id: str = "hits",
    checkpoint_interval: int = 10,
    resume: bool = False,
    return_run: bool = False,
) -> DataFrame:
    """-> (id, hub, auth), both sum-normalized at the end (nx semantics).

    tol=0 runs EXACTLY max_iter supersteps (deterministic schedule — what
    the unrolled DuckDB oracle mirrors); tol>0 stops at err < tol like
    nx._hits_python and raises on non-convergence.
    """
    spark = edges.sparkSession
    src, dst = id_cols
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))

    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )

    default_P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if num_partitions:
        P = num_partitions
    else:
        m = e.count()
        P = max(4, min(default_P, m // 100_000 + 4))
    with pinned_plan(spark, P):
        # two partitionings of the same edge list: the h->a gather joins on
        # src, the a->h gather joins on dst. Renamed columns for the same
        # self-join-ambiguity reason as pagerank's edges_deg. Each copy is
        # cached sorted on its join key, so the sort-merge gathers sort only
        # the vertex side.
        e_by_src = (
            e.select(F.col("src").alias("es"), F.col("dst").alias("ed"))
            .repartition(P, "es")
            .sortWithinPartitions("es")
            .persist()
        )
        e_by_dst = (
            e.select(F.col("src").alias("fs"), F.col("dst").alias("fd"))
            .repartition(P, "fd")
            .sortWithinPartitions("fd")
            .persist()
        )
        base = verts.repartition(P, "id").persist()
        try:
            m_edges = e_by_src.count()
            e_by_dst.count()
            n = base.count()
            if n == 0 or m_edges == 0:
                # nx raises ZeroDivisionError on an edgeless graph; returning
                # the all-zero fixpoint is the documented divergence (tested)
                state = base.select(
                    "id", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
                ).localCheckpoint(eager=True)
                return KernelRun(state, 0, [], 0.0, True).finish(state, return_run)

            def a_gather(frame: DataFrame) -> DataFrame:
                """(id, av): a_raw(v) = sum_{u->v} hub(u), one exchange."""
                c = (
                    frame.select(F.col("id").alias("hid"), "hub")
                    .join(e_by_src, F.col("hid") == F.col("es"))
                    .select(F.col("ed").alias("id"), F.col("hub").alias("c"), F.col("es").alias("okey"))
                )
                if salt_buckets > 1:
                    c = (
                        c.withColumn(
                            "salt", F.pmod(F.xxhash64("okey"), F.lit(salt_buckets))
                        )
                        .groupBy("id", "salt")
                        .agg(F.sum("c").alias("c"))
                    )
                return c.groupBy("id").agg(F.sum("c").alias("av"))

            # the state the current hubs were gathered from
            auth_src = None

            def with_auth(hubs: DataFrame) -> DataFrame:
                """(id, hub, auth) for a state whose auth is the a-gather of
                `auth_src`'s hub, max-normalized: one more gather job, paid
                at a durable write and at the end, never per superstep. A
                state read back from disk carries its auth already."""
                if "auth" in hubs.columns:
                    return hubs
                obs = Observation()
                ja = (
                    hubs.join(a_gather(auth_src), "id", "left")
                    .select("id", "hub", F.coalesce(F.col("av"), F.lit(0.0)).alias("av"))
                    .observe(obs, F.max(F.col("av")).alias("amax"))
                    .localCheckpoint(eager=True)
                )
                amax = float(obs.get["amax"])
                return ja.select("id", "hub", (F.col("av") / F.lit(amax)).alias("auth"))

            def step(state: DataFrame, _r: int, _last: dict):
                # The superstep carries hub only. a_raw feeds just the
                # h-gather (h uses the UNnormalized a, the nx detail), so the
                # plan is one chain of two gathers. Producing auth in the same
                # job would use a_raw twice, and Spark plans (and runs) the
                # a-gather exchange once per use. auth_k is the a-gather of
                # hub_{k-1}, so with_auth recomputes it only when it is read.
                # The h-gather groups on the SOURCE id: its fan-in per key is
                # that source's out-degree, which degree-capped link graphs
                # bound; the in-degree hub skew salting targets lives in the
                # a-gather, so only that one pays the two-phase pass
                # (measured: salting both made the salted variant strictly
                # slower on an in-hub graph — the second pass bought nothing)
                nonlocal auth_src
                auth_src = state
                hraw = (
                    a_gather(state)
                    .select(F.col("id").alias("aid"), "av")
                    .join(e_by_dst, F.col("aid") == F.col("fd"))
                    .select(F.col("fs").alias("id"), F.col("av").alias("c"))
                    .groupBy("id")
                    .agg(F.sum("c").alias("hv"))
                )
                # the raw h sums land in the loop's eager checkpoint with the
                # max-normalizer riding it as an observed metric (a separate
                # scalar aggregate would replay both gathers)
                joined = base.join(hraw, "id", "left")
                if tol > 0:
                    # the L1 stop criterion needs last round's hub alongside
                    # this round's raw sums; fixed-iteration mode skips both
                    # the join and the error scan
                    joined = joined.join(
                        state.select("id", F.col("hub").alias("prev_hub")), "id"
                    )
                cols = [
                    F.col("id"),
                    F.coalesce(F.col("hv"), F.lit(0.0)).alias("hv"),
                ] + ([F.col("prev_hub")] if tol > 0 else [])
                return joined.select(*cols), {"hmax": F.max(F.col("hv"))}

            def settle(hs: DataFrame, values: dict) -> DataFrame:
                # the normalized state is a lazy map-only SELECT over the
                # checkpointed frame; the L1 error is a second scan of the
                # SAME materialized blocks (no shuffle)
                hmax = F.lit(float(values["hmax"]))
                if tol > 0:
                    values["l1_delta"] = float(
                        hs.agg(
                            F.sum(F.abs(F.col("hv") / hmax - F.col("prev_hub")))
                        ).first()[0]
                    )
                return hs.select("id", (F.col("hv") / hmax).alias("hub"))

            # the markers record LOOP convergence (tol>0 fixpoint) only: a
            # tol=0 fixed-iteration run must stay resumable to a larger
            # max_iter, so its markers never say converged
            res = superstep.run(
                spark, step,
                lambda: (base.select(
                    "id", F.lit(1.0 / n).alias("hub"), F.lit(0.0).alias("auth")
                ).localCheckpoint(eager=True), {}),
                max_iter=max_iter, done=lambda v: tol > 0 and v["l1_delta"] < tol,
                settle=settle, save=with_auth, load=lambda s: s.repartition(P, "id"),
                interval=checkpoint_interval, checkpoint_dir=checkpoint_dir,
                run_id=run_id, resume=resume,
            )
            state = with_auth(res.labels)
        finally:
            e_by_src.unpersist()
            e_by_dst.unpersist()
            base.unpersist()

    if tol <= 0:
        res.converged = True
    if not res.converged:
        raise RuntimeError(
            f"hits_distributed: no convergence in {max_iter} supersteps "
            f"(last l1={res.last.get('l1_delta')})"
        )
    return res.finish(_sum_normalized(state), return_run)


def hits_per_conv(gedges: DataFrame, max_iter: int = 100, tol: float = 1.0e-8) -> DataFrame:
    """(conv_id, kind, key, hub, auth) for every conversation graph —
    the per-conversation twin of hits_distributed, through the shared
    per-conversation runner (operators/per_conv.py: ONE conv_id shuffle,
    the whole power iteration vectorized in numpy per conversation).
    Directed simple projection (parallel edges collapsed); the nx
    schedule (a conversation always has an edge, so hits_distributed's
    edgeless all-zero divergence cannot arise here). tol=0 runs
    exactly max_iter iterations; tol>0 raises (inside the task, so the
    action fails, naming the conversation) when any conversation has not
    converged by max_iter."""

    def kernel(src_idx, dst_idx, n, _nodes):
        pairs = np.unique(src_idx.astype(np.int64) * n + dst_idx.astype(np.int64))
        s_idx, d_idx = pairs // n, pairs % n
        h = np.full(n, 1.0 / n, dtype=np.float64)
        a = np.zeros(n, dtype=np.float64)
        for _ in range(max_iter):
            hlast = h
            a = np.bincount(d_idx, weights=hlast[s_idx], minlength=n)
            h = np.bincount(s_idx, weights=a[d_idx], minlength=n)
            h = h / h.max()
            a = a / a.max()
            if tol > 0 and np.abs(h - hlast).sum() < tol:
                break
        else:
            if tol > 0:  # nx and hits_distributed raise too
                raise RuntimeError(
                    f"hits_per_conv: no convergence in {max_iter} iterations"
                )
        return h / h.sum(), a / a.sum()

    return per_conv_map(gedges, kernel, _HUB_AUTH)


def eigenvector_distributed(
    edges: DataFrame,
    id_cols: tuple = ("src", "dst"),
    max_iter: int = 100,
    tol: float = 1.0e-6,
    num_partitions: int | None = None,
    salt_buckets: int = 0,
    checkpoint_dir: str | None = None,
    run_id: str = "eig",
    checkpoint_interval: int = 10,
    resume: bool = False,
    return_run: bool = False,
) -> DataFrame:
    """Eigenvector centrality -> (id, centrality), nx semantics
    (nx.eigenvector_centrality: power iteration on A^T + I — the +I makes
    it converge on bipartite structures — L2 normalization per step, L1
    stop err < n*tol, raise on non-convergence; directed graphs give the
    LEFT eigenvector, i.e. centrality flows along edge direction like
    nx's successor loop). Start vector: uniform 1/n.

    Same scale shape as hits_distributed: one co-partitioned gather per
    superstep, the sum-of-squares normalizer rides the eager state
    checkpoint as an observed metric, the L1 error is one shuffle-free
    scan of the materialized blocks, durable checkpoint/lineage/resume
    via the shared superstep protocol. One documented float divergence
    from nx: the norm is sqrt(sum(x^2)) (pairwise partial aggregation)
    where nx uses math.hypot's compensated accumulation — differences
    land far below the convergence tolerance (pinned by the nx
    differential test at 1e-8).
    """
    spark = edges.sparkSession
    src, dst = id_cols
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    default_P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if num_partitions:
        P = num_partitions
    else:
        m = e.count()
        P = max(4, min(default_P, m // 100_000 + 4))
    with pinned_plan(spark, P):
        e_by_src = (
            e.select(F.col("src").alias("es"), F.col("dst").alias("ed"))
            .repartition(P, "es")
            .sortWithinPartitions("es")
            .persist()
        )
        base = verts.repartition(P, "id").persist()
        try:
            e_by_src.count()
            n = base.count()
            if n == 0:
                out = base.select("id", F.lit(0.0).alias("centrality"))
                return KernelRun(out, 0, [], 0.0, True).finish(out, return_run)

            def step(state: DataFrame, _r: int, _last: dict):
                contrib = (
                    state.select(F.col("id").alias("sid"), "x")
                    .join(e_by_src, F.col("sid") == F.col("es"))
                    .select(F.col("ed").alias("id"), F.col("x").alias("c"), F.col("es").alias("okey"))
                )
                if salt_buckets > 1:
                    contrib = (
                        contrib.withColumn(
                            "salt", F.pmod(F.xxhash64("okey"), F.lit(salt_buckets))
                        )
                        .groupBy("id", "salt")
                        .agg(F.sum("c").alias("c"))
                    )
                summed = contrib.groupBy("id").agg(F.sum("c").alias("c"))
                raw = (
                    base.join(summed, "id", "left")
                    .join(state.select("id", F.col("x").alias("prev")), "id")
                    .select(
                        "id",
                        (F.col("prev") + F.coalesce(F.col("c"), F.lit(0.0))).alias(
                            "raw"
                        ),
                        "prev",
                    )
                )
                return raw, {"ss": F.sum(F.col("raw") * F.col("raw"))}

            def settle(raw: DataFrame, values: dict) -> DataFrame:
                norm = F.lit(float(values["ss"]) ** 0.5 or 1.0)
                values["l1_delta"] = float(
                    raw.agg(F.sum(F.abs(F.col("raw") / norm - F.col("prev")))).first()[0]
                )
                return raw.select("id", (F.col("raw") / norm).alias("x"))

            res = superstep.run(
                spark, step,
                lambda: (base.select("id", F.lit(1.0 / n).alias("x")).localCheckpoint(
                    eager=True
                ), {}),
                max_iter=max_iter, done=lambda v: v["l1_delta"] < n * tol,
                settle=settle, load=lambda s: s.repartition(P, "id"),
                interval=checkpoint_interval, checkpoint_dir=checkpoint_dir,
                run_id=run_id, resume=resume,
            )
        finally:
            e_by_src.unpersist()
            base.unpersist()
    if not res.converged:
        raise RuntimeError(
            f"eigenvector_distributed: no convergence in {max_iter} supersteps "
            f"(last l1={res.last.get('l1_delta')})"
        )
    return res.finish(res.labels.select("id", F.col("x").alias("centrality")), return_run)
