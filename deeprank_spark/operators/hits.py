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
scan of the materialized blocks for the L1 error. Durable checkpoints,
lineage and bitwise resume via the shared superstep protocol
(operators/superstep.py), like every other iterative kernel here.

`hits_per_conv` runs the same schedule on every conversation graph in
numpy, through the shared per-conversation runner (operators/per_conv.py).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField

from .components import _ResetDir
from .per_conv import per_conv_map
from .superstep import KernelRun, SuperstepCheckpointer, pinned_plan


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
    t0 = time.time()
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
    metrics: list = []
    durable = checkpoint_dir is not None
    ckpt = (
        SuperstepCheckpointer(checkpoint_dir, run_id, ("id", "hub", "auth"))
        if durable
        else None
    )
    step = 0
    converged = False
    err = None
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
                if return_run:
                    return KernelRun(state, 0, [], time.time() - t0, True)
                return state

            state = None
            if durable and resume:
                st, done_steps, was_converged = ckpt.resume(spark)
                if st is not None:
                    state = st.select("id", "hub", "auth").repartition(P, "id")
                    step = done_steps
                    converged = was_converged
            if state is None:
                state = base.select(
                    "id", F.lit(1.0 / n).alias("hub"), F.lit(0.0).alias("auth")
                ).localCheckpoint(eager=True)

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

            def with_auth(hubs: DataFrame, prev: DataFrame) -> DataFrame:
                """(id, hub, auth) for a state whose auth is the a-gather of
                `prev`'s hub, max-normalized: one more gather job, paid at a
                durable write and at the end, never per superstep."""
                obs = Observation(f"hits_auth_{run_id}_{step}")
                ja = (
                    hubs.join(a_gather(prev), "id", "left")
                    .select("id", "hub", F.coalesce(F.col("av"), F.lit(0.0)).alias("av"))
                    .observe(obs, F.max(F.col("av")).alias("amax"))
                    .localCheckpoint(eager=True)
                )
                kept.append(ja)
                amax = float(obs.get["amax"])
                return ja.select("id", "hub", (F.col("av") / F.lit(amax)).alias("auth"))

            kept = [state]
            rdir = _ResetDir("hits")
            last_written = step if durable and resume else -1
            # the state the current hubs were gathered from; None while the
            # state still carries its own auth column (initial or resumed)
            auth_from = None
            while not converged and step < max_iter:
                it0 = time.time()
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
                hraw = (
                    a_gather(state)
                    .select(F.col("id").alias("aid"), "av")
                    .join(e_by_dst, F.col("aid") == F.col("fd"))
                    .select(F.col("fs").alias("id"), F.col("av").alias("c"))
                    .groupBy("id")
                    .agg(F.sum("c").alias("hv"))
                )
                # ONE materialization per superstep: the raw h sums land in
                # an eager checkpoint with the max-normalizer riding it as an
                # observed metric (a separate scalar aggregate would replay
                # both gathers). The normalized state is a lazy map-only
                # SELECT over the checkpointed frame; the L1 error is a second
                # scan of the SAME materialized blocks (no shuffle).
                obs = Observation(f"hits_step_{run_id}_{step + 1}")
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
                hs = (
                    joined.select(*cols)
                    .observe(obs, F.max(F.col("hv")).alias("hmax"))
                    .localCheckpoint(eager=True)
                )
                hmax = float(obs.get["hmax"])
                if tol > 0:
                    err = float(
                        hs.agg(
                            F.sum(
                                F.abs(F.col("hv") / F.lit(hmax) - F.col("prev_hub"))
                            )
                        ).first()[0]
                    )
                else:
                    # fixed-iteration mode never reads the error: don't pay a
                    # second scan per superstep just to log it
                    err = -1.0
                kept.append(hs)
                auth_from = state.select("id", "hub")
                state = hs.select("id", (F.col("hv") / F.lit(hmax)).alias("hub"))
                step += 1
                wall_ms = (time.time() - it0) * 1000.0
                converged = tol > 0 and err < tol
                metrics.append({"superstep": step, "l1_delta": err, "wall_ms": wall_ms})
                if durable and (step % checkpoint_interval == 0 or converged):
                    # the protocol's `changed` slot (an int) carries the L1
                    # delta scaled to nano-resolution — a monotone convergence
                    # signal an auditor can read off the _DONE markers
                    state = ckpt.write(with_auth(state, auth_from), step, wall_ms,
                                       int(err * 1e9) if err >= 0 else -1, converged)
                    auth_from = None
                    last_written = step
                    kept.clear()
                elif (step % 5) == 0:
                    state = rdir.reset(state, step)
                    kept.clear()
            if auth_from is not None:
                state = with_auth(state, auth_from)
        finally:
            e_by_src.unpersist()
            e_by_dst.unpersist()
            base.unpersist()

    if durable and step > last_written:
        # the marker records LOOP convergence (tol>0 fixpoint) only: a
        # tol=0 fixed-iteration run must stay resumable to a larger
        # max_iter, so its markers never say converged
        state = ckpt.write(
            state,
            step,
            metrics[-1]["wall_ms"] if metrics else 0.0,
            int(err * 1e9) if err is not None and err >= 0 else -1,
            converged,
        )
    if tol <= 0:
        converged = True
    if not converged:
        raise RuntimeError(
            f"hits_distributed: no convergence in {max_iter} supersteps "
            f"(last l1={err})"
        )
    out = _sum_normalized(state if durable else rdir.finalize(state))
    if return_run:
        return KernelRun(out, step, metrics, time.time() - t0, converged)
    return out


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
    t0 = time.time()
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
    durable = checkpoint_dir is not None
    ckpt = (
        SuperstepCheckpointer(checkpoint_dir, run_id, ("id", "x"))
        if durable
        else None
    )
    metrics: list = []
    step = 0
    converged = False
    err = None
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
                return KernelRun(out, 0, [], time.time() - t0, True) if return_run else out

            state = None
            if durable and resume:
                st, done_steps, was_converged = ckpt.resume(spark)
                if st is not None:
                    state = st.select("id", "x").repartition(P, "id")
                    step = done_steps
                    converged = was_converged
            if state is None:
                state = base.select("id", F.lit(1.0 / n).alias("x")).localCheckpoint(
                    eager=True
                )

            kept = [state]
            rdir = _ResetDir("eig")
            last_written = step if durable and resume else -1
            while not converged and step < max_iter:
                it0 = time.time()
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
                obs = Observation(f"eig_step_{run_id}_{step + 1}")
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
                    .observe(obs, F.sum(F.col("raw") * F.col("raw")).alias("ss"))
                    .localCheckpoint(eager=True)
                )
                norm = float(obs.get["ss"]) ** 0.5 or 1.0
                err = float(
                    raw.agg(
                        F.sum(F.abs(F.col("raw") / F.lit(norm) - F.col("prev")))
                    ).first()[0]
                )
                kept.append(raw)
                state = raw.select("id", (F.col("raw") / F.lit(norm)).alias("x"))
                step += 1
                wall_ms = (time.time() - it0) * 1000.0
                converged = err < n * tol
                metrics.append({"superstep": step, "l1_delta": err, "wall_ms": wall_ms})
                if durable and (step % checkpoint_interval == 0 or converged):
                    state = ckpt.write(state, step, wall_ms, int(err * 1e9), converged)
                    last_written = step
                    kept.clear()
                elif (step % 5) == 0:
                    state = rdir.reset(state, step)
                    kept.clear()
        finally:
            e_by_src.unpersist()
            base.unpersist()
    if durable and step > last_written:
        state = ckpt.write(
            state,
            step,
            metrics[-1]["wall_ms"] if metrics else 0.0,
            int(err * 1e9) if err is not None else -1,
            converged,
        )
    if not converged:
        raise RuntimeError(
            f"eigenvector_distributed: no convergence in {max_iter} supersteps "
            f"(last l1={err})"
        )
    out = (state if durable else rdir.finalize(state)).select(
        "id", F.col("x").alias("centrality")
    )
    if return_run:
        return KernelRun(out, step, metrics, time.time() - t0, converged)
    return out
