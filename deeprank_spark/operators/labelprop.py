"""Synchronous label propagation (north-rule kernel, not in the reference).

Deterministic spec (shared with the oracle, oracle/kernels.py:lpa_sync):
each round every vertex adopts the smallest label among those with maximal
count over its undirected neighborhood (previous round's labels); isolated
vertices keep their own label. Fixpoint or max_iter (default 20 — sync LPA
can 2-cycle on bipartite structures, the cap bounds it).
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from .per_conv import per_conv_map

_LABEL = [StructField("label", StringType(), False)]


def _lpa_numpy(n: int, src: np.ndarray, dst: np.ndarray, max_iter: int) -> np.ndarray:
    # undirected adjacency (dedup, no self loops)
    mask = src != dst
    a = np.concatenate([src[mask], dst[mask]])
    b = np.concatenate([dst[mask], src[mask]])
    labels = np.arange(n)
    if len(a) == 0:
        return labels  # only self-loops / no edges: every vertex keeps its label
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    a, b = pairs[:, 0], pairs[:, 1]
    for _ in range(max_iter):
        new = labels.copy()
        # histogram per (vertex a, neighbor-label): count, pick (max count, min label)
        nl = labels[b]
        order = np.lexsort((nl, a))
        aa, ll = a[order], nl[order]
        grp = np.concatenate([[True], (aa[1:] != aa[:-1]) | (ll[1:] != ll[:-1])])
        gi = np.flatnonzero(grp)
        counts = np.diff(np.append(gi, len(aa)))
        ga, gl = aa[gi], ll[gi]
        # per vertex: max count then min label; lexsort by (count desc, label desc)
        # then take the first row per vertex after sorting (count asc, label desc)
        sel = np.lexsort((-gl, counts, ga))  # within vertex: count asc, label desc
        sa, sl, sc = ga[sel], gl[sel], counts[sel]
        last = np.concatenate([(sa[1:] != sa[:-1]), [True]])  # last row per vertex
        win_v, win_l = sa[last], sl[last]
        new[win_v] = win_l
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def lpa_per_conv(gedges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(conv_id, kind, key, label) with label = a node token, through the
    shared per-conversation runner (operators/per_conv.py)."""

    def kernel(src_idx, dst_idx, n, nodes):
        return (nodes[_lpa_numpy(n, src_idx, dst_idx, max_iter)],)

    return per_conv_map(gedges, kernel, _LABEL)


def lpa_distributed(
    edges: DataFrame,
    id_cols: tuple = ("src", "dst"),
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    run_id: str = "lpa",
    checkpoint_interval: int = 5,
    resume: bool = False,
    return_run: bool = False,
) -> DataFrame:
    """Distributed synchronous LPA: neighbor-label histogram via groupBy +
    max_by(struct(count, -label)) argmax with min-label tie-break.
    Returns (id, label).

    Durable runs (north rule): `checkpoint_dir` + `resume=True` give
    per-round parquet label state, a per-partition lineage table and
    restart from the newest complete round — the shared protocol in
    operators/superstep.py (same layout as pagerank/components). Sync-LPA
    rounds are pure functions of the previous labels, so a resumed run
    reproduces the uninterrupted labels exactly. `return_run=True` wraps
    the result in a KernelRun with per-round (changed, wall_ms) metrics.
    """
    spark = edges.sparkSession
    t0 = time.time()
    src, dst = id_cols
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    from .components import _ResetDir
    from .superstep import KernelRun, SuperstepCheckpointer

    durable = checkpoint_dir is not None
    ckpt = (
        SuperstepCheckpointer(checkpoint_dir, run_id, ("id", "label"))
        if durable
        else None
    )
    rounds = 0
    converged = False
    metrics = []
    labels = None
    if durable and resume:
        st, done_rounds, was_converged = ckpt.resume(spark)
        if st is not None:
            labels = st.select("id", "label")
            rounds = done_rounds
            converged = was_converged
    if labels is None:
        labels = (
            e.select(F.col("a").alias("id"))
            .union(e.select(F.col("b").alias("id")))
            .distinct()
            .select("id", F.col("id").alias("label"))
            .localCheckpoint(eager=True)
        )

    kept = []  # strong refs: keep checkpoint blocks alive between resets
    rdir = _ResetDir("lpa")
    last_written = rounds if durable and resume else -1
    changed = None
    while not converged and rounds < max_iter:
        it = rounds
        it0 = time.time()
        hist = (
            labels.join(sym, labels["id"] == sym["a"])
            .groupBy(sym["b"].alias("id"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        win = hist.groupBy("id").agg(
            F.max_by("label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias(
                "new_label"
            )
        )
        new = (
            labels.join(win, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
                (F.coalesce(F.col("new_label"), F.col("label")) != F.col("label")).alias(
                    "chg"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = new.agg(F.sum(F.col("chg").cast("long"))).first()[0] or 0
        kept.append(new)
        labels = new.select("id", "label")
        rounds = it + 1
        wall_ms = (time.time() - it0) * 1000.0
        converged = changed == 0
        metrics.append({"round": rounds, "changed": int(changed), "wall_ms": wall_ms})
        if durable and (rounds % checkpoint_interval == 0 or converged):
            labels = ckpt.write(labels, rounds, wall_ms, changed, converged)
            last_written = rounds
            kept.clear()
        elif (rounds % 5) == 0:
            labels = rdir.reset(labels, it)
            kept.clear()
    if durable and rounds > last_written:
        # max_iter cap hit between checkpoints (sync LPA can 2-cycle, the
        # cap is part of the spec): persist the final round for resume
        labels = ckpt.write(
            labels,
            rounds,
            metrics[-1]["wall_ms"] if metrics else 0.0,
            changed if changed is not None else -1,
            converged,
        )
    sym.unpersist()
    out = labels if durable else rdir.finalize(labels)
    if return_run:
        return KernelRun(out, rounds, metrics, time.time() - t0, converged)
    return out
