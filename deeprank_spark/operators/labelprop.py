"""Synchronous label propagation (north-rule kernel, not in the reference).

Deterministic spec (shared with the oracle, oracle/kernels.py:lpa_sync):
each round every vertex adopts the smallest label among those with maximal
count over its undirected neighborhood (previous round's labels); isolated
vertices keep their own label. Fixpoint or max_iter (default 20 — sync LPA
can 2-cycle on bipartite structures, the cap bounds it).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from . import superstep
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
    src, dst = id_cols
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )

    def init():
        verts = e.select(F.col("a").alias("id")).union(e.select(F.col("b").alias("id")))
        return verts.distinct().select("id", F.col("id").alias("label")).localCheckpoint(
            eager=True
        ), {}

    def step(labels: DataFrame, _it: int, _last: dict):
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
        new = labels.join(win, "id", "left").select(
            "id",
            F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            F.col("label").alias("prev"),
        )
        return new, {"changed": F.count_if(F.col("label") != F.col("prev"))}

    # sync LPA can 2-cycle, the max_iter cap is part of the spec: a capped
    # durable run persists its last round for resume
    res = superstep.run(
        edges.sparkSession, step, init, max_iter=max_iter,
        done=lambda v: v["changed"] == 0,
        settle=lambda frame, _v: frame.select("id", "label"),
        interval=checkpoint_interval, checkpoint_dir=checkpoint_dir,
        run_id=run_id, resume=resume,
    )
    sym.unpersist()
    return res.finish(res.labels, return_run)
