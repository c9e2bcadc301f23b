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
   independent graphs, so ONE shuffle (groupBy conv_id) moves each graph to
   one task, and the whole power iteration runs in numpy inside
   applyInPandas (Arrow batches, vectorized bincount gather-scatter =
   CSR-style SpMV; no per-row Python). 10^10 conversations stream through
   as ordinary grouped partitions — no supersteps, no driver round-trips.

2. `pagerank_distributed` — for one giant graph (cross-conversation link
   graph) that cannot sit in a single task: driver-side superstep loop over
   a DataFrame SpMV (join + partial-agg), optional explicit salting for
   hub-vertex fan-in on top of AQE skew handling, per-superstep
   localCheckpoint to truncate lineage, optional durable checkpoints with a
   per-partition lineage table, and resume from the latest complete
   superstep.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .superstep import (
    completed_supersteps,
    pinned_plan,
    read_marker,
    write_marker,
)

PER_CONV_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("key", StringType(), False),
        StructField("rank", DoubleType(), False),
    ]
)

_SEP = ""  # kind is a single char; token = kind + key parses positionally


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


def _batched_partition_pagerank(
    batches, alpha: float, tol: float, max_iter: int
):
    """mapInPandas body: run the per-conv kernel for EVERY conversation in
    the partition out of two whole-partition numpy string arrays, emitting
    one output frame per partition. Identical float schedule to
    _conv_pagerank_pdf — same np.unique node order, same bincount SpMV per
    conversation — but the pandas-DataFrame + Arrow round-trip is paid once
    per PARTITION instead of once per (tiny) conversation group, which is
    the difference between ~5 ms/conv of framework overhead and ~0.3 ms/conv
    of numpy at 30-turn conversation sizes."""
    chunks = [p for p in batches if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    conv = pdf["conv_id"].to_numpy()
    # stable sort: groups conversations while preserving within-conv arrival
    # order (the same summation-order equivalence class as the grouped path;
    # group arrival order was never deterministic to begin with)
    order = np.argsort(conv, kind="stable")
    conv = conv[order]
    skey = (pdf["src_kind"].astype(str) + pdf["src"].astype(str)).to_numpy()[order]
    dkey = (pdf["dst_kind"].astype(str) + pdf["dst"].astype(str)).to_numpy()[order]
    uniq, starts = np.unique(conv, return_index=True)
    bounds = np.append(starts, len(conv))
    out_conv, out_kind, out_key, out_rank = [], [], [], []
    for i in range(len(uniq)):
        a, b = bounds[i], bounds[i + 1]
        m = b - a
        nodes, inv = np.unique(
            np.concatenate([skey[a:b], dkey[a:b]]), return_inverse=True
        )
        n = len(nodes)
        p = np.full(n, 1.0 / n, dtype=np.float64)
        x = _power_iteration(inv[:m], inv[m:], n, p, alpha, tol, max_iter)
        out_conv.append(np.full(n, uniq[i], dtype=object))
        out_kind.append(np.array([s[0] for s in nodes], dtype=object))
        out_key.append(np.array([s[1:] for s in nodes], dtype=object))
        out_rank.append(x)
    yield pd.DataFrame(
        {
            "conv_id": np.concatenate(out_conv),
            "kind": np.concatenate(out_kind),
            "key": np.concatenate(out_key),
            "rank": np.concatenate(out_rank),
        }
    )


def pagerank_per_conv(
    gedges: DataFrame,
    pers: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1.0e-6,
    max_iter: int = 100,
    batched: bool | None = None,
) -> DataFrame:
    """ranks(conv_id, kind, key, rank) for every conversation graph.

    gedges: (conv_id, src_kind, src, dst_kind, dst) edge pairs — duplicates
    allowed (DiGraph collapse happens inside the kernel via a per-conv
    np.unique, so callers can feed the raw multi-edge cascade without
    paying a corpus-wide distinct shuffle first).
    pers:   optional (conv_id, kind, key, weight) personalization rows.

    batched (default True when pers is None; env DEEPRANK_PR_BATCHED=0
    forces the grouped path): hash-repartition by conv_id + mapInPandas,
    processing every conversation in a partition from two whole-partition
    numpy arrays. Same shuffle count (one), same per-conv float schedule;
    it exists because applyInPandas pays its pandas/Arrow framework cost
    per GROUP, which dominates when groups are 30-turn conversations
    (measured ~2.4x on the 30k-conv flagship stage). The personalization
    path keeps the cogroup formulation."""
    if batched is None:
        batched = pers is None and os.environ.get(
            "DEEPRANK_PR_BATCHED", "1"
        ) != "0"

    if pers is None:
        if batched:
            P = int(
                gedges.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )

            def run_parts(batches):
                yield from _batched_partition_pagerank(
                    batches, alpha, tol, max_iter
                )

            return gedges.repartition(P, "conv_id").mapInPandas(
                run_parts, PER_CONV_SCHEMA
            )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            return _conv_pagerank_pdf(pdf, None, alpha, tol, max_iter)

        return gedges.groupBy("conv_id").applyInPandas(run, PER_CONV_SCHEMA)

    def run2(_key, edges_pdf: pd.DataFrame, pers_pdf: pd.DataFrame) -> pd.DataFrame:
        return _conv_pagerank_pdf(edges_pdf, pers_pdf, alpha, tol, max_iter)

    return (
        gedges.groupBy("conv_id")
        .cogroup(pers.groupBy("conv_id"))
        .applyInPandas(run2, PER_CONV_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Distributed superstep kernel (single giant graph)
# ---------------------------------------------------------------------------


def _lineage_rows(state: DataFrame, superstep: int, wall_ms: float) -> DataFrame:
    return (
        state.select(
            F.spark_partition_id().alias("partition_id"),
            F.xxhash64("id", F.format_number("rank", 12)).alias("h"),
        )
        .groupBy("partition_id")
        .agg(F.count("*").alias("rows"), F.expr("bit_xor(h)").alias("checksum"))
        .select(
            F.lit(superstep).alias("superstep"),
            "partition_id",
            "rows",
            "checksum",
            F.lit(float(wall_ms)).alias("wall_ms"),
        )
    )


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
    t0 = time.time()
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

        # Superstep state management (measured, not guessed — see git history):
        # each step eager-localCheckpoints the new state (constant logical-plan
        # depth), BUT Spark's local checkpoint keeps the full RDD lineage as its
        # recovery path — if the driver GC drops an old step's DataFrame, the
        # ContextCleaner evicts its blocks and every later step silently
        # recomputes a doubly-referenced chain (wall time doubles per step).
        # So (a) strong references to every checkpointed state are held in
        # `kept` between resets, and (b) every checkpoint_interval steps the
        # state is round-tripped through parquet, which genuinely truncates
        # lineage and lets the old blocks be freed. Non-durable runs round-trip
        # through a tempdir; durable runs additionally write the per-partition
        # lineage table + _DONE markers for resume.
        durable = checkpoint_dir is not None
        if not durable:
            # RAM-backed tempdir when available: the non-durable round-trip is
            # only a lineage truncation point, it doesn't need to survive
            tmp_parent = "/dev/shm" if os.path.isdir("/dev/shm") else None
            checkpoint_dir = tempfile.mkdtemp(prefix="deeprank_pr_", dir=tmp_parent)
        ckpt_base = os.path.join(checkpoint_dir, run_id)
        os.makedirs(ckpt_base, exist_ok=True)
        start_step = 0
        state = None
        done = completed_supersteps(ckpt_base) if resume and durable else []
        if done:
            start_step = max(done)
            rank_schema = StructType(
                [vdeg.schema["id"], StructField("rank", DoubleType())]
            )
            state = with_base(spark.read.schema(rank_schema).parquet(
                os.path.join(ckpt_base, f"superstep={start_step}")
            ))
            dm = read_marker(ckpt_base, start_step).get("dangling_mass")
            if dm is None:  # a marker written before it carried the mass
                dm = state.where("dangling").agg(F.sum("rank")).first()[0] or 0.0
        else:
            state = base.select("id", F.lit(1.0 / n).alias("rank"), "p", "dangling")
            dm = int(stats["n_dangling"]) / n  # every vertex starts at 1/n

        if weighted:
            contrib = F.col("rank") * F.col("e_w") / F.col("e_deg")
        else:
            contrib = F.col("rank") / F.col("e_deg")
        err_metric = F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("err")
        dm_metric = F.sum(
            F.when(F.col("dangling"), F.col("rank")).otherwise(0.0)
        ).alias("dm")
        deltas = []
        converged = False
        step = start_step
        kept = []  # strong refs: keep checkpoint blocks alive between resets
        prev_ckpt = None  # non-durable: last superstep dir kept on tmpfs
        while step < max_iter:
            step += 1
            it0 = time.time()
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
            obs = Observation(f"pr_step_{run_id}_{step}")
            state = (
                state.join(summed, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(alpha)
                        * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(float(dm)) * F.col("p"))
                        + F.lit(1.0 - alpha) * F.col("p")
                    ).alias("rank"),
                    "p",
                    "dangling",
                    F.col("rank").alias("prev"),
                )
                .observe(obs, err_metric, dm_metric)
                # EAGER local checkpoint: truncates logical plan AND rdd
                # lineage at materialization, and the one job of the
                # superstep. Eager matters: a lazy localCheckpoint
                # materialized through a downstream action does NOT
                # truncate lineage, so when the driver GC drops old step
                # DataFrames their blocks vanish and later steps
                # cascade-recompute from scratch.
                .localCheckpoint(eager=True)
            )
            row = obs.get
            err, dm = float(row["err"]), float(row["dm"] or 0.0)
            kept.append(state)
            wall_ms = (time.time() - it0) * 1000.0
            deltas.append({"superstep": step, "l1_delta": err, "wall_ms": wall_ms})
            if verbose:
                print(f"[pagerank] step={step} l1={err:.3e} wall_ms={wall_ms:.0f}", flush=True)
            converged = tol > 0 and err < n * tol

            if step % checkpoint_interval == 0 or converged:
                ranks = _write_superstep(
                    state.select("id", "rank"), ckpt_base, step, wall_ms, dm,
                    durable=durable,
                )
                kept.clear()  # parquet re-read is lineage-free: old blocks can go
                if not durable:
                    # non-durable runs are lineage resets, not recovery
                    # points: once the new round-trip exists the previous
                    # superstep dir on tmpfs is dead weight — delete it
                    if prev_ckpt is not None:
                        shutil.rmtree(prev_ckpt, ignore_errors=True)
                    prev_ckpt = os.path.join(ckpt_base, f"superstep={step}")
                if converged:
                    state = ranks
                    break
                state = with_base(ranks)

    if tol <= 0:
        # fixed-iteration mode: exactly max_iter supersteps, deterministic
        # superstep count (what a SQL-unrolled differential oracle needs)
        converged = True
    if not converged:
        if not durable:
            shutil.rmtree(checkpoint_dir, ignore_errors=True)
        raise RuntimeError(f"pagerank_distributed: no convergence in {max_iter} supersteps")
    ranks = state.select("id", "rank")
    if not durable:
        # pin the final state into block storage; the last superstep dir
        # stays on tmpfs until interpreter exit (atexit) because it is the
        # checkpoint's lineage recovery path — deleting it eagerly would
        # make run.ranks unrecoverable after executor block loss. Earlier
        # superstep dirs were already deleted incrementally in the loop.
        ranks = ranks.localCheckpoint(eager=True)
        atexit.register(shutil.rmtree, checkpoint_dir, ignore_errors=True)
    return PageRankRun(ranks, step, deltas, time.time() - t0, converged)


def _write_superstep(
    ranks: DataFrame,
    ckpt_base: str,
    step: int,
    wall_ms: float,
    dangling_mass: float,
    durable: bool,
) -> DataFrame:
    """Parquet round-trip of (id, rank): the real lineage truncation point.
    Durable runs also append the per-partition lineage table and a _DONE
    marker carrying the state's dangling mass (resume scans the markers).
    Durable state lands SORTED on id within each (hash) partition file, so
    row-group min/max stats let a point lookup of one vertex's rank at a
    checkpointed superstep prune to ~one row group per file. Deliberately
    NOT repartitionByRange: the range partitioner samples boundaries with
    an RDD-id-seeded RNG, so its layout varies between runs of identical
    data and demotes the cross-run bitwise-resume guarantee to ~1e-18
    float wiggle (measured); hash partitioning + in-file sort is fully
    value-determined."""
    path = os.path.join(ckpt_base, f"superstep={step}")
    if durable:
        ranks.sortWithinPartitions("id").write.mode("overwrite").parquet(path)
        _lineage_rows(ranks, step, wall_ms).write.mode("append").parquet(
            os.path.join(ckpt_base, "lineage")
        )
        write_marker(ckpt_base, step, {
            "superstep": step, "wall_ms": wall_ms, "dangling_mass": dangling_mass,
        })
    else:
        # non-durable resets are pure lineage truncation on tmpfs: nothing
        # ever point-reads these
        ranks.write.mode("overwrite").parquet(path)
    # the schema is known: reading without it runs a schema-inference job
    return ranks.sparkSession.read.schema(ranks.schema).parquet(path)


def read_lineage(spark: SparkSession, checkpoint_dir: str, run_id: str) -> DataFrame:
    return spark.read.parquet(os.path.join(checkpoint_dir, run_id, "lineage"))
