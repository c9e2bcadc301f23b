"""Shortest paths (unweighted BFS levels) on one giant graph.

Beyond-reference link-graph kernel on the same superstep skeleton as
components/scc: distance relaxation is a hash-MIN exchange over dist+1.
Converges in O(eccentricity(source)) rounds; each round is one shuffle on
the vertex id and one job, a step of the shared superstep loop
(operators/superstep.py: eager checkpoint, periodic parquet reset).

Semantics = nx.single_source_shortest_path_length on the undirected
simple projection (directed=False) or the directed graph (directed=True);
unreachable vertices are absent, matching networkx.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import superstep
from .superstep import KernelRun


def sssp_distributed(
    edges: DataFrame,
    source,
    id_cols: tuple = ("src", "dst"),
    directed: bool = False,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    run_id: str = "sssp",
    checkpoint_interval: int = 5,
    resume: bool = False,
    return_run: bool = False,
) -> DataFrame:
    """-> (id, dist) for every vertex reachable from `source`.

    Durable runs: `checkpoint_dir` persists the (dist, frontier) state as
    (id, dist, frontier) every `checkpoint_interval` rounds and on
    convergence — the shared superstep protocol (operators/superstep.py).
    Budget exhaustion still RAISES (refuse-to-mislabel), but a durable run
    persists the final frontier state first, so `resume=True` with a
    larger max_iter CONTINUES the search instead of restarting; rounds are
    pure functions of (dist, frontier), so the resumed distances equal the
    uninterrupted run's exactly.
    """
    src, dst = id_cols
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e = e.where(F.col("a") != F.col("b")).distinct().localCheckpoint(eager=True)

    def step(state: DataFrame, _r: int, _last: dict):
        # frontier-based BFS: a round relaxes only the edges leaving the
        # vertices discovered last round (unweighted => a settled vertex
        # never improves, so only unseen vertices join the frontier)
        front = state.where("frontier")
        cand = (
            front.join(e, front["id"] == e["a"])
            .groupBy(e["b"].alias("id"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        nxt = state.join(cand, "id", "full").select(
            "id",
            F.coalesce("dist", "nd").alias("dist"),
            F.col("dist").isNull().alias("frontier"),
        )
        return nxt, {"new": F.count_if("frontier")}

    spark = edges.sparkSession
    res = superstep.run(
        spark, step,
        lambda: (spark.createDataFrame([(source, 0, True)], "id long, dist int, frontier boolean"), {}),
        max_iter=max_iter, done=lambda v: v["new"] == 0,
        interval=checkpoint_interval, checkpoint_dir=checkpoint_dir,
        run_id=run_id, resume=resume,
    )
    if not res.converged:
        # refuse-to-mislabel: a truncated distance map is indistinguishable
        # from "unreachable" downstream; a durable run persisted its last
        # round, so a resume with a larger max_iter continues the search
        raise RuntimeError(f"sssp: frontier non-empty after {max_iter} rounds; raise max_iter")
    return res.finish(res.labels.select("id", "dist"), return_run)


def wsssp_distributed(
    edges: DataFrame,
    source,
    weight_col: str = "w",
    id_cols: tuple = ("src", "dst"),
    directed: bool = False,
    delta: float | None = None,
    max_iter: int = 500,
    checkpoint_dir: str | None = None,
    run_id: str = "wsssp",
    checkpoint_interval: int = 5,
    resume: bool = False,
    return_run: bool = False,
) -> DataFrame:
    """Weighted single-source shortest paths -> (id, dist double) for every
    reachable vertex (nx.single_source_dijkstra_path_length semantics;
    parallel edges collapse to their min weight; weights must be > 0).

    Delta-stepping-style bucketed relaxation (Meyer & Sanders 2003, public):
    each outer round expands only the frontier vertices whose tentative
    distance lies in the current bucket [B, B + delta) where B = min
    tentative distance over the frontier — the Dijkstra argument makes the
    min-distance vertex final each round, so far vertices are not
    re-relaxed while near ones are still settling (the wasted-relaxation
    problem of plain distributed Bellman-Ford). Any relaxation schedule
    reaches the same fixpoint, so `delta` affects round count and wasted
    work only, never the result; `delta=None` uses the mean edge weight.

    Per round: one job — a shuffle on the vertex id (relax) and one merge
    join, checkpointed by the shared superstep loop; the next bucket's
    bound (the frontier's min distance) is observed on the same job.
    Raises (refuse-to-mislabel) if the frontier is still non-empty after
    max_iter rounds.

    Durable runs: same protocol as sssp_distributed — (id, dist, frontier)
    persisted every `checkpoint_interval` rounds and before the budget
    raise, `resume=True` continues from the newest complete round. The
    fixpoint is delta-invariant (property-tested), so even a resume with a
    different `delta` reaches the same exact distances; the same delta
    reproduces the same round schedule.
    """
    src, dst = id_cols
    e = edges.select(
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
        F.col(weight_col).cast("double").alias("w"),
    )
    if not directed:
        e = e.union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        )
    e = (
        e.where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    wmin, wavg = e.agg(F.min("w"), F.avg("w")).first()
    if wmin is not None and wmin <= 0:
        raise ValueError(f"wsssp: weights must be > 0, found min weight {wmin}")
    if delta is None:
        delta = float(wavg or 1.0)

    def step(state: DataFrame, _r: int, last: dict):
        # expand only the frontier vertices inside the bucket [B, B+delta),
        # B = the frontier's min tentative distance (observed last round)
        bound = last["frontier_min"] + delta
        bucket = state.where(F.col("frontier") & (F.col("dist") < bound))
        relaxed = (
            bucket.join(e, bucket["id"] == e["a"])
            .groupBy(e["b"].alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
        )
        improved = F.col("nd").isNotNull() & (
            F.col("dist").isNull() | (F.col("nd") < F.col("dist"))
        )
        nxt = state.join(relaxed, "id", "full").select(
            "id",
            F.least(
                F.coalesce(F.col("dist"), F.lit(float("inf"))),
                F.coalesce(F.col("nd"), F.lit(float("inf"))),
            ).alias("dist"),
            # the frontier: vertices whose tentative dist improved, plus
            # the frontier vertices beyond this round's bucket
            (improved | (F.coalesce("frontier", F.lit(False)) & (F.col("dist") >= bound)))
            .alias("frontier"),
        )
        return nxt, {
            "frontier": F.count_if("frontier"),
            "frontier_min": F.min(F.when(F.col("frontier"), F.col("dist"))),
        }

    spark = edges.sparkSession
    res = superstep.run(
        spark, step,
        lambda: (
            spark.createDataFrame([(source, 0.0, True)], "id long, dist double, frontier boolean"),
            {"frontier_min": 0.0},
        ),
        max_iter=max_iter, done=lambda v: v["frontier"] == 0,
        interval=checkpoint_interval, checkpoint_dir=checkpoint_dir,
        run_id=run_id, resume=resume,
    )
    if not res.converged:
        raise RuntimeError(f"wsssp: frontier non-empty after {max_iter} rounds; raise max_iter")
    return res.finish(res.labels.select("id", "dist"), return_run)


def diameter_double_sweep(
    edges: DataFrame,
    id_cols: tuple = ("src", "dst"),
    max_iter: int = 200,
) -> dict:
    """Double-sweep diameter LOWER bound on the undirected projection
    (Magnien-Latapy-Habib 2009): BFS from the smallest vertex id, then
    BFS from the farthest vertex found (deterministic (dist, id)
    tie-break); the second eccentricity is the bound — exact on trees,
    tight in practice on real graphs. The exact diameter needs all-pairs
    (O(V) BFS rounds), the documented non-goal; the bound is what scale
    practice uses. Two sssp_distributed runs (frontier BFS, per-round
    cost = frontier out-degree); disconnected graphs bound the START
    vertex's component, the standard behavior. Returns
    {"lower_bound", "start", "far_vertex"}."""
    src, dst = id_cols
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    start = e.select(F.least("a", "b").alias("v")).agg(F.min("v")).first()[0]
    if start is None:
        return {"lower_bound": 0, "start": None, "far_vertex": None}
    d1 = sssp_distributed(e, source=start, id_cols=("a", "b"), max_iter=max_iter)
    far = d1.orderBy(F.desc("dist"), F.col("id")).first()
    d2 = sssp_distributed(
        e, source=far["id"], id_cols=("a", "b"), max_iter=max_iter
    )
    ecc = d2.agg(F.max("dist")).first()[0]
    return {"lower_bound": int(ecc), "start": start, "far_vertex": far["id"]}


def temporal_reachability(
    edges: DataFrame,
    source,
    ts_col: str = "ts",
    id_cols: tuple = ("src", "dst"),
    start_ts: int | None = None,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    run_id: str = "treach",
    checkpoint_interval: int = 5,
    resume: bool = False,
    return_run: bool = False,
) -> DataFrame:
    """Earliest-arrival time-respecting reachability on a TEMPORAL edge
    table (src, dst, ts): a path is valid only if successive edge
    timestamps are non-decreasing — the right reachability notion for
    transcript/interaction graphs, where plain reachability overstates
    influence (an edge in the past cannot carry information that arrives
    later). -> (id, arrival) with arrival = the earliest long timestamp
    at which `source`'s influence can reach id (the source row carries
    start_ts); unreachable vertices are absent.

    start_ts: the moment the source starts (edges before it are
    unusable); default = min edge ts (source can take any edge).

    Frontier relaxation like sssp, with one structural difference:
    arrival times can improve MORE than once (a later-found earlier
    arrival at u re-opens u's out-edges), so this is Bellman-Ford-shaped
    — the frontier is "vertices whose arrival improved last round" and
    convergence is an empty improvement set. Non-decreasing chains inside
    one timestamp resolve across rounds (the >= comparison). Durable
    checkpoint/resume via the shared superstep protocol; budget
    exhaustion raises after persisting the in-flight state, like the
    other frontier kernels.
    """
    src, dst = id_cols
    e = (
        edges.select(
            F.col(src).alias("a"),
            F.col(dst).alias("b"),
            F.col(ts_col).cast("long").alias("t"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if start_ts is None:
        start_ts = e.agg(F.min("t")).first()[0]
        if start_ts is None:
            out = edges.sparkSession.createDataFrame([], "id long, arrival long")
            return KernelRun(out, 0, [], 0.0, True) if return_run else out

    def step(state: DataFrame, _r: int, _last: dict):
        # the frontier: vertices whose arrival improved last round
        front = state.where("frontier")
        cand = (
            front.join(e, front["id"] == e["a"])
            .where(F.col("t") >= F.col("arrival"))
            .groupBy(e["b"].alias("id"))
            .agg(F.min("t").alias("cand"))
        )
        improved = F.col("cand").isNotNull() & (
            F.col("arrival").isNull() | (F.col("cand") < F.col("arrival"))
        )
        nxt = state.join(cand, "id", "full").select(
            "id",
            F.when(improved, F.col("cand")).otherwise(F.col("arrival")).alias("arrival"),
            improved.alias("frontier"),
        )
        return nxt, {"improved": F.count_if("frontier")}

    spark = edges.sparkSession
    res = superstep.run(
        spark, step,
        lambda: (spark.createDataFrame(
            [(source, int(start_ts), True)], "id long, arrival long, frontier boolean"
        ), {}),
        max_iter=max_iter, done=lambda v: v["improved"] == 0,
        interval=checkpoint_interval, checkpoint_dir=checkpoint_dir,
        run_id=run_id, resume=resume,
    )
    if not res.converged:
        raise RuntimeError(
            f"temporal_reachability: improvements after {max_iter} rounds; "
            "raise max_iter"
        )
    return res.finish(res.labels.select("id", "arrival"), return_run)
