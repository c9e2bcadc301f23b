"""Strongly connected components.

Reference anchor: the giant-component gate in the reference uses
`nx.strongly_connected_components` (/root/reference/textcrafts/deepRank.py:
398-406). Round 2 shipped weakly-CC only (documented delta, SURVEY §2.9);
this module closes that delta:

- `scc_per_conv` — exact SCCs per conversation graph: iterative Tarjan
  in the shared per-conversation runner (operators/per_conv.py, one
  conv_id shuffle, like components.components_per_conv). Component label = min node token of the
  SCC, so outputs are directly comparable with the networkx oracle.
- `scc_distributed` — one giant directed graph, forward-backward coloring
  with trimming and Fleischer-style partition refinement (Orzan-style
  coloring / FW-BW of Hong et al. / divide-and-conquer refinement of
  Fleischer, Hendrickson & Pinar 2000 — all public). Round 4 added the
  refinement: the remainder splits into independent (color, bcolor) cells
  each round, which bounds deep DAGs (a 10k path of singleton SCCs) in
  O(log n) expected rounds where trim-to-fixpoint alone needed
  O(diameter)/2 passes — measured in tools/scc_dag_bench.py:

    outer round (propagation restricted to same-part edges; cross-part
    edges lie on no cycle, so they are dropped):
      1. TRIM, capped at `trim_passes`: a vertex with no in-edges or no
         out-edges inside its part is a singleton SCC — peel immediately.
         Real link graphs are mostly acyclic, so trimming usually removes
         the bulk of the vertex set in the first round.
      2. COLOR: min-label propagation along edge direction to fixpoint,
         with pointer jumping — color(v) = min-labeled vertex that reaches
         v. Jumping is sound exactly as in weak CC: if u reaches v and w
         reaches u then w reaches v, so color'(v) = color(color(v)) only
         ever tightens within the reaching set.
      3. BACKWARD: bcolor(v) = min-labeled vertex REACHABLE FROM v within
         its color class — the same min-label + jump loop on the REVERSED,
         class-restricted edges. The class root r (the class's min-labeled
         vertex, see proof note) satisfies
         v in SCC(r)  <=>  color(v) = label(r) and bcolor(v) = label(r):
         mutual reachability. Peel every class's root SCC at once; the
         emitted component id is the min REAL id of each peeled SCC
         (one groupBy), matching the networkx-comparable convention.
      4. Remove peeled vertices; REFINE the remainder's partition to
         hash(color, bcolor) — same SCC implies same (color, bcolor), so
         refinement never splits an SCC, and the cells recurse
         independently in the next round (all in the same Spark job).

    LABELS ARE HASHED: propagation uses struct(xxhash64(id), id) — the
    hash gives a direction-agnostic random total order, the raw id breaks
    hash collisions exactly. Min-ID propagation with pointer jumping is
    only fast when ids happen to DECREASE along the propagation direction
    (each vertex's pointer then leaves itself, forming jumpable chains);
    on an ascending-id cycle the backward sweep degenerates to one vertex
    per round, and truncating it would peel a PARTIAL SCC — which breaks
    the remainder's strong connectivity and silently mislabels it.
    Randomized labels make both sweeps O(log n) rounds w.h.p. regardless
    of id assignment (the classic hash-min analysis); the 500-cycle
    regression test pins it. On budget exhaustion the kernel RAISES
    instead of mislabeling leftovers.

  Root-in-class proof note: for any member w of the class of r with
  label(w) < label(r): w reaches itself, so color(w) <= label(w) <
  label(r), contradicting w's membership in r's class. Hence r is the
  class's unique min-labeled vertex and bcolor(v) = label(r) iff v
  reaches r.

Scale notes (100 TB shape): the outer round, its trim passes and both
label fixpoints are steps of the shared superstep loop (operators/
superstep.py: one eager checkpoint per step with its count observed on the
same job, strong refs, periodic parquet resets); all shuffles are on the
vertex id;
no collect, no per-row Python. Worst case (a long path of singleton SCCs)
is bounded by the partition refinement, NOT by trimming: each round every
(color, bcolor) cell recurses independently, O(log n) expected rounds
(tools/scc_dag_bench.py records rounds + wall on a 10k path).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import superstep
from .components import _COMPONENT
from .per_conv import per_conv_map


def _tarjan_components(n: int, adj_heads: np.ndarray, adj_next: np.ndarray,
                       vert_head: np.ndarray) -> np.ndarray:
    """Iterative Tarjan over a CSR-ish linked adjacency; returns for each
    vertex the min vertex index of its SCC."""
    UNVISITED = -1
    index_of = np.full(n, UNVISITED, dtype=np.int64)
    low = np.zeros(n, dtype=np.int64)
    on_stack = np.zeros(n, dtype=bool)
    comp_min = np.arange(n, dtype=np.int64)
    stack: list[int] = []
    next_index = 0
    for root in range(n):
        if index_of[root] != UNVISITED:
            continue
        # explicit DFS stack of (vertex, pointer into its adjacency list)
        work = [(root, vert_head[root])]
        index_of[root] = low[root] = next_index
        next_index += 1
        stack.append(root)
        on_stack[root] = True
        while work:
            v, ptr = work[-1]
            if ptr != -1:
                w = int(adj_heads[ptr])
                work[-1] = (v, int(adj_next[ptr]))
                if index_of[w] == UNVISITED:
                    index_of[w] = low[w] = next_index
                    next_index += 1
                    stack.append(w)
                    on_stack[w] = True
                    work.append((w, int(vert_head[w])))
                elif on_stack[w]:
                    if index_of[w] < low[v]:
                        low[v] = index_of[w]
            else:
                work.pop()
                if work:
                    pv = work[-1][0]
                    if low[v] < low[pv]:
                        low[pv] = low[v]
                if low[v] == index_of[v]:
                    members = []
                    while True:
                        w = stack.pop()
                        on_stack[w] = False
                        members.append(w)
                        if w == v:
                            break
                    m = min(members)
                    for w in members:
                        comp_min[w] = m
    return comp_min


def scc_per_conv(gedges: DataFrame) -> DataFrame:
    """(conv_id, kind, key, component) with component = min node token
    (kind+key) of the STRONGLY connected component. Exact
    nx.strongly_connected_components semantics on each conversation's
    directed graph."""

    def kernel(src_idx, dst_idx, n, nodes):
        # linked adjacency (avoids per-vertex python lists)
        vert_head = np.full(n, -1, dtype=np.int64)
        adj_next = np.empty(len(src_idx), dtype=np.int64)
        for i, s in enumerate(src_idx):
            adj_next[i] = vert_head[s]
            vert_head[s] = i
        comp_min = _tarjan_components(
            n, dst_idx.astype(np.int64), adj_next, vert_head
        )
        return (nodes[comp_min],)

    return per_conv_map(gedges, kernel, _COMPONENT)


def _hlabel(idcol: F.Column) -> F.Column:
    """Hashed propagation label: random total order via xxhash64, exact
    collision break via the raw id (struct comparison is lexicographic)."""
    return F.struct(F.xxhash64(idcol).alias("h"), idcol.alias("i"))


def _minlabel_fixpoint(state: DataFrame, prop_e: DataFrame, max_inner: int) -> DataFrame:
    """Hash-min label exchange with pointer jumping to fixpoint.

    state: (id, lbl struct<h,i>); prop_e: (a, b) — labels flow a -> b.
    Jump: lbl'(v) = lbl(vertex named by lbl(v).i) — transitive within the
    reaching set. Raises if max_inner rounds don't converge (w.h.p. needs
    O(log n) under the hashed order)."""

    def step(st: DataFrame, _r: int, _last: dict):
        msg = (
            st.join(prop_e, st["id"] == prop_e["a"])
            .groupBy(prop_e["b"].alias("id"))
            .agg(F.min("lbl").alias("pmin"))
        )
        m = st.join(msg, "id", "left").select(
            "id",
            F.least(
                F.col("lbl"), F.coalesce(F.col("pmin"), F.col("lbl"))
            ).alias("m"),
            F.col("lbl").alias("prev"),
        )
        jump = m.select(F.col("id").alias("jid"), F.col("m").alias("jlbl"))
        nxt = m.join(jump, m["m"]["i"] == jump["jid"]).select(
            "id", F.col("jlbl").alias("lbl"), "prev"
        )
        return nxt, {"changed": F.count_if(F.col("lbl") != F.col("prev"))}

    res = superstep.run(
        state.sparkSession, step, lambda: (state, {}), max_iter=max_inner,
        done=lambda v: v["changed"] == 0,
        settle=lambda frame, _v: frame.select("id", "lbl"),
    )
    if not res.converged:
        raise RuntimeError(
            f"minlabel fixpoint did not converge within {max_inner} rounds"
        )
    return res.labels


# Outer rounds between the parquet round trips of the remainder frames:
# every round. localCheckpoint PRESERVES the parent plan's Catalyst stats,
# and SizeInBytesOnlyStatsPlanVisitor.visitJoin MULTIPLIES child
# sizeInBytes as BigInt — so chaining checkpointed joins round after round
# grows the estimate's DIGIT COUNT exponentially until the driver spends
# minutes inside BigInteger.multiply during planning (measured: an
# 11-edge graph took 464 s without a per-round reset, ~20 s with it). A
# parquet read re-derives real stats and cuts the chain.
_OUTER_RESET_EVERY = 1

# stats of the most recent scc_distributed run (read by tools/scc_dag_bench)
LAST_RUN_STATS: dict = {}
_STATS = ("trim_passes", "peeled_by_trim", "peeled_by_color")


def _trim(rem_v: DataFrame, n_rem: int, pe: DataFrame, trim_passes: int,
          max_inner: int) -> superstep.KernelRun:
    """Peel singleton SCCs — vertices with no in- or no out-edges within
    their part — pass after pass; the run's state is the surviving core
    (id, part). Trim passes are 10x cheaper than a coloring fixpoint, so
    trimming continues while a pass peels >= 5% of the remainder (the
    acyclic bulk of real link graphs drains here); past `trim_passes`
    passes a low-yield pass (a long path peels 2 per pass) stops it and
    the partition refinement takes over."""

    def step(core: DataFrame, _r: int, last: dict):
        live = (
            pe.join(core.select(F.col("id").alias("a")), "a", "leftsemi")
            .join(core.select(F.col("id").alias("b")), "b", "leftsemi")
        )
        nxt = core.join(
            live.select(F.col("a").alias("id")).distinct(), "id", "leftsemi"
        ).join(live.select(F.col("b").alias("id")).distinct(), "id", "leftsemi")
        n = F.count(F.lit(1))
        return nxt, {"n": n, "peeled": F.lit(last["n"]) - n}

    def done(row: dict) -> bool:
        prev = row["n"] + row["peeled"]
        return row["peeled"] == 0 or (
            row["round"] >= trim_passes and row["peeled"] < 0.05 * prev
        )

    return superstep.run(
        rem_v.sparkSession, step, lambda: (rem_v, {"n": n_rem}),
        max_iter=max_inner, done=done,
    )


def scc_distributed(
    edges: DataFrame,
    id_cols: tuple = ("src", "dst"),
    max_outer: int = 50,
    max_inner: int = 100,
    trim_passes: int = 5,
    checkpoint_dir: str | None = None,
    run_id: str = "scc",
    resume: bool = False,
    return_run: bool = False,
) -> DataFrame:
    """FW-BW coloring SCC with Fleischer-style partition refinement on one
    giant directed graph. Returns (id, component), component = min vertex
    id of the SCC.

    Each vertex carries a partition id; all propagation is restricted to
    same-part edges, and after every round the remainder refines
    part := hash(color, bcolor). Soundness: same SCC => same within-part
    ancestor set => same color, and same within-class descendant set =>
    same bcolor, so refinement never splits an SCC; conversely a
    cross-part edge can lie on no cycle (its endpoints would otherwise be
    one SCC and share a part), so DROPPING cross-part edges is sound.
    Depth: every color class peels its root SCC each round and the
    remainder splits into independent (color, bcolor) cells, giving the
    Fleischer/Hendrickson/Pinar O(log n) expected round bound — this is
    what bounds deep DAGs (a 10k-vertex path) where trim-to-fixpoint alone
    would need O(diameter)/2 passes; trim is therefore CAPPED at
    `trim_passes` per round instead of run to fixpoint (measured in
    tools/scc_dag_bench.py; real link graphs still shed their acyclic
    bulk in the first couple of passes).

    Durable runs (shared superstep protocol, operators/superstep.py):
    `checkpoint_dir` persists the loop state at OUTER-round granularity —
    three sections per round (done labels so far, remainder vertices with
    their partition ids, remainder edges) plus lineage + _DONE markers.
    Rounds are pure functions of the remainder, so `resume=True`
    continues from the newest complete round with exactly the
    uninterrupted run's labels; after an outer-budget raise, resume with
    a larger `max_outer` CONTINUES rather than restarting.
    `return_run=True` wraps the result in KernelRun with per-outer-round
    (peeled, remaining, cumulative trim/color stats, wall_ms) metrics."""
    src, dst = id_cols
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        raw.where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def init():
        # vertices come from the PRE-self-loop-filter edge set: a vertex
        # that appears only in self-loops is a singleton SCC in networkx
        # (the first trim pass peels it: no remaining in/out edges)
        n = Observation()
        verts = (
            raw.select(F.col("a").alias("id"))
            .union(raw.select(F.col("b").alias("id")))
            .distinct()
            .observe(n, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        # invariant of rem_e: both ends remaining; the same-part filter
        # runs each round
        return {
            "done": verts.select("id", F.col("id").alias("component")).limit(0),
            "rem_v": verts.select("id", F.lit(0).cast("long").alias("part")),
            "rem_e": e,
        }, {"remaining": n.get["n"], **{k: 0 for k in _STATS}}

    def outer(state: dict, _r: int, last: dict):
        done, rem_v, rem_e = state["done"], state["rem_v"], state["rem_e"]
        stats = {k: last[k] for k in _STATS}
        # --- 0. restrict edges to same-part pairs (sound: a cross-part
        # edge lies on no cycle) ---
        pe = (
            rem_e.join(
                rem_v.select(F.col("id").alias("a"), F.col("part").alias("pa")), "a"
            )
            .join(
                rem_v.select(F.col("id").alias("b"), F.col("part").alias("pb")), "b"
            )
            .where(F.col("pa") == F.col("pb"))
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        # --- 1. trim singleton SCCs ---
        trim = _trim(rem_v, last["remaining"], pe, trim_passes, max_inner)
        core, n_rem = trim.labels, trim.last["n"]
        stats["trim_passes"] += sum(1 for m in trim.metrics if m["peeled"])
        stats["peeled_by_trim"] += last["remaining"] - n_rem
        done = done.union(
            rem_v.join(core, "id", "leftanti").select("id", F.col("id").alias("component"))
        )
        if n_rem == 0:
            # a converged round has no remainder: write empty sections
            # instead of the stale (possibly large) round-start edges
            return {"done": done, "rem_v": core.limit(0), "rem_e": rem_e.limit(0)}, {
                "peeled": last["remaining"], "remaining": 0, **stats}
        pe = (
            pe.join(core.select(F.col("id").alias("a")), "a", "leftsemi")
            .join(core.select(F.col("id").alias("b")), "b", "leftsemi")
            .localCheckpoint(eager=True)
        )
        # --- 2. color: min-label forward propagation with pointer jumping,
        # over HASHED labels struct(xxhash64(id), id) — see module doc.
        # pe is part-restricted, so propagation never crosses parts and the
        # fixpoint needs no part column ---
        col_of = _minlabel_fixpoint(
            core.select("id", _hlabel(F.col("id")).alias("lbl")), pe, max_inner
        ).withColumnRenamed("lbl", "color").localCheckpoint(eager=True)
        # --- 3. backward: same loop on the REVERSED class-restricted edges ---
        ce = (
            pe.join(col_of.select(F.col("id").alias("a"), F.col("color").alias("ca")), "a")
            .join(col_of.select(F.col("id").alias("b"), F.col("color").alias("cb")), "b")
            .where(F.col("ca") == F.col("cb"))
            .select(F.col("b").alias("a"), F.col("a").alias("b"))  # reversed
            .localCheckpoint(eager=True)
        )
        bcol = _minlabel_fixpoint(
            col_of.select("id", _hlabel(F.col("id")).alias("lbl")), ce, max_inner
        ).withColumnRenamed("lbl", "bcolor")
        joined = col_of.join(bcol, "id").localCheckpoint(eager=True)
        peeled = joined.where(F.col("bcolor") == F.col("color"))
        # labels are hashed structs; the published component id is the min
        # REAL id of each peeled SCC (networkx-comparable convention).
        # color classes are globally unique (a class is named by one vertex)
        comp = peeled.groupBy("color").agg(F.min("id").alias("component"))
        done = done.union(
            peeled.join(comp, "color").select("id", "component").localCheckpoint(eager=True)
        )
        # --- 4. refine: remainder cells (color, bcolor) are independent ---
        left = Observation()
        rem_v = (
            joined.where(F.col("bcolor") != F.col("color"))
            .select(
                "id",
                F.xxhash64(
                    F.col("color.h"), F.col("color.i"),
                    F.col("bcolor.h"), F.col("bcolor.i"),
                ).alias("part"),
            )
            .observe(left, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        remaining = left.get["n"]
        stats["peeled_by_color"] += n_rem - remaining
        rem_e = (
            pe.join(rem_v.select(F.col("id").alias("a")), "a", "leftsemi")
            .join(rem_v.select(F.col("id").alias("b")), "b", "leftsemi")
        )
        return {"done": done, "rem_v": rem_v, "rem_e": rem_e}, {
            "peeled": last["remaining"] - remaining, "remaining": remaining, **stats}

    res = superstep.run(
        edges.sparkSession, outer, init, max_iter=max_outer,
        done=lambda v: v["remaining"] == 0, interval=_OUTER_RESET_EVERY,
        checkpoint_dir=checkpoint_dir, run_id=run_id, resume=resume,
    )
    LAST_RUN_STATS.clear()
    LAST_RUN_STATS.update(
        {"outer_rounds": res.rounds, **{k: res.last.get(k, 0) for k in _STATS}}
    )
    if not res.converged:
        # refuse to emit wrong labels: leftover vertices are NOT known
        # singletons (outer-round budget exhausted on an adversarial chain).
        # Durable runs persisted every completed round, so resuming with a
        # larger max_outer continues instead of restarting.
        raise RuntimeError(
            f"scc_distributed: {res.last['remaining']} vertices unresolved "
            f"after {max_outer} outer rounds; raise max_outer"
        )
    return res.finish(res.labels["done"], return_run)
