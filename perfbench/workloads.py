"""The benchmark's workloads: inputs from the seed, the timed pass of the
job, and the output checks against the repo's independent oracles.

Each workload is a class; one instance serves one run. The steps:

- `make_input(ctx)`: build the seeded input tables and write them under
  the run's temp root (the job then starts from a table scan, like a real
  run);
- `run_pass(ctx)`: the timed job, each layer call inside a tracer span;
- `check(ctx, out)`: compare the pass's outputs with the oracles, outside
  the timed window; returns {"<layer>/<check>": passed?}. A layer call is
  a failed operation when any of its checks fails. The pure-Python oracle
  runs on a thread while Spark computes the outputs to compare;
- `notes(out)`: figures the CHECK line reports beside the results;
- `extras(ctx, out)`: layer counters of the pass (rounds, bytes on disk).

Layer calls go through the public functions of `deeprank_spark.engine`,
`deeprank_spark.operators.*`, `deeprank_spark.sources.export` and
`tools/lineage_audit.py`.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deeprank_spark import engine
from deeprank_spark.config import CraftParams
from deeprank_spark.operators.pagerank import pagerank_distributed
from deeprank_spark.oracle import kernels as okern
from deeprank_spark.oracle import textgraph as otg
from deeprank_spark.sources.export import export_fact_db, read_fact_db
from deeprank_spark.transcripts import gen_transcripts_df

ATOL = 1.0e-6
# resumed PageRank against the uninterrupted run: the tolerance of
# tests/test_pagerank.py::test_distributed_checkpoint_resume
RESUME_ATOL = 1.0e-12
MULTI_COLS = ["src_kind", "src", "src_tag", "rel", "dst_kind", "dst", "dst_tag", "sent_id"]


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    root: str          # the run's temp root; everything the run writes
    repo: str          # checkout root (for tools/)
    tracer: object
    buckets: int       # export buckets

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def _order(rows) -> list:
    """Rows in a total order that tolerates None fields."""
    return sorted(rows, key=lambda t: [(v is None, 0 if v is None else v) for v in t])


def _rows_by_conv(df: DataFrame, convs: list[str], cols: list[str]) -> dict:
    out: dict = {}
    for r in df.where(F.col("conv_id").isin(convs)).select("conv_id", *cols).collect():
        out.setdefault(r["conv_id"], []).append(tuple(r[c] for c in cols))
    return {c: _order(v) for c, v in out.items()}


# ---------------------------------------------------------------------------
# flagship: transcripts -> engine.flagship -> fact-DB export
# ---------------------------------------------------------------------------


class Flagship:
    """The product job of jobs/run_flagship.py: `engine.flagship` over a
    transcripts table, then `sources.export.export_fact_db`.

    Untraced, the pass makes exactly the product job's calls, so every
    persist and laziness choice inside `engine.flagship` is what is timed
    (keywords and summary stay lazy and are computed by the export).
    Traced, each layer's output is materialized at its span's end
    (`engine.ranks`: the ranks `engine.flagship` persists;
    `operators.extract`: keywords and summary, persisted) so that a span
    holds its own layer's work; this cuts the plan at layer boundaries.
    The scored relations, which the product job does not consume, are
    computed only by the check.
    """

    name = "flagship"
    n_convs = 60
    turns_per_conv = 30
    sample = 4  # seeded conversations checked, plus the 8x hub conversation
    layers = ("engine.digest", "engine.ranks", "operators.extract", "sources.export")

    def make_input(self, ctx: Ctx) -> None:
        path = ctx.path("input", "transcripts")
        gen_transcripts_df(
            ctx.spark, n_convs=self.n_convs, turns_per_conv=self.turns_per_conv,
            seed=ctx.seed,
        ).write.parquet(path)
        self.transcripts = ctx.spark.read.parquet(path)
        rng = random.Random(ctx.seed)
        picks = rng.sample(range(1, self.n_convs), self.sample)
        self.convs = ["c%08d" % i for i in [0] + sorted(picks)]

    def run_pass(self, ctx: Ctx) -> dict:
        span, traced = ctx.tracer.span, ctx.tracer.enabled
        with span("engine.digest"):
            d = engine.digest(self.transcripts)
        with span("engine.ranks"):
            out = engine.flagship(d=d)
            if traced:
                out["ranks"].count()
        with span("operators.extract"):
            if traced:
                for k in ("keywords", "summary"):
                    out[k] = out[k].persist()
                    out[k].count()
        out["export"] = ctx.path("facts")
        with span("sources.export"):
            export_fact_db(d, out["ranks"], out["summary"], out["keywords"],
                           out["export"], num_buckets=ctx.buckets)
        return out

    def check(self, ctx: Ctx, out: dict) -> dict:
        texts = {}
        for r in (
            self.transcripts.where(F.col("conv_id").isin(self.convs))
            .select("conv_id", "turn_idx", "text").collect()
        ):
            texts.setdefault(r["conv_id"], []).append((r["turn_idx"], r["text"]))
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(_textgraph_answers, texts)
            got = self._collect(ctx, out)
            return self._compare(oracle.result(), *got)

    def _collect(self, ctx: Ctx, out: dict) -> tuple:
        convs = self.convs
        d = out["digest"]
        facts = read_fact_db(ctx.spark, out["export"])
        return (
            {
                "multi": _rows_by_conv(d.multi_edges, convs, MULTI_COLS),
                "svo": _rows_by_conv(d.svo, convs, ["subj", "verb", "obj", "sent_id"]),
                "ranks": _rows_by_conv(out["ranks"], convs, ["kind", "key", "rank"]),
                "keywords": _rows_by_conv(out["keywords"], convs, ["keyword", "rank"]),
                "summary": _rows_by_conv(out["summary"], convs, ["turn_idx", "sent_text"]),
                "relations": _rows_by_conv(
                    out["relations"], convs, ["subj", "verb", "obj", "sent_id"]),
            },
            {
                "edge": _rows_by_conv(facts["edge"], convs, MULTI_COLS),
                "rank": _rows_by_conv(facts["rank"], convs, ["kind", "key", "rank"]),
                "summary": _rows_by_conv(facts["summary"], convs, ["turn_idx", "sent_text"]),
                "keyword": _rows_by_conv(facts["keyword"], convs, ["keyword"]),
            },
        )

    def _compare(self, exp: dict, got: dict, exported: dict) -> dict:
        def enc(x, tag):
            return ("S", str(x), tag) if isinstance(x, int) else ("W", x, tag)

        digest_ok = ranks_ok = extract_ok = True
        for conv in self.convs:
            want = _order(
                (*enc(f, tf), r, *enc(t, tt), k)
                for (f, tf, r, t, tt, k) in exp[conv]["multi_edges"]
            )
            digest_ok &= got["multi"].get(conv, []) == want
            digest_ok &= got["svo"].get(conv, []) == _order(exp[conv]["svos"])

            ranks = {(k, key): v for k, key, v in got["ranks"].get(conv, [])}
            want = {
                (("S", str(n)) if isinstance(n, int) else ("W", n)): v
                for n, v in exp[conv]["ranks"].items()
            }
            ranks_ok &= ranks.keys() == want.keys() and all(
                math.isclose(ranks[k], want[k], abs_tol=ATOL) for k in want
            )

            kw = [w for _, w in sorted((-r, w) for w, r in got["keywords"].get(conv, []))]
            extract_ok &= kw == exp[conv]["keywords"]
            extract_ok &= [t for t, _ in got["summary"].get(conv, [])] == exp[conv]["summary"]
            extract_ok &= got["relations"].get(conv, []) == exp[conv]["relations"]

        # the export must hold exactly the checked rows of the sample
        want_exported = {
            "edge": got["multi"],
            "rank": got["ranks"],
            "summary": got["summary"],
            "keyword": {c: [(w,) for w, _ in v] for c, v in got["keywords"].items()},
        }
        return {
            "engine.digest/oracle": digest_ok,
            "engine.ranks/oracle": ranks_ok,
            "operators.extract/oracle": extract_ok,
            **{f"sources.export/{name}": exported[name] == want
               for name, want in want_exported.items()},
        }

    def notes(self, out: dict) -> dict:
        return {}

    def extras(self, ctx: Ctx, out: dict) -> dict:
        return {}


def _textgraph_answers(texts: dict) -> dict:
    """`oracle/textgraph.py` on each conversation's turns:
    conv_id -> multi-edges, SVOs, ranks, keywords, summary, relations."""
    p = CraftParams()
    ans = {}
    for conv, rows in texts.items():
        dg = otg.digest([t for _, t in sorted(rows)], p)
        ranks = otg.pagerank(dg, p)
        ans[conv] = {
            "multi_edges": dg.multi_edges,
            "svos": dg.svos,
            "ranks": ranks,
            "keywords": otg.best_words(dg, ranks, p.word_count),
            "summary": otg.best_sentences(dg, ranks, p.sent_count),
            "relations": _order({tuple(e) for e in otg.best_svos(dg, ranks, p.rel_count)}),
        }
    return ans


# ---------------------------------------------------------------------------
# graph_durable: PageRank interrupted and resumed from its durable state
# ---------------------------------------------------------------------------


def supplier_graph(spark: SparkSession, relabel) -> DataFrame:
    """The customer -> supplier edge table that `__spark_entry__`'s
    `_bipartite_edges` derives from TPC-H orders and lineitems, built from a
    generated order book with the TPC-H sf0.1 shape.

    Customers, suppliers and parts have the sf0.1 cardinalities (15,000,
    1,000 and 20,000); there are 30,000 orders (a fifth of sf0.1's) of 1-7
    lineitems each, every lineitem picking a part uniformly and one of that
    part's four PARTSUPP suppliers. Edges are the distinct (customer,
    supplier + 1,000,000) pairs. `relabel(col)` maps every vertex id (a
    bijection). Deterministic: xxhash64 of the row ids.
    """
    customers, suppliers, parts, orders = 15_000, 1_000, 20_000, 30_000

    def h(*cols):
        return F.abs(F.xxhash64(*cols))

    lines = spark.range(orders).select(
        (h("id", F.lit(1)) % customers + 1).alias("cust"),
        F.col("id").alias("order"),
        F.explode(F.sequence(F.lit(0), h("id", F.lit(2)) % 7)).alias("line"),
    )
    part = h("order", "line", F.lit(3)) % parts
    # TPC-H PARTSUPP: the i-th supplier of part p (0-based)
    supp = (part + (h("order", "line", F.lit(4)) % 4)
            * (suppliers // 4 + F.floor(part / suppliers))) % suppliers + 1
    return lines.select(
        relabel(F.col("cust")).alias("src"), relabel(supp + 1_000_000).alias("dst")
    ).distinct()


class GraphDurable:
    """Distributed PageRank (tol 1e-6) with durable state on local disk, on
    the customer -> supplier graph of `supplier_graph`.

    The seed picks an increasing map id -> a*id + b for every vertex id. It
    moves hash placement and partition membership but keeps the graph, so
    PageRank takes the same 21 supersteps for every seed.

    The kernel runs in two legs. The first is cut at a checkpointed
    superstep the seed picks (`max_iter`: it raises after persisting that
    superstep). The second, `resume=True`, finishes from the newest
    complete superstep. `tools/lineage_audit.py` then audits the run dir.
    """

    name = "graph_durable"
    pr_interval = 8   # pagerank_distributed's default checkpoint interval
    layers = ("operators.pagerank", "superstep.resume", "tools.lineage_audit")

    def make_input(self, ctx: Ctx) -> None:
        rng = random.Random(ctx.seed)
        a, b = rng.randrange(2, 1000), rng.randrange(1_000_000)
        supplier_graph(ctx.spark, lambda c: c * a + b).write.parquet(
            ctx.path("input", "edges"))
        self.edges = ctx.spark.read.parquet(ctx.path("input", "edges"))
        # the interruption point: a persisted superstep (a multiple of the
        # checkpoint interval)
        self.cut = self.pr_interval * rng.randint(1, 2)
        spec = importlib.util.spec_from_file_location(
            "lineage_audit", os.path.join(ctx.repo, "tools", "lineage_audit.py")
        )
        self.lineage_audit = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.lineage_audit)

    def _pagerank(self, ck: str, **kw):
        return pagerank_distributed(self.edges, tol=1.0e-6, checkpoint_dir=ck, run_id="pr",
                                    checkpoint_interval=self.pr_interval, **kw)

    def run_pass(self, ctx: Ctx) -> dict:
        span = ctx.tracer.span
        ck = ctx.path("ck")
        out = {"ck": ck}
        with span("operators.pagerank"):
            try:
                self._pagerank(ck, max_iter=self.cut)
                out["cut"] = False  # converged before the cut
            except RuntimeError as exc:
                out["cut"] = "no convergence" in str(exc)
        with span("superstep.resume"):
            out["pr"] = self._pagerank(ck, resume=True)
        with span("tools.lineage_audit"):
            out["audit"] = self.lineage_audit.audit(ctx.spark, ck, "pr")
        return out

    def check(self, ctx: Ctx, out: dict) -> dict:
        edges = [(r["src"], r["dst"]) for r in self.edges.collect()]
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(okern.pagerank_nx, edges, tol=1.0e-6)
            # the uninterrupted run: durable, same checkpoint interval
            uninterrupted = self._pagerank(ctx.path("ck_uninterrupted"))
            ref = {r["id"]: r["rank"] for r in uninterrupted.ranks.collect()}
            pr = {r["id"]: r["rank"] for r in out["pr"].ranks.collect()}
            nx_pr = oracle.result()
        self.drift = {
            "pagerank_resume_max_abs_diff":
                max(abs(pr.get(k, math.inf) - v) for k, v in ref.items()),
            "pagerank_resume_bitwise": pr == ref,
        }
        return {
            "operators.pagerank/cut": out["cut"],
            "superstep.resume/uninterrupted": pr.keys() == ref.keys()
                and all(abs(pr[k] - v) <= RESUME_ATOL for k, v in ref.items()),
            "superstep.resume/oracle": pr.keys() == nx_pr.keys() and all(
                math.isclose(pr[k], v, abs_tol=ATOL) for k, v in nx_pr.items()
            ),
            # the second leg restarted at the cut, not from scratch
            "superstep.resume/from_cut":
                len(out["pr"].deltas) == out["pr"].supersteps - self.cut,
            "tools.lineage_audit/ok": out["audit"]["ok"],
        }

    def notes(self, out: dict) -> dict:
        """How far resumed PageRank is from the uninterrupted run."""
        return self.drift

    def extras(self, ctx: Ctx, out: dict) -> dict:
        size = 0
        for dirpath, _, files in os.walk(out["ck"]):
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return {
            "pagerank.supersteps": out["pr"].supersteps,
            "superstep.checkpoint_mb": size / (1024.0 * 1024.0),
        }


WORKLOADS = {w.name: w for w in (Flagship, GraphDurable)}
