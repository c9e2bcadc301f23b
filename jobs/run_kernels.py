"""spark-submit entry point: distributed graph kernels with durable
checkpoint + resume over an edge table.

Cluster launch (north-rule layout — same file unchanged on a real
multi-executor cluster; only --master and the IO locations change):

    python jobs/build_pyfiles.py   # -> dist/deeprank_spark.zip
    spark-submit \
        --master <cluster-or-local[N]> \
        --py-files dist/deeprank_spark.zip \
        jobs/run_kernels.py \
        --kernel {pagerank,hits,eig,cc,lpa,scc,sssp,wsssp,treach} \
        (--edges <parquet with src,dst[,w]> | --sf-dir <testdata dir>) \
        --out <parquet dir> \
        [--checkpoint-dir <dir> [--run-id <id>] [--resume]] \
        [--source N] [--max-iter N] [--tol X] [--shuffle-partitions N]

A killed durable run restarted with --resume continues from the newest
complete superstep/round (shared protocol, operators/superstep.py) and
reproduces the uninterrupted result exactly (bitwise for PageRank, exact
labels/distances for the label and frontier kernels — pinned by the
resume tests in tests/test_kernels.py and tests/test_pagerank.py).
--sf-dir derives the same customer->supplier bipartite edge table the
driver contract's graph queries use.

On one host at local[4], add --driver-java-options "-XX:TieredStopAtLevel=1"
for the C1-only driver JIT that deeprank_spark/session.py describes
(measured at sf0.1 in BASELINE.md).

Success marker on stdout: one `KERNEL_DONE {...}` JSON line with rows,
rounds, convergence flag and the tail of the per-round iteration metrics.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _bipartite_edges(spark: SparkSession, sf_dir: str):
    # same derivation as the driver contract's graph queries
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--kernel",
        required=True,
        choices=["pagerank", "hits", "eig", "cc", "lpa", "scc", "sssp", "wsssp", "treach"],
    )
    ap.add_argument("--edges", default=None)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--source", type=int, default=None)
    ap.add_argument("--max-iter", type=int, default=None)
    ap.add_argument("--tol", type=float, default=1.0e-6)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()
    if bool(args.edges) == bool(args.sf_dir):
        ap.error("exactly one of --edges / --sf-dir is required")
    if args.resume and not args.checkpoint_dir:
        ap.error("--resume requires --checkpoint-dir")

    b = SparkSession.builder.appName(f"deeprank-kernel-{args.kernel}")
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # imports AFTER session creation: on a cluster these resolve from the
    # --py-files zip shipped to every executor's PYTHONPATH
    from deeprank_spark.operators.components import components_distributed
    from deeprank_spark.operators.hits import eigenvector_distributed, hits_distributed
    from deeprank_spark.operators.labelprop import lpa_distributed
    from deeprank_spark.operators.pagerank import pagerank_distributed
    from deeprank_spark.operators.paths import (
        sssp_distributed,
        temporal_reachability,
        wsssp_distributed,
    )
    from deeprank_spark.operators.scc import scc_distributed

    if args.sf_dir:
        edges = _bipartite_edges(spark, args.sf_dir)
    else:
        edges = spark.read.parquet(args.edges)

    run_id = args.run_id or args.kernel
    kw = dict(checkpoint_dir=args.checkpoint_dir, run_id=run_id, resume=args.resume)
    if args.max_iter:
        # scc's outer budget has its own name; the rest share max_iter
        kw["max_outer" if args.kernel == "scc" else "max_iter"] = args.max_iter
    if args.kernel == "pagerank":
        run = pagerank_distributed(edges, tol=args.tol, **kw)
        out_df, rounds, converged = run.ranks, run.supersteps, run.converged
        metrics = run.deltas
    else:
        # (kernel function, extra arguments); hits convergence uses nx's
        # raw (unscaled) tol, the shared flag maps through as-is
        fns = {
            "eig": (eigenvector_distributed, {"tol": args.tol}),
            "hits": (hits_distributed, {"tol": args.tol}),
            "cc": (components_distributed, {}),
            "lpa": (lpa_distributed, {}),
            "scc": (scc_distributed, {}),
            "sssp": (sssp_distributed, {"source": args.source}),
            "wsssp": (wsssp_distributed, {"source": args.source}),
            "treach": (temporal_reachability, {"source": args.source}),
        }
        fn, extra = fns[args.kernel]
        if "source" in extra and args.source is None:
            ap.error(f"--source is required for --kernel {args.kernel}")
        if args.kernel == "treach" and "ts" not in edges.columns:
            ap.error(
                "--kernel treach needs a 'ts' column; pass --edges with "
                "(src, dst, ts) — the --sf-dir bipartite table has none"
            )
        if args.kernel == "wsssp" and "w" not in edges.columns:
            ap.error(
                "--kernel wsssp needs a 'w' weight column; the --sf-dir "
                "derived bipartite table is unweighted — pass --edges with "
                "(src, dst, w)"
            )
        run = fn(edges, return_run=True, **extra, **kw)
        out_df, rounds, converged = run.labels, run.rounds, run.converged
        metrics = run.metrics

    out_df.write.mode("overwrite").parquet(args.out)
    rows = spark.read.parquet(args.out).count()
    print(
        "KERNEL_DONE",
        json.dumps(
            {
                "kernel": args.kernel,
                "rows": rows,
                "rounds": rounds,
                "converged": converged,
                "resumed": args.resume,
                "metrics_tail": metrics[-3:],
            }
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
