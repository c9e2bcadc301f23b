"""spark-submit entry point: flagship text-graph job over a transcripts table.

Cluster launch (the north-rule layout — the same file runs unchanged on a
multi-executor cluster; only --master and the IO locations change):

    python jobs/build_pyfiles.py   # -> dist/deeprank_spark.zip
    spark-submit \
        --master <cluster-or-local[N]> \
        --py-files dist/deeprank_spark.zip \
        jobs/run_flagship.py \
        --transcripts <path-or-iceberg-table> \
        --out <output base> \
        [--checkpoint-dir <dir>] [--sf-docs <testdata dir>]

With --sf-docs, the driver-provided documents parquet is converted to the
transcripts shape (sentence-per-turn) instead of reading --transcripts.
Writes the 9-relation fact DB + summary/keyword tables under --out.

On one host at local[4], --driver-java-options "-XX:TieredStopAtLevel=1"
gives the driver the C1-only JIT that deeprank_spark/session.py describes;
on this job it cuts CPU but not wall time (the numbers are there).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", default=None)
    ap.add_argument("--sf-docs", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    # spark-submit provides the session; builder config only fills gaps
    b = SparkSession.builder.appName("deeprank-flagship")
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # imports AFTER session creation: on a cluster these resolve from the
    # --py-files zip shipped to every executor's PYTHONPATH
    from deeprank_spark.engine import flagship
    from deeprank_spark.parse import documents_as_transcripts
    from deeprank_spark.sources.export import export_fact_db, read_fact_db
    from deeprank_spark.sources.tables import read_table, read_transcripts

    if args.sf_docs:
        docs = read_table(spark, f"{args.sf_docs}/documents.parquet")
        tr = documents_as_transcripts(docs)
    else:
        tr = read_transcripts(spark, args.transcripts)

    out = flagship(tr)
    export_fact_db(
        out["digest"], out["ranks"], out["summary"], out["keywords"], args.out
    )
    # count what was written: the returned relation DataFrames would
    # recompute the whole pass once per relation
    counts = {
        name: df.count() for name, df in read_fact_db(spark, args.out).items()
    }
    print("FLAGSHIP_DONE", counts)
    spark.stop()


if __name__ == "__main__":
    main()
