"""Audit a durable kernel run directory (the shared superstep protocol).

    python tools/lineage_audit.py <checkpoint_dir> <run_id>

Validates the on-disk contract that resume and recovery depend on, the
layout operators/superstep.py's one writer leaves for every kernel:

  1. every `_DONE_<k>` marker has its `superstep=<k>` parquet state
     (flat frame, or the per-section subdirs the marker names);
  2. the lineage table (one `lineage/superstep=<k>/` partition per
     round, overwritten when a round is redone) has rows for every
     completed round;
  3. the newest round's durable state is CONTENT-VERIFIED: its row count
     and the XOR-fold of its per-row hashes are recomputed from the
     parquet and compared to what the lineage table recorded at write
     time. The per-partition checksums are bit_xor folds, so XOR-ing them
     is partition-layout-independent — the same rows through any
     repartitioning give the same global fold, which is exactly what a
     post-crash read must guarantee.

Prints one JSON line {"ok": bool, ...} and exits nonzero on any mismatch.
PageRank state (a double `rank` column) is hashed through the same
12-decimal format_number normalization the writer applies
(superstep._hash_cols).
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _state_hash_cols(df: DataFrame) -> list:
    cols = []
    for f in df.schema.fields:
        if f.name == "rank" and f.dataType.simpleString() == "double":
            cols.append(F.format_number("rank", 12))
        else:
            cols.append(F.col(f.name))
    return cols


def _fold(df: DataFrame):
    """(rows, xor-of-row-hashes) — partition-layout-independent."""
    row = (
        df.select(F.xxhash64(*_state_hash_cols(df)).alias("h"))
        .agg(F.count("*").alias("rows"), F.expr("bit_xor(h)").alias("x"))
        .first()
    )
    return int(row["rows"]), (int(row["x"]) if row["x"] is not None else 0)


def audit(spark: SparkSession, checkpoint_dir: str, run_id: str) -> dict:
    base = os.path.join(checkpoint_dir, run_id)
    report = {"ok": True, "base": base, "rounds": [], "errors": []}

    def fail(msg: str) -> None:
        report["ok"] = False
        report["errors"].append(msg)

    steps = sorted(
        int(n.split("_DONE_")[1])
        for n in os.listdir(base)
        if n.startswith("_DONE_")
    ) if os.path.isdir(base) else []
    if not steps:
        fail(f"no _DONE markers under {base}")
        return report
    report["rounds"] = steps

    metas = {}
    for k in steps:
        with open(os.path.join(base, f"_DONE_{k}")) as f:
            metas[k] = json.load(f)
        sdir = os.path.join(base, f"superstep={k}")
        wanted = [
            os.path.join(sdir, name) for name in metas[k].get("sections", [])
        ] or [sdir]
        for p in wanted:
            if not os.path.isdir(p):
                fail(f"round {k}: missing state parquet {p}")

    lineage_path = os.path.join(base, "lineage")
    if not os.path.isdir(lineage_path):
        fail("missing lineage table")
        return report
    lin = spark.read.parquet(lineage_path)
    lin_steps = {r["superstep"] for r in lin.select("superstep").distinct().collect()}
    for k in steps:
        if k not in lin_steps:
            fail(f"round {k}: no lineage rows")

    # content-verify the newest round's state against its recorded fold
    k = max(steps)
    meta = metas[k]
    sdir = os.path.join(base, f"superstep={k}")
    state_path = (
        os.path.join(sdir, meta["lineage_of"])
        if meta.get("sections")
        else sdir
    )
    try:
        state = spark.read.parquet(state_path)
        got_rows, got_x = _fold(state)
    except Exception as exc:  # unreadable parquet is itself a finding
        fail(f"round {k}: state unreadable: {exc}")
        return report
    rec = (
        lin.where(F.col("superstep") == k)
        .agg(
            F.sum("rows").alias("rows"),
            F.expr("bit_xor(checksum)").alias("x"),
        )
        .first()
    )
    want_rows = int(rec["rows"] or 0)
    want_x = int(rec["x"]) if rec["x"] is not None else 0
    report["newest"] = {
        "round": k,
        "rows": got_rows,
        "recorded_rows": want_rows,
        "checksum_match": got_x == want_x,
        "converged": bool(meta.get("converged", False)),
    }
    if got_rows != want_rows:
        fail(f"round {k}: rows {got_rows} != recorded {want_rows}")
    if got_x != want_x:
        fail(f"round {k}: state checksum mismatch (content altered?)")
    return report


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    spark = (
        SparkSession.builder.appName("lineage-audit")
        .master("local[4]")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    report = audit(spark, sys.argv[1], sys.argv[2])
    print(json.dumps(report))
    spark.stop()
    return 0 if report["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
