"""Fact-DB export round-trip + catalog-agnostic IO (parquet path)."""

import os

import pytest
from pyspark.sql import functions as F

from deeprank_spark.engine import flagship
from deeprank_spark.sources.export import RELATIONS, export_fact_db, read_fact_db
from deeprank_spark.sources.tables import read_transcripts, write_table
from deeprank_spark.transcripts import gen_transcripts_df


def test_write_read_transcripts(spark, tmp_path):
    tr = gen_transcripts_df(spark, n_convs=6, turns_per_conv=5, seed=7)
    path = str(tmp_path / "tr")
    write_table(tr, path, bucket_col="conv_id", num_buckets=4)
    back = read_transcripts(spark, path)
    assert back.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # per-turn text equality under stable ordering (input_hint invariant)
    a = tr.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    b = back.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    assert a == b


def test_fact_db_round_trip(spark, tmp_path):
    tr = gen_transcripts_df(spark, n_convs=4, turns_per_conv=4, seed=3)
    out = flagship(tr)
    d = out["digest"]
    base = str(tmp_path / "facts")
    rels = export_fact_db(
        d, out["ranks"], out["summary"], out["keywords"], base, num_buckets=4
    )
    assert set(rels) == set(RELATIONS)
    back = read_fact_db(spark, base)
    for name in RELATIONS:
        n_written = rels[name].count()
        n_read = back[name].count()
        assert n_read == n_written, f"{name}: {n_read} != {n_written}"
    # rank relation reproduces the ranks exactly
    a = sorted(
        (r["conv_id"], r["kind"], r["key"], round(r["rank"], 12))
        for r in rels["rank"].collect()
    )
    b = sorted(
        (r["conv_id"], r["kind"], r["key"], round(r["rank"], 12))
        for r in back["rank"].select("conv_id", "kind", "key", "rank").collect()
    )
    assert a == b
    # every relation is keyed by conv_id and bucketed on disk
    assert all("conv_id" in back[n].columns for n in RELATIONS)


def test_fact_db_export_jobs_carry_caller_job_group(spark, tmp_path):
    """The concurrent writes run in pool threads; every job they start
    still carries the job group the caller set (callers attribute and
    cancel the export by it)."""
    tr = gen_transcripts_df(spark, n_convs=3, turns_per_conv=4, seed=5)
    out = flagship(tr)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("fact-db-export", "export under a caller's job group")
    try:
        export_fact_db(
            out["digest"], out["ranks"], out["summary"], out["keywords"],
            str(tmp_path / "facts"), num_buckets=4,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    grouped = tracker.getJobIdsForGroup("fact-db-export")
    assert len(grouped) >= len(RELATIONS)  # at least one job per write
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_fact_db_export_failure_waits_for_other_writes(spark, tmp_path):
    """One failing write re-raises its own error, and only after the other
    eight writes (including those submitted after it) have finished."""
    tr = gen_transcripts_df(spark, n_convs=3, turns_per_conv=4, seed=5)
    out = flagship(tr)
    ranks = out["ranks"]
    failing = ranks.withColumn(
        "key",
        F.when(F.col("key").isNotNull(), F.raise_error(F.lit("rank write failed")))
        .otherwise(F.col("key")),
    )
    assert ranks.count() > 0
    base = str(tmp_path / "facts")
    with pytest.raises(Exception, match="rank write failed"):
        export_fact_db(
            out["digest"], failing, out["summary"], out["keywords"], base,
            num_buckets=4,
        )
    for name in RELATIONS:
        done = os.path.exists(os.path.join(base, name, "_SUCCESS"))
        assert done == (name != "rank"), name


def test_read_transcripts_jsonl_and_csv(spark, tmp_path):
    """The JSONL / CSV transcript sources round-trip the canonical schema
    exactly (explicit schema, no inference scan) and feed the same
    digest as the parquet path."""
    tr = gen_transcripts_df(spark, n_convs=4, turns_per_conv=5)
    rows = sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in tr.collect()
    )

    pq = str(tmp_path / "t.parquet")
    jl = str(tmp_path / "t.jsonl")
    cs = str(tmp_path / "t.csv")
    tr.write.parquet(pq)
    tr.write.json(jl)
    tr.write.option("header", True).csv(cs)

    for path, fmt in ((pq, None), (jl, None), (cs, None), (jl, "jsonl"), (cs, "csv")):
        back = read_transcripts(spark, path, format=fmt)
        assert back.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        got = sorted(tuple(r) for r in back.collect())
        assert got == rows, (path, fmt)

    # malformed JSON line degrades to a null row, not a crashed read
    with open(str(tmp_path / "bad.jsonl"), "w") as f:
        f.write('{"conv_id": "c1", "turn_idx": 0, "role": "user", '
                '"text": "hello there", "tool": null, '
                '"ts": "2026-01-01T00:00:00Z"}\n')
        f.write("this is not json\n")
    bad = read_transcripts(spark, str(tmp_path / "bad.jsonl"), format="jsonl")
    assert bad.count() == 2
    assert bad.where("conv_id is not null").count() == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown format"):
        read_transcripts(spark, pq, format="xml")
