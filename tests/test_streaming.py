"""Structured Streaming surface: batch/stream parity + watermarked windows."""

import datetime as dt
import os

from deeprank_spark.streaming.events import sessionize, windowed_event_counts


def _events(spark, n=200):
    base = dt.datetime(2026, 1, 1)
    rows = [
        (
            i,
            base + dt.timedelta(minutes=7 * i % (60 * 24)),
            i % 11,
            ["click", "view", "buy"][i % 3],
            float(i % 7),
            "{}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def test_windowed_counts_batch(spark):
    ev = _events(spark)
    out = windowed_event_counts(ev, window="1 hour").collect()
    assert len(out) > 0
    total = sum(r["n_events"] for r in out)
    assert total == 200


def test_sessionize_batch(spark):
    out = sessionize(_events(spark), gap="30 minutes").collect()
    assert len(out) > 0
    assert all(r["n_events"] >= 1 for r in out)


def test_streaming_matches_batch(spark, tmp_path):
    """availableNow file stream through the SAME transformation equals the
    batch result (streaming/batch parity of the shared pipeline)."""
    ev = _events(spark)
    src = str(tmp_path / "ev_src")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = windowed_event_counts(stream, window="1 hour", watermark="4 hours")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "availableNow query did not terminate"
    finally:
        q.stop()
    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    exp = (
        windowed_event_counts(ev, window="1 hour")
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    # append-mode emits only watermark-closed windows; every emitted row
    # must match the batch result exactly
    merged = got.merge(
        exp, on=["window_start", "window_end", "event_type"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(got) > 0
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (abs(merged["sum_value_s"] - merged["sum_value_b"]) < 1e-9).all()
