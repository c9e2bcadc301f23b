"""applyInPandasWithState operators: streaming dedup + running counts.

Drives a real file-source stream twice against the same checkpoint to prove
state survives restarts (the first_seen filter must NOT re-emit keys seen
in the first run)."""

import datetime as dt
import time

from deeprank_spark.streaming.stateful import first_seen_filter, running_counts

SCHEMA = "k string, ts timestamp"


def _rows(spark, keys, base_min=0):
    base = dt.datetime(2026, 1, 1)
    return spark.createDataFrame(
        [(k, base + dt.timedelta(minutes=base_min + i)) for i, k in enumerate(keys)],
        SCHEMA,
    )


def _finish(q, n_rows=None):
    """End `q` before the test reads its output. An availableNow query stops
    by itself once the backlog is processed. One whose operator has a
    processing-time timeout keeps running no-data batches and never stops
    (nor does `processAllAvailable()` return), so pass `n_rows`, the rows
    it must consume: it is stopped once its progress shows them."""
    try:
        if n_rows is None:
            assert q.awaitTermination(120), "availableNow query did not terminate"
            return
        deadline = time.monotonic() + 120
        while sum(p["numInputRows"] for p in q.recentProgress) < n_rows:
            assert time.monotonic() < deadline, "query did not consume its input"
            time.sleep(0.1)
    finally:
        q.stop()


def _run_stream(spark, src, ck, out_fn, out_dir, mode, n_rows=None):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    w = out_fn(stream).writeStream.option("checkpointLocation", ck)
    if mode == "append":
        w = w.format("parquet").option("path", out_dir)
    else:
        # parquet sink rejects update mode; foreachBatch appends each
        # micro-batch's updated rows instead
        w = w.foreachBatch(
            lambda batch, _id: batch.write.mode("append").parquet(out_dir)
        )
    q = w.outputMode(mode).trigger(availableNow=True).start()
    _finish(q, n_rows)


def test_first_seen_filter_dedups_across_restarts(spark, tmp_path):
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    _rows(spark, ["a", "b", "a", "c"]).write.mode("append").parquet(src)
    _run_stream(spark, src, ck, first_seen_filter, out, "append")
    got1 = {r["k"] for r in spark.read.parquet(out).collect()}
    assert got1 == {"a", "b", "c"}

    # second micro-batch: two repeats + one new key; state must persist
    _rows(spark, ["b", "d", "c"], base_min=100).write.mode("append").parquet(src)
    _run_stream(spark, src, ck, first_seen_filter, out, "append")
    rows = spark.read.parquet(out).collect()
    ks = [r["k"] for r in rows]
    assert sorted(ks) == ["a", "b", "c", "d"], "repeat keys must not re-emit"


def test_running_counts_accumulate(spark, tmp_path):
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    _rows(spark, ["x", "x", "y"]).write.mode("append").parquet(src)
    _run_stream(spark, src, ck, running_counts, out, "update")
    _rows(spark, ["x", "y", "y"], base_min=50).write.mode("append").parquet(src)
    _run_stream(spark, src, ck, running_counts, out, "update")

    # last emitted total per key reflects the full stream
    rows = spark.read.parquet(out).collect()
    latest = {}
    for r in rows:
        latest[r["k"]] = max(latest.get(r["k"], 0), r["total"])
    assert latest == {"x": 3, "y": 3}


def test_first_seen_ttl_evicts_and_reemits(spark, tmp_path):
    """With state_ttl_ms, an idle key's marker is evicted (on the next
    batch after expiry) and a later re-occurrence re-emits — the bounded-
    state contract. ProcessingTimeTimeout fires for groups WITHOUT data in
    the batch, so eviction happens on the intermediate batch."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run(keys, base_min):
        _rows(spark, keys, base_min=base_min).write.mode("append").parquet(src)
        _run_stream(
            spark, src, ck,
            lambda s: first_seen_filter(s, state_ttl_ms=500),
            out, "append", n_rows=len(keys),
        )

    run(["a"], 0)
    time.sleep(1.5)           # let a's TTL lapse
    run(["b"], 100)           # a has no data here -> timeout fires, state dropped
    run(["a"], 200)           # re-occurrence after eviction -> re-emit
    ks = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert ks == ["a", "a", "b"], ks


def test_asof_enrich_stream_matches_batch(spark, tmp_path):
    """Streaming as-of == batch asof_join on the same data, replayed as
    one batch AND as three time-ordered micro-batches (state carries the
    last right value across batch boundaries)."""
    import random

    from deeprank_spark.operators.asof import asof_join
    from deeprank_spark.streaming.stateful import asof_enrich

    rng = random.Random(7)
    base = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(90):
        rows.append(
            (
                rng.randrange(5),                       # k
                base + dt.timedelta(minutes=i),         # ts (in time order)
                1000 + i,                               # event_id
                rng.randrange(2),                       # side
                float(rng.randrange(100)),              # value
            )
        )
    schema = "k long, ts timestamp, event_id long, side int, value double"
    df = spark.createDataFrame(rows, schema)

    left = df.where("side = 1").select("k", "ts", "event_id")
    right = df.where("side = 0").select("k", "ts", "event_id", "value")
    exp = {
        r["event_id"]: (r["asof_event_id"], r["asof_value"])
        for r in asof_join(
            left, right, key="k", right_id="event_id",
            payload=("event_id", "value"),
        ).withColumnRenamed("asof_event_id", "asof_event_id").collect()
    }

    for n_batches in (1, 3):
        src = str(tmp_path / f"src{n_batches}")
        ck = str(tmp_path / f"ck{n_batches}")
        out = str(tmp_path / f"out{n_batches}")
        chunk = len(rows) // n_batches
        for b in range(n_batches):
            lo = b * chunk
            hi = len(rows) if b == n_batches - 1 else (b + 1) * chunk
            spark.createDataFrame(rows[lo:hi], schema).write.mode(
                "append"
            ).parquet(src)
            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                asof_enrich(stream)
                .writeStream.option("checkpointLocation", ck)
                .format("parquet")
                .option("path", out)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _finish(q)
        got = {
            r["event_id"]: (r["asof_event_id"], r["asof_value"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == exp, f"n_batches={n_batches}"


def test_asof_enrich_reordered_tolerates_late_rights(spark, tmp_path):
    """asof_enrich_reordered == batch asof_join even when right rows arrive
    one micro-batch LATE (after left rows they should serve) — the case the
    plain carry operator's batch-monotone assumption excludes (VERDICT r4
    next-round #5). Two far-future flush rows (filtered out of the result)
    push the event-time watermark past the real data so every buffered row
    finalizes inside the availableNow replay."""
    import random

    from deeprank_spark.operators.asof import asof_join
    from deeprank_spark.streaming.stateful import asof_enrich_reordered

    rng = random.Random(13)
    base = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(80):
        rows.append(
            (
                rng.randrange(4),
                base + dt.timedelta(minutes=i),
                1000 + i,
                rng.randrange(2),
                float(rng.randrange(100)),
            )
        )
    schema = "k long, ts timestamp, event_id long, side int, value double"
    df = spark.createDataFrame(rows, schema)
    left = df.where("side = 1").select("k", "ts", "event_id")
    right = df.where("side = 0").select("k", "ts", "event_id", "value")
    exp = {
        r["event_id"]: (r["asof_event_id"], r["asof_value"])
        for r in asof_join(
            left, right, key="k", right_id="event_id",
            payload=("event_id", "value"),
        ).collect()
    }

    # arrival schedule: every third right row of the first half arrives in
    # batch 2, AFTER the batch-1 lefts it must serve (out-of-order feed)
    half = [r for r in rows if r[1] < base + dt.timedelta(minutes=40)]
    rest = [r for r in rows if r[1] >= base + dt.timedelta(minutes=40)]
    late = [r for i, r in enumerate(half) if r[3] == 0 and i % 3 == 0]
    b1 = [r for r in half if r not in late]
    b2 = late + rest
    flush1 = [(999, base + dt.timedelta(days=1), 99998, 1, 0.0)]
    flush2 = [(999, base + dt.timedelta(days=1, minutes=1), 99999, 1, 0.0)]
    assert late, "fixture must actually delay some right rows"

    src = str(tmp_path / "rb_src")
    ck = str(tmp_path / "rb_ck")
    out = str(tmp_path / "rb_out")
    for batch in (b1, b2, flush1, flush2):
        spark.createDataFrame(batch, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            asof_enrich_reordered(stream, delay="2 hours")
            .writeStream.option("checkpointLocation", ck)
            .format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _finish(q)
    got = {
        r["event_id"]: (r["asof_event_id"], r["asof_value"])
        for r in spark.read.parquet(out).collect()
        if r["k"] != 999
    }
    assert got == exp


class _FakeState:
    """Minimal GroupState stand-in for unit-driving the per-key fns."""

    def __init__(self, value=None, wm_ms=0):
        self._v = value
        self._wm = wm_ms

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ts):
        pass


def test_asof_fn_carry_with_epoch_boundary_backfill():
    """Regression (round-5 review): the old carry implementation prepended
    a pd.Timestamp(0) sentinel right row, which violates merge_asof's
    sorted-key precondition whenever a buffered row has ts <= epoch —
    backfills of 1969/1970 data crashed the batch. The carry is now a
    post-merge fill; pre-epoch lefts must take the carry, post-right
    lefts must take the in-batch right."""
    import pandas as pd

    from deeprank_spark.streaming.stateful import _asof_fn

    state = _FakeState(value=(500, 7.0))  # carry from an earlier batch
    pdf = pd.DataFrame(
        {
            "k": [1] * 4,
            "ts": pd.to_datetime(
                [
                    "1969-12-31 23:00:00",  # left BEFORE epoch -> carry
                    "1970-01-01 00:00:00",  # left AT epoch -> carry
                    "1970-01-01 01:00:00",  # right
                    "1970-01-01 02:00:00",  # left after right -> right
                ]
            ),
            "event_id": [10, 11, 20, 12],
            "side": [1, 1, 0, 1],
            "value": [None, None, 3.0, None],
        }
    )
    [out] = list(_asof_fn((1,), iter([pdf]), state))
    by_eid = {r.event_id: (r.asof_event_id, r.asof_value) for r in out.itertuples()}
    assert by_eid[10] == (500, 7.0)
    assert by_eid[11] == (500, 7.0)
    assert by_eid[12] == (20, 3.0)
    assert state.get == (20, 3.0)  # carry advanced to the new last right


def test_asof_reordered_refuses_non_utc_session(spark):
    """Regression (round-5 review): the reorder buffer compares tz-naive
    batch timestamps to the UTC-epoch watermark; any other session zone
    silently shifts the ready/pending split, so the operator refuses."""
    import pytest as _pytest

    from deeprank_spark.streaming.stateful import asof_enrich_reordered

    schema = "k long, ts timestamp, event_id long, side int, value double"
    df = spark.createDataFrame([], schema)
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        with _pytest.raises(ValueError, match="timeZone"):
            asof_enrich_reordered(df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_heavy_hitters_bounds_and_restart(spark, tmp_path):
    """Sharded SpaceSaving: est >= true >= est - err for every reported
    key; keys hot enough (> N_shard/capacity) are guaranteed present;
    state survives a second availableNow run on the same checkpoint."""
    from collections import Counter

    from deeprank_spark.streaming.stateful import heavy_hitters

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    # skewed stream: 'hot' dominates, 'warm' is frequent, long tail of
    # one-off keys to pressure the capacity-4 summaries
    batch1 = ["hot"] * 30 + ["warm"] * 12 + [f"t{i}" for i in range(25)]
    batch2 = ["hot"] * 20 + ["warm"] * 10 + [f"u{i}" for i in range(25)]

    def run(keys, base):
        _rows(spark, keys, base_min=base).write.mode("append").parquet(src)
        _run_stream(
            spark,
            src,
            ck,
            lambda s: heavy_hitters(s, capacity=4, shards=2),
            out,
            "update",
        )

    run(batch1, 0)
    run(batch2, 1000)

    true = Counter(batch1 + batch2)
    rows = spark.read.parquet(out).collect()
    # last emission per (shard, k) = the final summary state
    latest = {}
    for r in rows:
        cur = latest.get((r["shard"], r["k"]))
        if cur is None or r["est"] >= cur[0]:
            latest[(r["shard"], r["k"])] = (r["est"], r["err"])
    final_keys = {k for (_, k) in latest}
    assert "hot" in final_keys and "warm" in final_keys
    for (shard, k), (est, err) in latest.items():
        assert est >= true[k] >= est - err, (k, est, err, true[k])
    # the global top-2 by est must be the genuinely hot keys
    top = sorted(latest.items(), key=lambda kv: -kv[1][0])[:2]
    assert {k for ((_, k), _) in top} == {"hot", "warm"}
