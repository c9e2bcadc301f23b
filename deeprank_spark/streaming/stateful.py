"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no streaming (SURVEY §2.11); these are the stateful
primitives a transcript/document FEED needs at 10^12-turn scale, where the
window/session builtins don't fit:

- first_seen_filter: exactly-once emission of new keys (streaming exact
  dedup — e.g. text_hash of incoming documents). State per key is a single
  marker; with watermark-based state TTL this is the bounded-state version
  of `dropDuplicates` on an unbounded stream.
- running_counts: per-key running totals emitted on every update (update
  mode) — the streaming analog of groupBy().count() with retained state.

Both give the same results under `trigger(availableNow)` batch-replay and a
live stream, and their state survives restarts via the checkpoint location.
One difference in how they run: with `state_ttl_ms`, first_seen_filter uses
ProcessingTimeTimeout, which always asks for another (no-data) batch, so an
availableNow query over it never terminates by itself (and
`processAllAvailable()` never returns); stop it once its progress shows the
input consumed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

FIRST_SEEN_OUT = StructType(
    [
        StructField("k", StringType(), False),
        StructField("first_ts", TimestampType(), True),
        StructField("n_in_batch", LongType(), False),
    ]
)
_SEEN_STATE = StructType([StructField("seen", LongType(), False)])

COUNT_OUT = StructType(
    [
        StructField("k", StringType(), False),
        StructField("total", LongType(), False),
    ]
)
_COUNT_STATE = StructType([StructField("total", LongType(), False)])


def _make_first_seen_fn(ttl_ms: int | None):
    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            # TTL expiry: forget the key; a later re-occurrence re-emits.
            state.remove()
            return
        n = 0
        first_ts = None
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf) and "ts" in pdf.columns:
                ts = pdf["ts"].min()
                first_ts = ts if first_ts is None else min(first_ts, ts)
        if state.exists:
            if ttl_ms is not None:
                # sliding TTL: every sighting renews the eviction clock
                state.setTimeoutDuration(ttl_ms)
            return  # key already emitted in an earlier batch: drop duplicates
        state.update((1,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"k": [key[0]], "first_ts": [first_ts], "n_in_batch": [n]})

    return fn


def first_seen_filter(
    stream: DataFrame, key_col: str = "k", state_ttl_ms: int | None = None
) -> DataFrame:
    """Emit each key exactly once (first batch it appears in).

    Input needs `key_col` (string) and optionally `ts`. Append-mode sink.

    state_ttl_ms bounds the per-key state on a genuinely infinite stream:
    a key idle for that long is evicted (ProcessingTimeTimeout) and a later
    re-occurrence re-emits — the standard bounded-state dedup contract
    (every sighting renews the clock). Default None keeps state forever,
    which is only appropriate for replay/backfill jobs whose key space is
    known to fit."""
    src = stream.select(
        stream[key_col].alias("k"),
        *(["ts"] if "ts" in stream.columns else []),
    )
    return src.groupBy("k").applyInPandasWithState(
        _make_first_seen_fn(state_ttl_ms),
        outputStructType=FIRST_SEEN_OUT,
        stateStructType=_SEEN_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if state_ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def _running_count_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n = sum(len(p) for p in pdfs)
    total = (state.get[0] if state.exists else 0) + n
    state.update((total,))
    yield pd.DataFrame({"k": [key[0]], "total": [total]})


def running_counts(stream: DataFrame, key_col: str = "k") -> DataFrame:
    """Per-key running totals across the whole stream (update mode)."""
    src = stream.select(stream[key_col].alias("k"))
    return src.groupBy("k").applyInPandasWithState(
        _running_count_fn,
        outputStructType=COUNT_OUT,
        stateStructType=_COUNT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ASOF_OUT = StructType(
    [
        StructField("k", LongType(), False),
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), True),
        StructField("asof_event_id", LongType(), True),
        StructField("asof_value", DoubleType(), True),
    ]
)
# last right row seen per key (the entire as-of state: O(1) per key)
_ASOF_STATE = StructType(
    [
        StructField("last_eid", LongType(), True),
        StructField("last_val", DoubleType(), True),
    ]
)


def _asof_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    parts = [p for p in pdfs if len(p)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True)
    rights = (
        pdf[pdf["side"] == 0]
        .sort_values(["ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    lefts = (
        pdf[pdf["side"] == 1]
        .sort_values(["ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    carry_eid, carry_val = (state.get if state.exists else (None, None))
    if len(lefts):
        # pandas merge_asof(direction='backward') reproduces the batch
        # asof_join exactly: exact-ts rights match, right ties resolve to
        # the max event_id (last in sort order). The carry-in (last right
        # value from earlier batches) fills the lefts NO in-batch right
        # serves, AFTER the merge — a prepended epoch-0 sentinel row would
        # violate merge_asof's sorted-key precondition for data at or
        # before the Unix epoch (backfills), crashing the batch.
        r = rights[["ts", "event_id", "value"]].rename(
            columns={"event_id": "asof_event_id", "value": "asof_value"}
        )
        if len(r):
            merged = pd.merge_asof(
                lefts[["ts", "event_id"]], r, on="ts", direction="backward"
            )
        else:
            merged = lefts[["ts", "event_id"]].copy()
            merged["asof_event_id"] = None
            merged["asof_value"] = None
        if carry_eid is not None:
            unmatched = merged["asof_event_id"].isna()
            merged.loc[unmatched, "asof_event_id"] = carry_eid
            merged.loc[unmatched, "asof_value"] = carry_val
        out = pd.DataFrame(
            {
                "k": key[0],
                "event_id": merged["event_id"],
                "ts": merged["ts"],
                "asof_event_id": merged["asof_event_id"].astype("Int64"),
                "asof_value": merged["asof_value"],
            }
        )
        yield out
    if len(rights):
        last = rights.iloc[-1]
        state.update((int(last["event_id"]), float(last["value"])))


# Reorder-buffered as-of state: the last finalized right row (the O(1)
# carry) plus the watermark-pending rows, column-wise as arrays (ts in
# epoch-nanoseconds). Buffer size is bounded by delay x per-key arrival
# rate — the standard watermark contract.
_ASOF_RB_STATE = StructType(
    [
        StructField("last_eid", LongType(), True),
        StructField("last_val", DoubleType(), True),
        StructField("buf_ts", ArrayType(LongType()), True),
        StructField("buf_eid", ArrayType(LongType()), True),
        StructField("buf_side", ArrayType(LongType()), True),
        StructField("buf_val", ArrayType(DoubleType()), True),
    ]
)


def _asof_rb_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    wm_ns = state.getCurrentWatermarkMs() * 1_000_000
    if state.exists:
        last_eid, last_val, b_ts, b_eid, b_side, b_val = state.get
        b_ts, b_eid = list(b_ts or []), list(b_eid or [])
        b_side, b_val = list(b_side or []), list(b_val or [])
    else:
        last_eid, last_val = None, None
        b_ts, b_eid, b_side, b_val = [], [], [], []
    for pdf in pdfs:
        if not len(pdf):
            continue
        b_ts.extend(int(t.value) for t in pd.to_datetime(pdf["ts"]))
        b_eid.extend(int(x) for x in pdf["event_id"])
        b_side.extend(int(x) for x in pdf["side"])
        b_val.extend(
            float(x) if pd.notna(x) else float("nan") for x in pdf["value"]
        )
    buf = pd.DataFrame(
        {"ts_ns": b_ts, "event_id": b_eid, "side": b_side, "value": b_val}
    )
    ready = buf[buf["ts_ns"] <= wm_ns]
    pending = buf[buf["ts_ns"] > wm_ns]
    if len(ready):
        ready = ready.assign(ts=pd.to_datetime(ready["ts_ns"]))
        rights = (
            ready[ready["side"] == 0]
            .sort_values(["ts", "event_id"], kind="mergesort")
            .reset_index(drop=True)
        )
        lefts = (
            ready[ready["side"] == 1]
            .sort_values(["ts", "event_id"], kind="mergesort")
            .reset_index(drop=True)
        )
        if len(lefts):
            # same sentinel-free carry fill as _asof_fn (epoch-0 sentinel
            # rows break merge_asof's sorted precondition on backfills)
            r = rights[["ts", "event_id", "value"]].rename(
                columns={"event_id": "asof_event_id", "value": "asof_value"}
            )
            if len(r):
                merged = pd.merge_asof(
                    lefts[["ts", "event_id"]], r, on="ts",
                    direction="backward",
                )
            else:
                merged = lefts[["ts", "event_id"]].copy()
                merged["asof_event_id"] = None
                merged["asof_value"] = None
            if last_eid is not None:
                unmatched = merged["asof_event_id"].isna()
                merged.loc[unmatched, "asof_event_id"] = last_eid
                merged.loc[unmatched, "asof_value"] = last_val
            yield pd.DataFrame(
                {
                    "k": key[0],
                    "event_id": merged["event_id"],
                    "ts": merged["ts"],
                    "asof_event_id": merged["asof_event_id"].astype("Int64"),
                    "asof_value": merged["asof_value"],
                }
            )
        if len(rights):
            last = rights.iloc[-1]
            last_eid, last_val = int(last["event_id"]), float(last["value"])
    state.update(
        (
            last_eid,
            last_val,
            [int(x) for x in pending["ts_ns"]],
            [int(x) for x in pending["event_id"]],
            [int(x) for x in pending["side"]],
            [float(x) for x in pending["value"]],
        )
    )
    if len(pending):
        # re-arm: fire as soon as the watermark next advances so buffered
        # rows finalize even if this key never receives another record
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)


def asof_enrich_reordered(stream: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """asof_enrich without the batch-monotone assumption (VERDICT r4 #5):
    rows are held in a per-key reorder buffer until the EVENT-TIME
    watermark (max observed ts minus `delay`) passes them, then finalized
    in timestamp order — so a right row arriving up to `delay` late (in a
    later micro-batch than a left row it should serve) still lands in
    front of that left row before either is processed. Within the
    watermark the result is EXACTLY the batch asof_join, whatever the
    arrival order; rows later than `delay` are the documented residual
    (the same contract every watermarked Spark aggregation makes).

    Left rows are emitted only once finalized, so emission latency is
    `delay` — the price of reordering. EventTimeTimeout re-fires keys with
    buffered rows on every watermark advance, so a key flushes even if it
    never receives another record; a replay/backfill should append one
    final far-future row (any key) to push the watermark past the tail.
    Input/output schemas identical to asof_enrich.

    Requires spark.sql.session.timeZone=UTC (the engine's session default,
    session.py): the reorder buffer compares the micro-batch's tz-naive
    pandas timestamps against getCurrentWatermarkMs(), which is UTC epoch
    millis — under any other session zone the ready/pending split would be
    silently shifted by the zone offset, so refuse loudly instead."""
    tz = stream.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
        raise ValueError(
            "asof_enrich_reordered requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the watermark comparison is in UTC epoch time "
            "and tz-naive batch timestamps would be offset-shifted"
        )
    src = stream.select("k", "ts", "event_id", "side", "value").withWatermark(
        "ts", delay
    )
    return src.groupBy("k").applyInPandasWithState(
        _asof_rb_fn,
        outputStructType=ASOF_OUT,
        stateStructType=_ASOF_RB_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def asof_enrich(stream: DataFrame) -> DataFrame:
    """Streaming twin of operators/asof.py asof_join (VERDICT r3 #7): each
    LEFT row (side=1) is enriched with the latest right row (side=0) of the
    same key at ts <= its own, carrying the last right value per key across
    micro-batches in O(1) state via applyInPandasWithState.

    Input columns: k long, ts timestamp, event_id long, side int,
    value double. Exactness contract: within a micro-batch the operator is
    EXACT (identical to the batch asof_join, including tie rules); across
    batches it assumes the feed is batch-monotone in event time (a right
    row never arrives in a later batch than a left row it should serve) —
    the same in-order assumption the last-value-carry pattern always makes;
    asof_enrich_reordered relaxes it with a watermark-bounded reorder
    buffer at the cost of emission latency. The parity test replays one
    dataset as 1, 2, and N micro-batches and checks all three against the
    batch operator."""
    src = stream.select("k", "ts", "event_id", "side", "value")
    return src.groupBy("k").applyInPandasWithState(
        _asof_fn,
        outputStructType=ASOF_OUT,
        stateStructType=_ASOF_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HH_OUT = StructType(
    [
        StructField("shard", LongType(), False),
        StructField("k", StringType(), False),
        StructField("est", LongType(), False),
        StructField("err", LongType(), False),
    ]
)
_HH_STATE = StructType(
    [
        StructField("keys", ArrayType(StringType()), False),
        StructField("counts", ArrayType(LongType()), False),
        StructField("errs", ArrayType(LongType()), False),
    ]
)


def _make_hh_fn(capacity: int):
    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        summary: dict = {}
        if state.exists:
            ks, cs, es = state.get
            summary = {k: [c, e] for k, c, e in zip(ks, cs, es)}
        batch = None
        for pdf in pdfs:
            vc = pdf["k"].value_counts()
            batch = vc if batch is None else batch.add(vc, fill_value=0)
        if batch is not None:
            # SpaceSaving merge of the batch's exact counts (Metwally 2005;
            # the loop is over DISTINCT batch keys + capacity, not rows —
            # the row-volume work happened in the vectorized value_counts)
            for k, c in batch.sort_values(ascending=False).items():
                c = int(c)
                if k in summary:
                    summary[k][0] += c
                elif len(summary) < capacity:
                    summary[k] = [c, 0]
                else:
                    mk = min(summary, key=lambda x: summary[x][0])
                    mc = summary[mk][0]
                    del summary[mk]
                    summary[k] = [mc + c, mc]
        ks = sorted(summary, key=lambda x: (-summary[x][0], x))
        state.update(
            (
                ks,
                [summary[k][0] for k in ks],
                [summary[k][1] for k in ks],
            )
        )
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(ks),
                "k": ks,
                "est": [summary[k][0] for k in ks],
                "err": [summary[k][1] for k in ks],
            }
        )

    return fn


def heavy_hitters(
    stream: DataFrame,
    key_col: str = "k",
    capacity: int = 64,
    shards: int = 8,
) -> DataFrame:
    """Streaming top-key tracking with BOUNDED state: sharded SpaceSaving
    summaries (Metwally et al. 2005). -> (shard, k, est, err) re-emitted
    per shard each batch (update mode); the reader unions shard summaries
    and takes the global top-k — SpaceSaving summaries are mergeable, and
    per-key the guarantee est >= true >= est - err holds, with every key
    of true frequency > N_shard/capacity guaranteed present in its shard.

    Scale shape: rows are counted vectorized (value_counts) inside each
    shard's Arrow batches; state per shard is <= capacity entries, so
    total state is shards*capacity rows regardless of stream length —
    the bounded-state answer to "what are the hot tools/urls/tokens in
    an unbounded transcript feed". `shards` spreads both the per-batch
    counting and the summary maintenance; one shard = the classic
    single-summary algorithm.
    """
    from pyspark.sql import functions as F

    src = stream.select(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(shards)).alias(
            "shard"
        ),
        F.col(key_col).cast("string").alias("k"),
    )
    return src.groupBy("shard").applyInPandasWithState(
        _make_hh_fn(capacity),
        outputStructType=HH_OUT,
        stateStructType=_HH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
