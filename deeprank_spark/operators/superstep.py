"""The superstep loop of every distributed iterative kernel, its durable
commit protocol and the plan pin of the superstep kernels.

The north rule requires checkpointed rank/label state per superstep with a
per-partition lineage table and iteration metrics, resumable mid-run.
`run` is that protocol, written once. A kernel supplies a step function
that returns the next round's state as a lazy DataFrame plus the
aggregates it wants measured, and the loop owns the rest:

- init or resume: the state comes from `init()`, or from the newest
  complete round of the run dir together with its round number and the
  values observed on it;
- one eager localCheckpoint per round, with every per-round scalar
  (changed count, L1 delta, dangling mass, normalizers) collected by one
  Observation on that same job;
- lineage: strong references to every checkpointed round between resets,
  and every `interval` rounds a parquet round trip, which truncates the
  RDD lineage and re-derives plan statistics. Durable runs make it the
  durable write; other runs write a temp dir (tmpfs when there is one);
- durable writes through SuperstepCheckpointer, including the last round
  at the max_iter cap, so that a resumed run continues from it;
- one metrics row per round: round, wall_ms and the observed values.

One auditor (tools/lineage_audit.py) reads every kernel's run dir:

    <checkpoint_dir>/<run_id>/superstep=<k>/   parquet state at round k
                                                (one subdir per section for
                                                a multi-frame state)
    <checkpoint_dir>/<run_id>/lineage/superstep=<k>/
                                               (partition_id, rows,
                                                checksum, wall_ms)
    <checkpoint_dir>/<run_id>/_DONE_<k>        json marker: round complete,
                                                its observed values and the
                                                state schema; published
                                                atomically, last

Every file of round k is overwritten when round k is redone, so a crash
anywhere before _DONE_k publishes leaves a run whose resume rewrites round
k instead of adding a second copy of its lineage rows.

Resume scans the _DONE markers (local FS here; the Hadoop FileSystem API on
a cluster — the marker protocol is identical), re-reads the newest complete
round's parquet with the schema its marker records (no inference job) and
restarts the loop at that round number. Rounds are pure functions of (the
previous state, the absolute round number, the previous round's observed
values), so a resumed run reproduces the uninterrupted run — pinned by the
resume tests of tests/test_kernels.py, test_pagerank.py and test_hits.py.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Lineage-reset cadence of the kernels that take no checkpoint_interval.
RESET_EVERY = 5

# Session settings a superstep loop fixes for its whole call. With AQE on,
# every query stage is submitted as its own job, a checkpointed state scans
# as UnknownPartitioning (so each join on it re-shuffles the state) and
# coalescing changes partition counts between supersteps; under the
# broadcast threshold a cached edge table is re-broadcast every superstep.
# Pinned, the state keeps hashpartitioning(id, P) through localCheckpoint
# and every join against it, or against an edge table partitioned on the
# same key, is an exchange-free sort-merge join: one fixed plan per
# superstep instead of a re-plan per query stage.
_PLAN_PINS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def pinned_plan(spark: SparkSession, partitions: int):
    """Pin the plan settings above and spark.sql.shuffle.partitions=P for
    the block; every one of them (shuffle partitions too, if the block
    changes it) is restored on exit, raised or not.

    NOT re-entrant on a shared SparkSession: a concurrent query on the
    SAME session runs under these settings. Kernel jobs own their session
    (spark-submit per job); give concurrent interactive work its own
    session or serialize kernel calls."""
    pins = {**_PLAN_PINS, "spark.sql.shuffle.partitions": str(partitions)}
    saved = {k: spark.conf.get(k) for k in pins}
    try:
        for k, v in pins.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def completed_supersteps(base: str) -> list:
    """Steps with a _DONE_<k> marker under a run dir, ascending. Local-FS
    scan; on a cluster this goes through the Hadoop FileSystem API — the
    marker protocol is identical."""
    if not os.path.isdir(base):
        return []
    return sorted(
        int(name[len("_DONE_"):])
        for name in os.listdir(base)
        if name.startswith("_DONE_")
    )


def read_marker(base: str, step: int) -> dict:
    with open(os.path.join(base, f"_DONE_{step}")) as f:
        return json.load(f)


def write_marker(base: str, step: int, meta: dict) -> None:
    """Atomic _DONE_<k>: the json goes to a temp name first, then
    os.replace publishes it, so a crash mid-write leaves no torn marker,
    only a stray temp file. The temp name must not start with "_DONE_":
    resume and tools/lineage_audit.py parse that prefix's suffix as a
    step number."""
    tmp = os.path.join(base, f"_tmp_DONE_{step}")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(base, f"_DONE_{step}"))


def _roundtrip(df: DataFrame, path: str, sort: bool = False,
               rows: Observation | None = None) -> DataFrame:
    """Write `df` as parquet at `path` (overwrite) and read it back with
    df's own schema, so the read runs no schema-inference job and its
    lineage starts at the files. `rows` observes the row count on the
    write job."""
    out = df.sortWithinPartitions(df.columns[0]) if sort else df
    if rows is not None:
        out = out.observe(rows, F.count(F.lit(1)).alias("n"))
    out.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def _hash_cols(df: DataFrame) -> list:
    """The columns a lineage checksum hashes: all of them, a double `rank`
    (PageRank) through format_number(12) — the normalization
    tools/lineage_audit.py applies when it re-folds the parquet."""
    return [
        F.format_number(f.name, 12)
        if f.name == "rank" and f.dataType.simpleString() == "double"
        else F.col(f.name)
        for f in df.schema.fields
    ]


class KernelRun:
    """Result handle of a distributed kernel: the result frame plus the
    iteration metrics the north rule asks for (one row per round: round,
    wall_ms and the round's observed values) and `last`, the newest
    round's observed values."""

    def __init__(self, labels: DataFrame, rounds: int, metrics: list,
                 wall_s: float, converged: bool, last: dict | None = None):
        self.labels = labels
        self.rounds = rounds
        self.metrics = metrics
        self.wall_s = wall_s
        self.converged = converged
        self.last = last or {}

    def finish(self, out: DataFrame, return_run: bool):
        """A kernel's return value: `out`, or this handle holding it."""
        self.labels = out
        return self if return_run else out


class SuperstepCheckpointer:
    """Writes and resumes one kernel run's durable rounds under
    <checkpoint_dir>/<run_id>. A state is one DataFrame, or a dict of
    named sections for a loop state of several frames (SCC: done labels /
    remainder vertices / remainder edges); the lineage rows of a sectioned
    round hash its first section."""

    def __init__(self, checkpoint_dir: str, run_id: str):
        self.base = os.path.join(checkpoint_dir, run_id)
        os.makedirs(self.base, exist_ok=True)

    def resume(self, spark: SparkSession):
        """(state, round, marker) of the newest complete round, or
        (None, 0, {}) when nothing durable exists yet."""
        done = completed_supersteps(self.base)
        if not done:
            return None, 0, {}
        step = max(done)
        meta = read_marker(self.base, step)
        path = os.path.join(self.base, f"superstep={step}")

        def read(p: str, schema: str) -> DataFrame:
            return spark.read.schema(StructType.fromJson(json.loads(schema))).parquet(p)

        if "sections" in meta:
            state = {
                name: read(os.path.join(path, name), meta["schema"][name])
                for name in meta["sections"]
            }
        else:
            state = read(path, meta["schema"])
        return state, step, meta

    def write(self, state, step: int, wall_ms: float, values: dict,
              converged: bool):
        """Parquet the round's state (the real lineage truncation point),
        overwrite its per-partition lineage rows, publish the _DONE marker
        and return the state re-read from the parquet.

        Each frame lands SORTED on its leading column (the vertex id, the
        edge source) within each file, so row-group min/max stats are
        tight and a point lookup ("vertex X's label at round k") of a
        100-TB state prunes to ~one row group per file instead of scanning
        the round. Sort-within-partitions (not repartitionByRange): the
        range partitioner SAMPLES boundaries with an RDD-id-seeded RNG, so
        its layout differs between two runs of the same data and would
        break cross-run bitwise reproducibility — hash partitioning +
        in-file sort is fully value-determined (measured: rank maxdiff
        6.9e-18 under range layout vs 0.0 under this one)."""
        path = os.path.join(self.base, f"superstep={step}")
        frames = state if isinstance(state, dict) else {"": state}
        hashed = next(iter(frames))
        rows = Observation()
        out = {
            name: _roundtrip(df, os.path.join(path, name), sort=True,
                             rows=rows if name == hashed else None)
            for name, df in frames.items()
        }
        self._lineage_rows(frames[hashed], wall_ms, rows.get["n"]).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.base, "lineage", f"superstep={step}"))
        meta = {"superstep": step, "wall_ms": wall_ms,
                "converged": bool(converged), **values}
        if isinstance(state, dict):
            meta["sections"] = list(state)
            meta["lineage_of"] = hashed
            meta["schema"] = {n: df.schema.json() for n, df in state.items()}
        else:
            meta["schema"] = state.schema.json()
        write_marker(self.base, step, meta)
        return out if isinstance(state, dict) else out[""]

    @staticmethod
    def _lineage_rows(state: DataFrame, wall_ms: float, n_rows: int) -> DataFrame:
        """Per-partition (rows, checksum) of a state whose row count
        (n_rows) was observed on its own parquet write."""
        # an EMPTY state (degenerate but legal, e.g. an empty input graph)
        # must still leave a lineage row, or an auditor cannot tell
        # "empty by design" from "rows went missing"
        if n_rows == 0:
            return state.sparkSession.createDataFrame(
                [(-1, 0, 0, float(wall_ms))],
                "partition_id int, rows bigint, checksum bigint, wall_ms double",
            )
        return (
            state.select(
                F.spark_partition_id().alias("partition_id"),
                F.xxhash64(*_hash_cols(state)).alias("h"),
            )
            .groupBy("partition_id")
            .agg(F.count("*").alias("rows"), F.expr("bit_xor(h)").alias("checksum"))
            .select("partition_id", "rows", "checksum",
                    F.lit(float(wall_ms)).alias("wall_ms"))
        )


def read_kernel_lineage(spark: SparkSession, checkpoint_dir: str, run_id: str) -> DataFrame:
    """The lineage table of a durable run: (partition_id, rows, checksum,
    wall_ms, superstep), the superstep column from the partition dirs."""
    return spark.read.parquet(os.path.join(checkpoint_dir, run_id, "lineage"))


_TMP_PARENT = "/dev/shm" if os.path.isdir("/dev/shm") else None


def run(spark: SparkSession, step, init, *, max_iter: int, done=None,
        interval: int = RESET_EVERY, checkpoint_dir: str | None = None,
        run_id: str = "run", resume: bool = False, settle=None, save=None,
        load=None) -> KernelRun:
    """Drive one kernel to convergence or to `max_iter` rounds.

    init() -> (state, values): the round-0 state and the values a first
        step reads as `last` (e.g. PageRank's initial dangling mass).
    step(state, r, last) -> (frame, measure): round r+1 as a lazy frame
        and {name: aggregate Column} observed on its checkpoint job.
        `last` holds the previous round's observed values (on resume: its
        _DONE marker). A step that materializes a compound round itself
        (SCC's outer round) returns its state and measured values instead.
    settle(frame, values) -> state: the loop state made of the
        checkpointed frame (default: the frame); may add values.
    done(row) -> bool: converged after the round whose metrics row
        (round, wall_ms and the observed values) is `row` (default: never
        — a fixed number of rounds).
    save(state) / load(stored): the durable form of a state and back
        (default: as is). `load` also applies to a resumed state.

    Returns a KernelRun whose `labels` is the final state — in its durable
    form when the last round was written — and whose `converged` is the
    loop's; the kernel decides whether an unconverged run raises."""
    t0 = time.time()
    ckpt = SuperstepCheckpointer(checkpoint_dir, run_id) if checkpoint_dir else None
    state, r, last = ckpt.resume(spark) if ckpt and resume else (None, 0, {})
    converged = bool(last.get("converged", False))
    stored = state is not None  # state is in its durable form
    if not stored:
        state, last = init()
    saved = r if stored else -1
    held: list = []  # strong refs: keep checkpoint blocks alive between resets
    metrics: list = []
    tmp = prev_tmp = None

    def persist():
        nonlocal saved, stored
        wall_ms = metrics[-1]["wall_ms"] if metrics else 0.0
        out = ckpt.write(save(state) if save else state, r, wall_ms, last, converged)
        saved, stored = r, True
        held.clear()
        return out

    while not converged and r < max_iter:
        it0 = time.time()
        if stored and load:
            state = load(state)
        stored = False
        frame, measure = step(state, r, last)
        if isinstance(frame, DataFrame):
            # named for the plan: <run_id>_step_<k>
            obs = Observation(f"{run_id}_step_{r + 1}")
            if measure:
                frame = frame.observe(obs, *[c.alias(k) for k, c in measure.items()])
            frame = frame.localCheckpoint(eager=True)
            values = obs.get if measure else {}
        else:
            values = dict(measure)
        held.append(frame)
        state = settle(frame, values) if settle else frame
        r += 1
        last = values
        metrics.append({"round": r, "wall_ms": (time.time() - it0) * 1000.0, **values})
        converged = bool(done(metrics[-1])) if done else False
        if r % interval and not converged:
            continue
        if ckpt:
            state = persist()
        elif not converged and r < max_iter:
            # a non-durable reset: parquet on tmpfs, the previous one deleted
            # (the last one stays until exit: it is the recovery lineage of
            # the result's checkpoint blocks)
            if tmp is None:
                tmp = tempfile.mkdtemp(prefix="deeprank_superstep_", dir=_TMP_PARENT)
                atexit.register(shutil.rmtree, tmp, ignore_errors=True)
            path = os.path.join(tmp, f"s{r}")
            if isinstance(state, dict):
                state = {n: _roundtrip(df, os.path.join(path, n)) for n, df in state.items()}
            else:
                state = _roundtrip(state, path)
            if prev_tmp:
                shutil.rmtree(prev_tmp, ignore_errors=True)
            prev_tmp = path
            held.clear()
    if ckpt and r > saved:
        # the max_iter cap between writes: persist the last round, so a
        # resumed run (a larger budget) continues here
        state = persist()
    return KernelRun(state, r, metrics, time.time() - t0, converged, last)
