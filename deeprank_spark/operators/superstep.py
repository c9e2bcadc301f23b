"""Durable superstep checkpoint protocol and the plan pin of the superstep
kernels.

The north rule requires checkpointed rank/LABEL state per superstep with a
per-partition lineage table and iteration metrics, resumable mid-run.
pagerank.py writes its rank state itself (_write_superstep, with its own
lineage hashing) but publishes and scans the markers through the helpers
here; SuperstepCheckpointer is the whole protocol for the other kernels
(components, label propagation, HITS, eigenvector, SCC, paths), so one
external auditor can read any kernel's run directory the same way:

    <checkpoint_dir>/<run_id>/superstep=<k>/   parquet state at round k
    <checkpoint_dir>/<run_id>/lineage/         (superstep, partition_id,
                                                rows, checksum, wall_ms)
    <checkpoint_dir>/<run_id>/_DONE_<k>        json marker: round complete,
                                                published atomically

Resume scans the _DONE markers (local FS here; the Hadoop FileSystem API on
a cluster — the marker protocol is identical), re-reads the newest complete
round's parquet and restarts the loop at that round number. Label rounds
are pure functions of (previous labels, absolute round number), so a
resumed run reproduces the uninterrupted run's labels exactly — pinned by
tests/test_kernels.py's bitwise resume tests.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

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


class KernelRun:
    """Result handle for a distributed label kernel: final labels plus the
    iteration metrics the north rule asks for (per-round changed-vertex
    count and wall time)."""

    def __init__(self, labels: DataFrame, rounds: int, metrics: list,
                 wall_s: float, converged: bool):
        self.labels = labels
        self.rounds = rounds
        self.metrics = metrics
        self.wall_s = wall_s
        self.converged = converged


class SuperstepCheckpointer:
    """Writes one kernel run's durable rounds under <checkpoint_dir>/<run_id>.

    state_cols: the columns whose values define the state (hashed into the
    per-partition lineage checksum), e.g. ("id", "component").
    """

    def __init__(self, checkpoint_dir: str, run_id: str, state_cols: tuple):
        self.base = os.path.join(checkpoint_dir, run_id)
        self.state_cols = tuple(state_cols)
        os.makedirs(self.base, exist_ok=True)

    def completed(self) -> list:
        return completed_supersteps(self.base)

    def resume(self, spark: SparkSession):
        """(state, rounds_done, converged) from the newest complete round,
        or (None, 0, False) when nothing durable exists yet."""
        done = self.completed()
        if not done:
            return None, 0, False
        step = max(done)
        meta = read_marker(self.base, step)
        state = spark.read.parquet(os.path.join(self.base, f"superstep={step}"))
        return state, step, bool(meta.get("converged", False))

    def write(self, state: DataFrame, step: int, wall_ms: float,
              changed: int, converged: bool) -> DataFrame:
        """Parquet the round's state (the real lineage truncation point),
        append its per-partition lineage rows, drop the _DONE marker, and
        return the re-read frame (lineage rooted at the durable parquet).

        The state lands SORTED on the leading state column (the vertex
        id) within each file, so row-group min/max stats are tight and a
        point lookup ("vertex X's label at round k") of a 100-TB state
        prunes to ~one row group per file instead of scanning the round.
        Sort-within-partitions (not repartitionByRange): the range
        partitioner SAMPLES boundaries with an RDD-id-seeded RNG, so its
        layout differs between two runs of the same data and would break
        cross-run bitwise reproducibility — hash partitioning + in-file
        sort is fully value-determined (measured: rank maxdiff 6.9e-18
        under range layout vs 0.0 under this one)."""
        path = os.path.join(self.base, f"superstep={step}")
        rows = Observation()
        state.sortWithinPartitions(self.state_cols[0]).observe(
            rows, F.count(F.lit(1)).alias("n")
        ).write.mode("overwrite").parquet(path)
        self._lineage_rows(state, step, wall_ms, rows.get["n"]).write.mode(
            "append"
        ).parquet(os.path.join(self.base, "lineage"))
        write_marker(self.base, step, {
            "superstep": step,
            "wall_ms": wall_ms,
            "changed": int(changed),
            "converged": bool(converged),
        })
        return state.sparkSession.read.parquet(path)

    def write_sections(self, sections: dict, step: int, wall_ms: float,
                       changed: int, converged: bool, lineage_of: str,
                       extra_meta: dict | None = None) -> dict:
        """Multi-frame variant for kernels whose loop state is several
        frames of different schemas (SCC: done labels / remainder vertices
        / remainder edges). Each section parquets under
        superstep=<k>/<name>/ (schemas preserved per-section), the lineage
        rows hash the `lineage_of` section, and the _DONE marker records
        the section names so resume_sections can re-read them. Returns
        {name: re-read DataFrame}."""
        base = os.path.join(self.base, f"superstep={step}")
        out = {}
        rows = Observation()
        for name, df in sections.items():
            path = os.path.join(base, name)
            # each section sorted within partitions on its leading column
            # (id / edge source) for row-group min/max pruning — see write()
            df = df.sortWithinPartitions(df.columns[0])
            if name == lineage_of:
                df = df.observe(rows, F.count(F.lit(1)).alias("n"))
            df.write.mode("overwrite").parquet(path)
            out[name] = df.sparkSession.read.parquet(path)
        self._lineage_rows(out[lineage_of], step, wall_ms, rows.get["n"]).write.mode(
            "append"
        ).parquet(os.path.join(self.base, "lineage"))
        meta = {
            "superstep": step,
            "wall_ms": wall_ms,
            "changed": int(changed),
            "converged": bool(converged),
            "sections": sorted(sections),
            "lineage_of": lineage_of,
        }
        if extra_meta:
            meta.update(extra_meta)
        write_marker(self.base, step, meta)
        return out

    def resume_sections(self, spark: SparkSession):
        """(sections, rounds_done, converged, meta) from the newest
        complete round, or (None, 0, False, {}) when nothing exists."""
        done = self.completed()
        if not done:
            return None, 0, False, {}
        step = max(done)
        meta = read_marker(self.base, step)
        secs = {
            name: spark.read.parquet(
                os.path.join(self.base, f"superstep={step}", name)
            )
            for name in meta["sections"]
        }
        return secs, step, bool(meta.get("converged", False)), meta

    def _lineage_rows(self, state: DataFrame, step: int, wall_ms: float,
                      n_rows: int) -> DataFrame:
        """Per-partition (rows, checksum) of a state whose row count
        (n_rows) was observed on its own parquet write."""
        # an EMPTY state (degenerate but legal, e.g. an empty input graph)
        # must still leave a lineage row, or an auditor cannot tell
        # "empty by design" from "rows went missing"
        if n_rows == 0:
            return state.sparkSession.createDataFrame(
                [(step, -1, 0, 0, float(wall_ms))],
                "superstep int, partition_id int, rows bigint, "
                "checksum bigint, wall_ms double",
            )
        return (
            state.select(
                F.spark_partition_id().alias("partition_id"),
                F.xxhash64(*self.state_cols).alias("h"),
            )
            .groupBy("partition_id")
            .agg(F.count("*").alias("rows"), F.expr("bit_xor(h)").alias("checksum"))
            .select(
                F.lit(step).alias("superstep"),
                "partition_id",
                "rows",
                "checksum",
                F.lit(float(wall_ms)).alias("wall_ms"),
            )
        )


def read_kernel_lineage(spark: SparkSession, checkpoint_dir: str, run_id: str) -> DataFrame:
    return spark.read.parquet(os.path.join(checkpoint_dir, run_id, "lineage"))
