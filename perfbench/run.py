"""deeprank_spark benchmark: one process runs one batch job (a closed loop
with one client) on seeded inputs, checks every output against the repo's
oracles and prints every metric by name with its unit.

    python3 perfbench/run.py --workload {flagship,graph_durable} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. A run:

1. starts Spark (`session.get_spark`, fixed master and shuffle partitions)
   and builds the seeded input tables (`input`);
2. times exactly one pass of the job, the first in this JVM: the cold
   pass that every `spark-submit` of the job pays (the product runs one
   job per fresh JVM). `--seconds` sizes nothing: the pass is a fixed
   amount of work, about BENCHMARK.json's run_seconds on a 4-core host;
3. checks the pass's outputs against the oracles outside the timed window;
4. stops Spark and the JVM, waits for every process it started, removes
   its temp root and checks that nothing is left behind.

`--trace 0` reports the end-to-end metrics: setup_s (process start to the
start of the timed pass), job_s (wall time of the pass), cpu_s (CPU of the
whole process tree during the pass: this process, the JVM and Python
workers, from /proc) and peak_rss_mb (peak resident memory of the tree
during the pass).

`--trace 1` runs the same job with Spark's event log on and every layer
call in a span tagged with `setJobGroup`, and reports the per-layer
metrics (perfbench/README.md lists them). `trace.job_s` is the traced
pass's wall time; the tracing overhead is `trace.job_s` minus the untraced
job_s of the same seed.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. Lines before it: CHECK (check time and results), HYGIENE, RUN
(the pass's numbers with host steal) and, traced, TRACE (every span with
its event-log attribution). Spark's own logging goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

# fails fast, before any JVM starts, when the program is not in the checkout
from deeprank_spark.session import get_spark  # noqa: E402

import eventlog  # noqa: E402
import probe  # noqa: E402
from workloads import WORKLOADS, Ctx, Flagship, GraphDurable  # noqa: E402

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
EXPORT_BUCKETS = SHUFFLE_PARTITIONS
DRIVER_MEMORY = "1g"
RUNS_DIR = os.path.join(REPO, ".perfbench_runs")

SETUP_SPANS = ("session.get_spark", "input")
SPAN_FIELDS = (
    ("wall_s", "s"), ("tree_cpu_s", "s"), ("exec_cpu_s", "s"), ("jobs", "count"),
    ("tasks", "count"), ("retries", "count"), ("shuffle_write_mb", "MB"),
    ("output_mb", "MB"), ("steal_s", "s"),
)
EXTRAS = (
    ("pagerank.supersteps", "count"), ("pagerank.supersteps_per_s", "1/s"),
    ("pagerank.jobs_per_superstep", "jobs/superstep"), ("superstep.checkpoint_mb", "MB"),
    ("trace.job_s", "s"),
)


class Tracer:
    """Spans around layer calls. Off, a span does nothing; on, it tags the
    call's Spark jobs with a job group and records wall time, process-tree
    CPU and host steal."""

    def __init__(self, meter: probe.Meter, enabled: bool):
        self.meter = meter
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        group = f"{name}#{len(self.spans)}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        snap = self.meter.snapshot()
        try:
            yield
        finally:
            rec = self.meter.since(snap)
            rec.update(name=name, group=group)
            self.spans.append(rec)
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def _session(root: str, traced: bool):
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
    }
    if traced:
        os.makedirs(os.path.join(root, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
        })
    spark = get_spark(
        app_name="perfbench", master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _wait_children(timeout: float = 30.0) -> int:
    """Wait until this process has no descendants; kill stragglers.
    Returns how many had to be killed."""
    me = os.getpid()
    deadline = time.time() + timeout
    while time.time() < deadline:
        left = [p for p in probe.tree_pids(me) if p != me]
        if not left:
            return 0
        time.sleep(0.2)
    left = [p for p in probe.tree_pids(me) if p != me]
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    return len(left)


def _dir_mb(path: str) -> float:
    size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                size += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return size / (1024.0 * 1024.0)


def _layer_metrics(spans: list, attribution: dict) -> dict:
    """Per-span metrics, summed over the spans of one name. Spans a
    workload does not run read 0."""
    names = SETUP_SPANS + Flagship.layers + GraphDurable.layers
    totals = {n: {f: 0.0 for f, _ in SPAN_FIELDS} for n in names}
    for sp in spans:
        t = totals[sp["name"]]
        for f in ("wall_s", "tree_cpu_s", "steal_s"):
            t[f] += sp[f]
        for f, v in attribution.get(sp["group"], {}).items():
            t[f] += v
    return {f"{n}.{f}": {"value": totals[n][f], "unit": unit}
            for n in names for f, unit in SPAN_FIELDS}


def _extra_metrics(spans: list, attribution: dict, job: dict, extras: dict) -> dict:
    """Layer counters of the workload, PageRank rates and the traced pass
    time. Counters a workload does not have read 0."""
    derived = dict(extras)
    # PageRank's first leg and its resumed leg
    pr = [sp for sp in spans if sp["name"] in ("operators.pagerank", "superstep.resume")]
    steps = extras.get("pagerank.supersteps", 0)
    if steps:
        derived["pagerank.supersteps_per_s"] = steps / sum(sp["wall_s"] for sp in pr)
        derived["pagerank.jobs_per_superstep"] = sum(
            attribution.get(sp["group"], {}).get("jobs", 0) for sp in pr
        ) / steps
    derived["trace.job_s"] = job["wall_s"]
    return {name: {"value": derived.get(name, 0), "unit": unit} for name, unit in EXTRAS}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    traced = args.trace == 1
    t_start = probe.process_start_wall()

    # every file the run writes lives under its own temp root
    root = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(root, sub))
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    # every JVM the run starts (spark-submit's launcher and the driver)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -XX:-UsePerfData"
    )
    # the JVM's Python workers import deeprank_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None  # re-read TMPDIR

    me = os.getpid()
    meter = probe.Meter(me)
    tracer = Tracer(meter, traced)
    wl = WORKLOADS[args.workload]()
    spark = sampler = None
    try:
        with tracer.span("session.get_spark"):
            spark = _session(root, traced)
        tracer.sc = spark.sparkContext
        sampler = probe.RssSampler(me).start()
        ctx = Ctx(spark=spark, seed=args.seed, root=root, repo=REPO, tracer=tracer,
                  buckets=EXPORT_BUCKETS)
        with tracer.span("input"):
            wl.make_input(ctx)
        setup_s = time.time() - t_start

        sampler.reset()
        snap = meter.snapshot()
        out = wl.run_pass(ctx)
        job = meter.since(snap)
        job["peak_rss_mb"] = sampler.peak_mb()

        c0 = time.time()
        results = wl.check(ctx, out)
        check_s = time.time() - c0
        ops: dict[str, bool] = {}
        for key, ok in results.items():
            layer = key.split("/")[0]
            ops[layer] = ops.get(layer, True) and bool(ok)
        attempted = len(ops)
        failed = sum(1 for ok in ops.values() if not ok)
        print("CHECK " + json.dumps({"check_s": check_s, "results": results,
                                     **wl.notes(out)}), flush=True)
        extras = wl.extras(ctx, out)

        disk_mb = _dir_mb(root)
        _stop_spark(spark)
        spark = None
        killed = _wait_children()
        if traced:
            attribution = eventlog.attribute(os.path.join(root, "eventlog"))
            metrics = _layer_metrics(tracer.spans, attribution)
            metrics.update(_extra_metrics(tracer.spans, attribution, job, extras))
            print("TRACE " + json.dumps({"spans": tracer.spans,
                                         "attribution": attribution}), flush=True)
        else:
            metrics = {
                "job_s": {"value": job["wall_s"], "unit": "s"},
                "cpu_s": {"value": job["tree_cpu_s"], "unit": "s"},
                "peak_rss_mb": {"value": job["peak_rss_mb"], "unit": "MB"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
    finally:
        if spark is not None:  # a layer call raised: still stop the JVM
            _stop_spark(spark)
        if sampler is not None:
            sampler.stop()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)  # only when no other run is using it
        except OSError:
            pass

    removed = not os.path.exists(root)
    print("HYGIENE " + json.dumps({"temp_root_mb_at_end": disk_mb,
                                   "temp_root_removed": removed,
                                   "processes_killed": killed}), flush=True)
    print("RUN " + json.dumps({"workload": args.workload, "seed": args.seed,
                               "master": MASTER, "shuffle_partitions": SHUFFLE_PARTITIONS,
                               "setup_s": setup_s, "job": job}), flush=True)
    print(json.dumps({"correct": failed == 0 and removed and killed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
