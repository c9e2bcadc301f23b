"""SparkSession factory with engine defaults.

Single place where execution-relevant Spark conf is set so tests, bench and
spark-submit entrypoints share one tuning story:

- AQE on (runtime re-plan, skew-join splitting, coalesced shuffle reads)
- Arrow on (pandas UDF transport for the parse / CSR kernels)
- shuffle partitions sized for the sandbox; on a real cluster this is set
  per-job (≈2-3x total cores, or auto via AQE coalescing).
- the driver JVM compiles with C1 only (-XX:TieredStopAtLevel=1 in
  spark.driver.extraJavaOptions). A job here is one cold pass in a fresh
  JVM, and C2 compiles code the pass never runs long enough to earn back:
  on the 119k-edge durable PageRank benchmark (perfbench graph_durable,
  local[4], 4 cores) the C2 threads used about half of the driver JVM's
  CPU (50-62 of 106-134 CPU-s). Over 10 alternating pairs C1-only cut the
  timed pass's CPU by 46 % (median 55.2 -> 30.0 s) with its wall flat
  (17.0 -> 17.7 s); on the flagship text pass CPU fell 40 % (66.4 ->
  40.0 s) but the wall median rose 20 % (24.4 -> 29.3 s): C1 code is
  slower on the driver's critical path (py4j handler and task threads),
  and the C1 runs saw more host steal. At sf0.1 (586,871 edges,
  spark-submit, local[4]) CPU fell 23 % and the wall did not rise.
  Results are bitwise unchanged: Java 17 floating point is always strict
  (JEP 306), so no JIT tier can move a rank bit. Driver only: cluster
  executors are long-lived and run the data loops, so they keep C2 (in
  local[N] driver and executor are one JVM). A caller's own
  extraJavaOptions go after the flag and HotSpot takes the last
  occurrence, so
  extra_conf={"spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4"}
  restores the stock JIT. The long-lived test JVM ran slower under C1, so
  tests/conftest.py does that. get_spark always sets this key, so it
  replaces a spark.driver.extraJavaOptions from spark-defaults.conf: pass
  a deployment's own driver options through extra_conf. spark-submit
  starts the driver JVM before any builder conf is read, and the jobs/
  entry points build their own session, so there the flag goes on the
  command line (--driver-java-options). Only local[4] passes were
  measured (the benchmark above and the sf0.1 check in BASELINE.md), so
  only local[4] launch lines pass it; larger and cluster launch lines
  leave it off until a run at that scale is measured.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_JIT = "-XX:TieredStopAtLevel=1"


def get_spark(
    app_name: str = "deeprank-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("DEEPRANK_SPARK_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("DEEPRANK_SHUFFLE_PARTITIONS", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("DEEPRANK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = dict(extra_conf or {})
    conf["spark.driver.extraJavaOptions"] = (
        f"{_DRIVER_JIT} {conf.get('spark.driver.extraJavaOptions', '')}".strip()
    )
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
