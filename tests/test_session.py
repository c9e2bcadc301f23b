"""get_spark's driver JVM profile: C1-only JIT, caller options merged after it.

The session fixture's JVM is already up (JVM options are fixed at launch),
so each case starts its own driver in a subprocess.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from deeprank_spark.session import get_spark
s = get_spark(master="local[1]",
              extra_conf={"spark.driver.extraJavaOptions": sys.argv[2]})
jvm = s.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
args = list(mf.getRuntimeMXBean().getInputArguments())
hs = mf.getPlatformMXBean(jvm.java.lang.Class.forName(
    "com.sun.management.HotSpotDiagnosticMXBean"))
level = hs.getVMOption("TieredStopAtLevel").getValue()
s.stop()
print("PROBE " + json.dumps({"args": args, "level": level}))
"""


def _launch(caller_opts):
    env = {**os.environ, "DEEPRANK_DRIVER_MEM": "512m"}
    return subprocess.Popen(
        [sys.executable, "-c", _PROBE, REPO, caller_opts],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env,
    )


def _result(proc):
    out, _ = proc.communicate(timeout=300)
    assert proc.returncode == 0, out
    line = [ln for ln in out.splitlines() if ln.startswith("PROBE ")][-1]
    return json.loads(line[len("PROBE "):])


def test_driver_jit_profile_merges_caller_options():
    # both drivers start together: two JVM start-ups for the price of one
    plain = _launch("-Dgraft.probe=1")
    stock = _launch("-Dgraft.probe=1 -XX:TieredStopAtLevel=4")
    a, b = _result(plain), _result(stock)

    args = a["args"]
    assert "-XX:TieredStopAtLevel=1" in args and "-Dgraft.probe=1" in args
    assert args.index("-XX:TieredStopAtLevel=1") < args.index("-Dgraft.probe=1")
    assert a["level"] == "1"

    # a caller's own tier comes last, and HotSpot takes the last occurrence
    levels = [x for x in b["args"] if x.startswith("-XX:TieredStopAtLevel=")]
    assert levels[-1] == "-XX:TieredStopAtLevel=4"
    assert b["args"].index("-Dgraft.probe=1") < b["args"].index(levels[-1])
    assert b["level"] == "4"
