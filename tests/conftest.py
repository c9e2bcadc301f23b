import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deeprank_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="deeprank-tests",
        master="local[4]",
        shuffle_partitions=8,
        # the suite is one long-lived driver JVM, where C2 earns its
        # compiles back: under get_spark's C1-only default, test_pagerank.py
        # + test_centrality.py took 149 and 120 s against 120 and 113 s with
        # the stock JIT (4 cores), and the whole suite ran far slower
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4",
        },
    )
    yield s
    s.stop()
