"""Plan shape of one hits_distributed superstep: the a-gather (the join of
the hub state against the src-partitioned edge copy) is planned once."""

import re

from deeprank_spark.operators.hits import hits_distributed


def _gather_exchanges(plan: str) -> int:
    # a gather exchange: the shuffle right above the partial sum over the
    # `ed` (edge destination) column of the src-partitioned edge copy
    lines = plan.splitlines()
    return sum(
        1
        for i, ln in enumerate(lines)
        if "Exchange hashpartitioning" in ln
        and any(re.search(r"Project \[ed#\d+L? AS id#", x) for x in lines[i + 1:i + 3])
    )


def test_hits_superstep_plans_one_a_gather(spark, monkeypatch):
    edges = [(i, (i * 7 + 1) % 40) for i in range(40)] + [(i, (3 * i) % 40) for i in range(40)]
    e = spark.createDataFrame(edges, "src long, dst long")
    cls = type(e)
    plans = []
    orig = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    hits_distributed(e, max_iter=3, tol=0.0, num_partitions=4).collect()
    steps = [p for p in plans if "hits_step_" in p]
    assert len(steps) == 3
    for p in steps:
        assert _gather_exchanges(p) == 1, p
