"""Per-layer attribution from Spark's event log.

The traced run starts Spark with `spark.eventLog.enabled=true` and
`spark.eventLog.compress=false` (no zstd module is installed to read the
default codec) and tags every layer call with `setJobGroup`. Spark copies
the group id into the properties of each job and stage it submits, so the
event log alone says which layer ran which job, stage and task.
"""

from __future__ import annotations

import json
import os

GROUP_KEY = "spark.jobGroup.id"
MB = 1024.0 * 1024.0


def _new_counts() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "retries": 0,
        "exec_cpu_s": 0.0,
        "shuffle_write_mb": 0.0,
        "output_mb": 0.0,
    }


def _event_lines(log_dir: str):
    for dirpath, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def attribute(log_dir: str) -> dict[str, dict]:
    """Job group id -> {jobs, tasks, retries, exec_cpu_s, shuffle_write_mb,
    output_mb}. `retries` counts task attempts that did not succeed. Work
    outside any group is collected under the empty id."""
    out: dict[str, dict] = {}
    stage_group: dict[tuple, str] = {}
    for ev in _event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            out.setdefault(group, _new_counts())["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]), "")
            c = out.setdefault(group, _new_counts())
            c["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c["retries"] += 1
            m = ev.get("Task Metrics") or {}
            c["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            )
            c["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    return out
