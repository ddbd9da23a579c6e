"""Fold a Spark JSON event log into per-job-group work sums.

The task-metric fold follows ``tools/workmetrics.parse_event_log`` and adds
what the benchmark's per-layer table needs beyond it: the number of jobs
per group (superstep loops are bound by per-job overhead, not by data),
task run time, and bytes written by output tasks (snapshot commits and
checkpoints). Groups are the ``sc.setJobGroup`` ids the benchmark sets
around each layer call.
"""

from __future__ import annotations

import json
import os

FIELDS = (
    "n_jobs",
    "n_tasks",
    "cpu_s",
    "run_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "write_mb",
    "spill_mb",
    "peak_task_mem_mb",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf that writes an uncompressed event log into `log_dir`."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        # one file per application (Spark 4 rolls by default)
        "spark.eventLog.rolling.enabled": "false",
    }


def find_log(log_dir: str, app_id: str) -> str | None:
    """The finished log of a stopped application, or None."""
    path = os.path.join(log_dir, app_id)
    return path if os.path.exists(path) else None


def fold(path: str) -> dict[str, dict[str, float]]:
    """{job group: {field: sum}} over every job and task in the log;
    `peak_task_mem_mb` is a max, the rest are sums."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(FIELDS, 0.0))

    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "<ungrouped>"
                acc(group)["n_jobs"] += 1
                for info in ev.get("Stage Infos", []):
                    stage_group[info["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                if not tm:
                    continue
                a = acc(stage_group.get(ev.get("Stage ID"), "<ungrouped>"))
                a["n_tasks"] += 1
                a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                a["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
                sr = tm.get("Shuffle Read Metrics", {})
                a["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                a["shuffle_write_mb"] += (
                    tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                a["write_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
                a["spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / 1e6
                a["peak_task_mem_mb"] = max(
                    a["peak_task_mem_mb"], tm.get("Peak Execution Memory", 0) / 1e6
                )
    return out
