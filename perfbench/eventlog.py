"""Engine counters read from Spark's own event log (JSON lines)."""

from __future__ import annotations

import json
import os

#: spark.* metric name → unit, in output order.
SPARK_METRICS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.failed_tasks": "count",
}


def read_events(log_dir: str, app_id: str) -> list[dict]:
    """Events of application ``app_id`` (uncompressed, non-rolling log)."""
    with open(os.path.join(log_dir, app_id), encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def job_submit_times(events: list[dict]) -> list[float]:
    """Submission time (epoch seconds) of every job."""
    return [
        e["Submission Time"] / 1000.0
        for e in events
        if e["Event"] == "SparkListenerJobStart"
    ]


def counters(events: list[dict], windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Totals over the jobs submitted, stages completed and tasks
    finished inside any of ``windows`` (epoch seconds), divided by the
    number of windows: the engine's work per unit of benchmark work."""

    def inside(t_ms: float) -> bool:
        t = t_ms / 1000.0
        return any(a <= t < b for a, b in windows)

    tot = dict.fromkeys(SPARK_METRICS, 0.0)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart" and inside(e["Submission Time"]):
            tot["spark.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if inside(info.get("Completion Time", 0)):
                tot["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and inside(e["Task Info"]["Finish Time"]):
            tot["spark.tasks"] += 1
            if e["Task End Reason"]["Reason"] != "Success":
                tot["spark.failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            tot["spark.task_s"] += m.get("Executor Run Time", 0) / 1000.0
            tot["spark.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            tot["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            tot["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tot["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            tot["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    wall = sum(b - a for a, b in windows)
    tot["spark.busy_ratio"] = tot["spark.task_s"] / (wall * cores) if wall > 0 else 0.0
    n = max(len(windows), 1)
    return {k: (v if k == "spark.busy_ratio" else v / n) for k, v in tot.items()}
