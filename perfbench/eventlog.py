"""Engine-level per-layer metrics from a Spark event log (traced runs
only): shuffle bytes, spill, GC time and per-stage task skew."""

from __future__ import annotations

import json
import os
import statistics


def _lines(event_dir: str):
    """Event lines of every log under ``event_dir``, rolled (Spark's
    ``eventlog_v2_*`` directories) or not."""
    for root, _, names in os.walk(event_dir):
        for name in sorted(names):
            if name.startswith("appstatus") or name.startswith("."):
                continue
            with open(os.path.join(root, name)) as f:
                yield from f


def spark_metrics(event_dir: str, job_group: str | None = None) -> dict[str, float]:
    """Sum task metrics over the stages of ``job_group``'s jobs (every
    job when None). ``stage_task_skew_max`` is the largest ratio, over
    stages with at least two tasks, of the slowest task's duration to
    the median task duration."""
    group_stages: set[int] = set()
    tasks: dict[int, list[dict]] = {}
    for line in _lines(event_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if job_group is None or props.get("spark.jobGroup.id") == job_group:
                group_stages.update(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.setdefault(ev["Stage ID"], []).append(ev)
    out = dict.fromkeys(
        ("spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.gc_ms"), 0.0
    )
    skew = 1.0
    for stage, evs in tasks.items():
        if stage not in group_stages:
            continue
        durations = []
        for ev in evs:
            m = ev["Task Metrics"]
            out["spark.shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            read = m["Shuffle Read Metrics"]
            out["spark.shuffle_read_bytes"] += read["Remote Bytes Read"] + read["Local Bytes Read"]
            out["spark.spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            out["spark.gc_ms"] += m["JVM GC Time"]
            info = ev["Task Info"]
            durations.append(info["Finish Time"] - info["Launch Time"])
        if len(durations) >= 2:
            med = statistics.median(durations)
            skew = max(skew, max(durations) / max(med, 1))
    out["spark.stage_task_skew_max"] = skew
    return out
