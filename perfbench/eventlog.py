"""Per-call metrics from an uncompressed Spark event log.

The benchmark runs each timed call under its own job group and records the
call's wall-clock interval. After the session stops, :func:`summarize`
reads the event log and attributes every job, stage and task to the group
that launched it.
"""

from __future__ import annotations

import json
import os
import statistics


def read_events(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    with open(os.path.join(log_dir, names[0]), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def summarize(events: list[dict],
              calls: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Metrics per job group, for the groups named in ``calls``.

    ``calls`` maps a job group to the (start, end) epoch seconds of the
    benchmark call that ran under it. Per group:

    - ``jobs``: Spark jobs launched;
    - ``outside_jobs_s``: call wall time not covered by any of its jobs
      (driver planning, Python, driver-side I/O);
    - ``executor_cpu_s``, ``gc_s``: summed over tasks;
    - ``shuffle_mb``: shuffle bytes written; ``spill_mb``: disk bytes
      spilled; ``output_mb``: bytes written by output commits;
    - ``task_skew``: slowest / median task duration in the group's
      busiest stage (1.0 when that stage ran a single task).
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list[tuple[float, float]]] = {g: [] for g in calls}
    tasks: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in calls:
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            jid = ev["Job ID"]
            intervals[job_group[jid]].append(
                (job_start[jid], ev["Completion Time"] / 1000)
            )
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
            tasks.setdefault(ev["Stage ID"], []).append(ev)

    out: dict[str, dict] = {}
    for group, (t0, t1) in calls.items():
        clipped = [(max(a, t0), min(b, t1)) for a, b in intervals[group]]
        m = {
            "jobs": len(intervals[group]),
            "outside_jobs_s": max(0.0, (t1 - t0) - _union_seconds(
                [iv for iv in clipped if iv[1] > iv[0]])),
            "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
            "task_skew": 1.0,
        }
        busiest = 0.0
        for sid, evs in tasks.items():
            if stage_group[sid] != group:
                continue
            durations = []
            for ev in evs:
                tm = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                durations.append(info["Finish Time"] - info["Launch Time"])
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                m["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 1e6
                m["output_mb"] += (tm.get("Output Metrics") or {}).get(
                    "Bytes Written", 0) / 1e6
            if sum(durations) > busiest:
                busiest = sum(durations)
                med = statistics.median(durations)
                m["task_skew"] = max(durations) / med if med > 0 else 1.0
        out[group] = m
    return out
