"""Reader for Spark's JSON event log: task metrics summed per job
description.

The benchmark sets a job description (`SparkContext.setJobDescription`)
around each public call it times, so every job, and every stage and task of
that job, is attributed to the call that caused it. Stage names cannot do
this: write stages are all called `parquet at NativeMethodAccessorImpl.java:0`.
"""

from __future__ import annotations

import json
import os

# Spark settings that make the log one plain JSON-lines file per application
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def conf(log_dir: str) -> dict[str, str]:
    return {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def read(log_dir: str) -> dict[str, dict[str, float]]:
    """{job description: metrics} over every finished log file in log_dir.
    Metrics: tasks, executor_run_ms, executor_cpu_ms, gc_ms,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes, job_ms (the union
    of the description's job intervals, submit to completion)."""
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_desc: dict[int, str] = {}
    intervals: dict[str, list[tuple[int, int]]] = {}
    tasks: list[tuple[int, dict]] = []
    for fn in sorted(os.listdir(log_dir)):
        if fn.endswith(".inprogress"):
            continue
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    jid = ev["Job ID"]
                    job_desc[jid] = desc
                    job_start[jid] = ev["Submission Time"]
                    for sid in ev["Stage IDs"]:
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        intervals.setdefault(job_desc[jid], []).append(
                            (job_start[jid], ev["Completion Time"])
                        )
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    out: dict[str, dict[str, float]] = {}
    for sid, tm in tasks:
        m = out.setdefault(stage_desc.get(sid, ""), _zero())
        m["tasks"] += 1
        m["executor_run_ms"] += tm.get("Executor Run Time", 0)
        m["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        m["gc_ms"] += tm.get("JVM GC Time", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    for desc, ivs in intervals.items():
        out.setdefault(desc, _zero())["job_ms"] = _union_ms(ivs)
    return out


def _zero() -> dict[str, float]:
    return dict.fromkeys(
        ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "job_ms"), 0,
    )
