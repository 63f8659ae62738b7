"""Reader for an uncompressed, non-rolled Spark event log.

Each job is placed in a bucket by ``assign(job)``: the benchmark names its
job groups ``pb/<pass>/<query>/<phase>``, and a job outside those groups
(a streaming micro-batch runs on its query's own thread and group) falls in
the bucket whose time window holds the job's submission time. Per bucket
the reader sums task counters and takes the union of job wall intervals.
"""

from __future__ import annotations

import json
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "eager_jobs",
    "eager_tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "task_wait_s",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_fetch_wait_s",
    "spill_disk_bytes",
    "peak_exec_memory_bytes",
    "bytes_to_python",
    "bytes_from_python",
    "s",
)


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def parse_group(group: str | None) -> tuple[int, int, str] | None:
    """``pb/<pass>/<query>/<phase>`` → (pass, query, phase), else None."""
    if not group or not group.startswith("pb/"):
        return None
    try:
        _, p, q, phase = group.split("/")
        return int(p), int(q), phase
    except ValueError:
        return None


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``(start, end)`` intervals, in the same unit."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def scheduler_delay_ms(info: dict, metrics: dict) -> float:
    """Spark UI's scheduler delay: task duration not spent deserializing,
    running, serializing the result or fetching it."""
    duration = info["Finish Time"] - info["Launch Time"]
    busy = (
        metrics.get("Executor Run Time", 0)
        + metrics.get("Executor Deserialize Time", 0)
        + metrics.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    return max(0.0, duration - busy)


def summarize(events, assign) -> dict:
    """Bucket → counters. ``assign(group, submit_ms)`` returns the bucket
    key of a job (or None to drop it) and whether it ran during plan
    construction."""
    out: dict = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    job_bucket: dict[int, tuple] = {}
    stage_job: dict[int, int] = {}
    job_start: dict[int, float] = {}
    intervals: dict = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key, eager = assign(props.get("spark.jobGroup.id"), ev["Submission Time"])
            if key is None:
                continue
            jid = ev["Job ID"]
            job_bucket[jid] = (key, eager)
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            out[key]["jobs"] += 1
            out[key]["eager_jobs"] += int(eager)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_bucket:
                key = job_bucket[jid][0]
                intervals[key].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                out[job_bucket[jid][0]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            key, eager = job_bucket[jid]
            c = out[key]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            c["eager_tasks"] += int(eager)
            c["failed_tasks"] += int(bool(info.get("Failed")))
            c["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["task_wait_s"] += scheduler_delay_ms(info, m) / 1e3
            c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            c["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            c["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["peak_exec_memory_bytes"] = max(
                c["peak_exec_memory_bytes"], m.get("Peak Execution Memory", 0)
            )
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    c["bytes_to_python"] += int(acc.get("Update", 0))
                elif acc.get("Name") == PY_RETURNED:
                    c["bytes_from_python"] += int(acc.get("Update", 0))
    for key, iv in intervals.items():
        out[key]["s"] = union_seconds(iv) / 1e3
    return dict(out)
