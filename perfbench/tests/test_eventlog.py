"""Event-log reader on a small log recorded from Spark 4.1 (local[2]):
two jobs under benchmark job groups and one streaming micro-batch job
outside them."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog.jsonl")


def _summary():
    def assign(group, submit_ms):
        g = eventlog.parse_group(group)
        if g is not None:
            return g[0], g[2] == "build"
        return "other", False

    return eventlog.summarize(eventlog.read_events(LOG), assign)


def test_parse_group():
    assert eventlog.parse_group("pb/3/1/build") == (3, 1, "build")
    assert eventlog.parse_group("pb/verify/0/none") is None
    assert eventlog.parse_group("3c9eaa66-d35f") is None
    assert eventlog.parse_group(None) is None


def test_union_seconds_merges_overlaps():
    assert eventlog.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_seconds([]) == 0


def test_scheduler_delay():
    info = {"Launch Time": 100, "Finish Time": 160, "Getting Result Time": 0}
    metrics = {"Executor Run Time": 40, "Executor Deserialize Time": 5,
               "Result Serialization Time": 1}
    assert eventlog.scheduler_delay_ms(info, metrics) == 14


def test_recorded_log_counts():
    s = _summary()
    build, execd, other = s[0], s[1], s["other"]
    # pass 0 ran one eager job while building; pass 1 ran the query
    assert (build["jobs"], build["eager_jobs"]) == (1, 1)
    assert build["tasks"] == build["eager_tasks"] == 2
    assert execd["eager_jobs"] == 0
    assert execd["jobs"] == 1
    assert execd["stages"] == 2
    assert execd["tasks"] == 4
    assert execd["shuffle_write_bytes"] > 0
    assert execd["shuffle_read_bytes"] > 0
    assert execd["task_run_s"] > 0
    assert execd["s"] > 0
    assert other["jobs"] >= 1
    assert all(c["failed_tasks"] == 0 for c in s.values())


def test_python_worker_bytes():
    s = _summary()
    assert s[1]["bytes_to_python"] > 0
    assert s[1]["bytes_from_python"] > 0
