"""Per-layer metrics of a traced run: spans, Py4J counts, the event log
and streaming progress, each reduced to a per-pass total and reported as
the median over the warm passes."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from datetime import datetime

import eventlog
import spans as spanlib


def pass_of(span: dict, by_id: dict) -> int | None:
    while span is not None:
        if span["name"] == "pass":
            return span["pass_"]
        span = by_id.get(span["parent"])
    return None


def span_totals(all_spans: list[dict], name: str) -> dict[int, tuple[int, float]]:
    """Pass → (count, seconds) of the outermost ``name`` spans in it."""
    by_id = {s["id"]: s for s in all_spans}
    out: dict[int, list] = defaultdict(lambda: [0, 0.0])
    for s in spanlib.outermost(all_spans, name):
        p = pass_of(s, by_id)
        if p is not None:
            out[p][0] += 1
            out[p][1] += s["end"] - s["start"]
    return {p: (c, t) for p, (c, t) in out.items()}


def window_of(t: float, passes: list[dict]) -> int | None:
    for rec in passes:
        if rec["start"] <= t <= rec["end"]:
            return rec["pass"]
    return None


def exec_counters(path: str, passes: list[dict]) -> dict:
    def assign(group, submit_ms):
        g = eventlog.parse_group(group)
        if g is not None:
            return g[0], g[2] == "build"
        return window_of(submit_ms / 1e3, passes), False

    return eventlog.summarize(eventlog.read_events(path), assign)


def stream_counters(progress: list[dict], passes: list[dict]) -> dict:
    per: dict = defaultdict(lambda: defaultdict(float))
    state_total: dict = defaultdict(dict)
    state_mem: dict = defaultdict(dict)
    for ev in progress:
        ts = datetime.fromisoformat(ev["timestamp"].replace("Z", "+00:00")).timestamp()
        p = window_of(ts, passes)
        if p is None:
            continue
        c, d = per[p], ev.get("durationMs", {})
        c["batches"] += 1
        c["input_rows"] += ev.get("numInputRows", 0)
        c["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        c["add_batch_s"] += d.get("addBatch", 0) / 1e3
        c["log_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        ops = ev.get("stateOperators", [])
        c["state_rows_updated"] += sum(o.get("numRowsUpdated", 0) for o in ops)
        c["state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1e3
        # gauges: the largest value each query run reached
        state_total[p][ev["runId"]] = max(
            state_total[p].get(ev["runId"], 0), sum(o.get("numRowsTotal", 0) for o in ops)
        )
        state_mem[p][ev["runId"]] = max(
            state_mem[p].get(ev["runId"], 0), sum(o.get("memoryUsedBytes", 0) for o in ops)
        )
    for p in per:
        per[p]["state_rows_total"] = sum(state_total[p].values())
        per[p]["state_memory_bytes"] = sum(state_mem[p].values())
    return per


STREAM_KEYS = (
    "batches", "input_rows", "trigger_s", "add_batch_s", "log_commit_s",
    "state_rows_total", "state_rows_updated", "state_memory_bytes", "state_commit_s",
)
EXEC_KEYS = (
    "s", "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s", "gc_s",
    "task_wait_s", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_fetch_wait_s", "spill_disk_bytes", "peak_exec_memory_bytes",
)


def per_layer(cfg: dict, run, out: dict) -> dict[str, float]:
    """Metric name → value for the traced run."""
    tracer, passes = run.tracer, run.passes
    warm = [rec["pass"] for rec in passes[1:]]
    tr = tracer.spans
    ev_path = os.path.join(cfg["eventlog_dir"], out["app_id"])
    ex = exec_counters(ev_path, passes)
    st = stream_counters(run.progress, passes)
    sp = {name: span_totals(tr, name) for name in ("ml.fit", "sources.load", "operators.call")}
    rec_of = {rec["pass"]: rec for rec in passes}

    def med(f) -> float:
        return float(statistics.median(f(p) for p in warm))

    zero = dict.fromkeys(eventlog.COUNTERS, 0)
    m: dict[str, float] = {
        "peak_rss_mb": out["peak_rss_mb"],
        "setup.first_s": run.setups[0]["setup_s"],
        "session.start_s": statistics.median(s["session_s"] for s in run.setups[1:]),
        "registry.load_s": statistics.median(s["registry_s"] for s in run.setups[1:]),
        "plans.build_s": med(lambda p: rec_of[p]["build_s"]),
        "plans.py4j_calls": med(lambda p: tracer.py4j.get(f"build:{p}", 0)),
        "plans.eager_jobs": med(lambda p: ex.get(p, zero)["eager_jobs"]),
        "plans.eager_tasks": med(lambda p: ex.get(p, zero)["eager_tasks"]),
    }
    for key, (cnt, secs) in {
        "ml.fit": ("ml.fits", "ml.fit_s"),
        "sources.load": ("sources.loads", "sources.load_s"),
        "operators.call": ("operators.calls", "operators.s"),
    }.items():
        m[cnt] = med(lambda p: sp[key].get(p, (0, 0.0))[0])
        m[secs] = med(lambda p: sp[key].get(p, (0, 0.0))[1])
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = med(
            lambda p: sum(c[phase] for c in rec_of[p]["catalyst"])
        )
    for k in EXEC_KEYS:
        m[f"exec.{k}"] = med(lambda p: ex.get(p, zero)[k])
    m["exec.cores"] = float(out["cores"])
    m["exec.core_util"] = med(
        lambda p: ex.get(p, zero)["task_run_s"] / (ex.get(p, zero)["s"] * out["cores"])
        if ex.get(p, zero)["s"] > 0
        else 0.0
    )
    m["pyworker.bytes_to_python"] = med(lambda p: ex.get(p, zero)["bytes_to_python"])
    m["pyworker.bytes_from_python"] = med(lambda p: ex.get(p, zero)["bytes_from_python"])
    for k in STREAM_KEYS:
        m[f"streaming.{k}"] = med(lambda p: st.get(p, {}).get(k, 0.0))
    m["jvm.jit_s"] = med(lambda p: rec_of[p]["jit_s"])
    m["trace.cold_pass_s"] = passes[0]["pass_s"]
    m["trace.cold_cpu_s"] = passes[0]["cpu_s"]
    m["trace.warm_pass_s"] = med(lambda p: rec_of[p]["pass_s"])
    m["trace.warm_cpu_s"] = med(lambda p: rec_of[p]["cpu_s"])
    m["trace.passes_cpu_s"] = sum(rec["cpu_s"] for rec in passes)
    repeat = all(
        len({f(p) for p in warm}) == 1
        for f in (
            lambda p: tracer.py4j.get(f"build:{p}", 0),
            lambda p: ex.get(p, zero)["eager_jobs"],
        )
    )
    m["trace.counters_repeat"] = 1.0 if repeat else 0.0
    return m
