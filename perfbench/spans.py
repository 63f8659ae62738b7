"""In-memory span recorder, Py4J round-trip counter and layer wrappers.

A span is ``(id, name, start, end, parent, run)`` with wall-clock seconds
(``time.time()``, so spans line up with Spark event-log timestamps). Spans
nest per thread; only the main thread records, so Py4J callback threads
(streaming listeners) never leak into a pass's counts.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MEMORY_COMMAND = "m\n"  # py4j proxy release: sent from GC, not from plans


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.py4j: dict[str, int] = defaultdict(int)

    def _main(self) -> bool:
        return threading.current_thread() is threading.main_thread()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self._main():
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self.stack[-1] if self.stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"] = time.time()

    def phase(self) -> str | None:
        """``phase`` attribute of the innermost span that carries one."""
        for sid in reversed(self.stack):
            ph = self.spans[sid].get("phase")
            if ph is not None:
                return ph
        return None

    def count_command(self, command: str) -> None:
        if counts_as_round_trip(command) and self._main():
            self.py4j[self.phase() or "other"] += 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def counts_as_round_trip(command: str) -> bool:
    """A Py4J command is a plan round-trip unless it releases a proxy:
    those are sent when Python garbage-collects a JavaObject, so their
    number depends on GC timing rather than on the plan being built."""
    return not command.startswith(MEMORY_COMMAND)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the durations of its direct children."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name (so nested
    calls, e.g. a Pipeline fitting its stages, are not counted twice)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def install_py4j_counter(tracer: Tracer) -> None:
    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        orig = cls.send_command

        @functools.wraps(orig)
        def send_command(self, command, *args, _orig=orig, **kwargs):
            tracer.count_command(command)
            return _orig(self, command, *args, **kwargs)

        cls.send_command = send_command


def wrap(tracer: Tracer, owner, attr: str, span_name: str) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(span_name, fn=attr):
            return fn(*args, **kwargs)

    setattr(owner, attr, wrapped)


def install_ml_wrapper(tracer: Tracer) -> None:
    from pyspark.ml.base import Estimator

    wrap(tracer, Estimator, "fit", "ml.fit")


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the engine's source and operator entry points. Runs before the
    registry is imported, so plan modules that bind these names at import
    time bind the wrapped functions."""
    import inspect

    from iceberg_classifier_spark.operators import folds, graph, metrics, stacking
    from iceberg_classifier_spark.sources import tables

    for name in ("load", "load_parallel"):
        wrap(tracer, tables, name, "sources.load")
    for mod in (folds, graph, metrics, stacking):
        for name, fn in list(vars(mod).items()):
            if (
                inspect.isfunction(fn)
                and not name.startswith("_")
                and fn.__module__ == mod.__name__
            ):
                wrap(tracer, mod, name, "operators.call")
