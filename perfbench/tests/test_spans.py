"""Span self-time, outermost-span selection and the Py4J message filter."""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_direct_children_only():
    tree = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "query.build", 0.0, 6.0, 0),
        _span(2, "ml.fit", 1.0, 4.0, 1),
        _span(3, "ml.fit", 2.0, 3.0, 2),
        _span(4, "query.exec", 6.0, 9.0, 0),
    ]
    st = spans.self_times(tree)
    assert st[0] == 1.0  # 10 - (6 + 3)
    assert st[1] == 3.0  # 6 - 3
    assert st[2] == 2.0  # 3 - 1
    assert st[3] == 1.0
    assert st[4] == 3.0
    assert abs(sum(st.values()) - 10.0) < 1e-12


def test_outermost_skips_nested_spans_of_the_same_name():
    tree = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "ml.fit", 1.0, 4.0, 0),
        _span(2, "operators.call", 1.5, 3.5, 1),
        _span(3, "ml.fit", 2.0, 3.0, 2),
        _span(4, "ml.fit", 5.0, 6.0, 0),
    ]
    assert [s["id"] for s in spans.outermost(tree, "ml.fit")] == [1, 4]


def test_py4j_filter_skips_proxy_release_messages():
    assert not spans.counts_as_round_trip("m\nd\no123\ne\n")
    assert spans.counts_as_round_trip("c\no12\nselect\ne\n")
    assert spans.counts_as_round_trip("r\nu\norg\ne\n")


def test_tracer_counts_by_phase_on_the_main_thread_only():
    tr = spans.Tracer("t")
    with tr.span("query.build", phase="build:1"):
        with tr.span("ml.fit"):
            tr.count_command("c\no1\nfit\ne\n")
        tr.count_command("m\nd\no1\ne\n")
        worker = threading.Thread(target=tr.count_command, args=("c\no2\nx\ne\n",))
        worker.start()
        worker.join()
    tr.count_command("c\no3\ny\ne\n")
    assert dict(tr.py4j) == {"build:1": 1, "other": 1}
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_wrap_records_a_span_and_keeps_the_result():
    tr = spans.Tracer("t")

    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    spans.wrap(tr, Owner, "f", "operators.call")
    assert Owner.f(1) == 2
    assert [s["name"] for s in tr.spans] == ["operators.call"]
