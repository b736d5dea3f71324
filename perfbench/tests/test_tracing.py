import os
import time

import pytest

from tracing import Tracer, self_times, thread_cpu_s, tree_cpu_s


def span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "pass": "p", "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),
        span(2, 0, 5.0, 6.0),
        span(3, 1, 2.0, 3.0),  # grandchild: counts against span 1 only
    ]
    assert self_times(spans) == pytest.approx({0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0})


def test_overlapping_children_are_counted_once():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 5.0),
        span(2, 0, 3.0, 7.0),   # overlaps span 1 on [3, 5]
        span(3, 0, 6.0, 12.0),  # runs past the parent's end: clipped at 10
    ]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_leaf_self_time_is_its_duration():
    assert self_times([span(0, None, 2.0, 2.5)]) == {0: 0.5}


def test_tracer_records_nesting_and_pass():
    tr = Tracer()
    with tr.span("pass", "p0"):
        with tr.span("plan", "p0"):
            pass
        with tr.span("aggregate", "p0"):
            pass
    with tr.span("pass", "p1"):
        pass
    names = [(s["name"], s["parent"], s["pass"]) for s in tr.spans]
    assert names == [("pass", None, "p0"), ("plan", 0, "p0"), ("aggregate", 0, "p0"), ("pass", None, "p1")]
    dumped = tr.dump()
    assert dumped[0]["self"] == pytest.approx(
        tr.dur(tr.spans[0]) - tr.dur(tr.spans[1]) - tr.dur(tr.spans[2]), abs=1e-9
    )
    assert all(s["end"] >= s["start"] for s in dumped)


def test_cpu_readers_count_this_process():
    pid = os.getpid()
    tree0, main0 = tree_cpu_s(pid), thread_cpu_s(pid, "")
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert tree_cpu_s(pid) - tree0 >= 0.2
    assert thread_cpu_s(pid, "") - main0 >= 0.2
    assert thread_cpu_s(pid, "no thread is named like this") == 0
