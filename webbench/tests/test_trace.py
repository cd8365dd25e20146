"""Self-time arithmetic on synthetic spans, and status-store strings."""

import pytest

from webbench import engine, trace


def _span(i, parent, start, end):
    return trace.Span(f"s{i}", start, end, 1, i, parent)


def test_self_times_subtract_covered_child_intervals():
    spans = [_span(0, None, 0.0, 10.0),
             _span(1, 0, 1.0, 4.0),
             _span(2, 0, 3.0, 6.0),      # overlaps span 1: union is 1..6
             _span(3, 0, 8.0, 12.0),     # sticks out of its parent
             _span(4, 1, 1.5, 2.0)]      # grandchild: not span 0's business
    got = trace.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(3.0)
    assert got[4] == pytest.approx(0.5)


def test_prefix_self_times_are_median_differences():
    walls = {"io": [1.0, 1.2, 5.0], "parse": [3.0, 3.1, 3.3],
             "dedup": [3.4, 3.6, 3.5]}
    got = trace.prefix_self_times(walls)
    assert got == pytest.approx({"io": 1.2, "parse": 1.9, "dedup": 0.4})


def test_tracer_nests_and_disables():
    t = trace.Tracer(True)
    t.new_trace()
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent, s.trace_id) for s in t.spans] == [
        ("outer", None, 1), ("inner", 0, 1)]
    off = trace.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


@pytest.mark.parametrize("s,want", [
    ("2,000", 2000.0), ("1.6 s", 1.6), ("866 ms", 0.866),
    ("845.9 KiB", 845.9 * 1024),
    ("total (min, med, max (stageId: taskId))\n866 ms (159 ms, 226 ms, "
     "284 ms (stage 2.0: task 3))", 0.866),
    ("(min, med, max (stageId: taskId)):\n(1, 1.5, 2 (stage 4.0: task 10))",
     1.5)])
def test_metric_strings(s, want):
    assert engine.parse_metric_string(s) == pytest.approx(want)
