"""Span self-time arithmetic, event-log parsing and job attribution."""

import os

import pytest

from spans import Span, Tracer, covered, driver_local, job_totals, jobs_in, parse_event_log, self_times

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_tiny.jsonl")


def _span(i, start, end, parent=None, group=None):
    return Span(i, f"s{i}", start, end, parent, "run", group)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0.0, 10.0) == 0.0
    assert covered([(1.0, 3.0), (2.0, 4.0)], 0.0, 10.0) == pytest.approx(3.0)
    assert covered([(-5.0, 2.0), (8.0, 20.0)], 0.0, 10.0) == pytest.approx(4.0)
    assert covered([(6.0, 7.0), (1.0, 2.0)], 0.0, 10.0) == pytest.approx(2.0)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps its sibling: covered once
        _span(3, 1.5, 2.0, parent=1),  # grandchild: only its parent's child
        _span(4, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(1.0)
    # a tree's self times add up to the root's wall time, plus the 1 s
    # in which the two overlapping siblings both ran
    assert st[0] + st[1] + st[2] + st[3] == pytest.approx(10.0 + 1.0)


def test_tracer_records_parents_and_is_inert_when_off():
    tr = Tracer("r", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer("r", enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_parse_recorded_event_log():
    with open(LOG) as f:
        log = parse_event_log(f)
    assert sorted(log.jobs) == [0, 1]
    j0, j1 = log.jobs[0], log.jobs[1]
    assert j0.group == "wl/key/build" and j1.group is None
    assert j0.submit < j0.end <= j1.submit < j1.end
    assert j0.stages == [0] and j1.stages == [1, 2]
    tot = job_totals(log, [j0, j1])
    assert tot["jobs"] == 2 and tot["stages"] == 3
    assert tot["tasks"] == sum(st["tasks"] for st in log.stages.values())
    assert tot["shuffle_write_bytes"] > 0 and tot["shuffle_read_bytes"] > 0
    assert tot["executor_run_s"] > 0 and tot["executor_cpu_s"] > 0
    assert tot["input_records"] == 0 and tot["output_bytes"] == 0


def test_jobs_attributed_by_group_then_by_time():
    with open(LOG) as f:
        log = parse_event_log(f)
    j0, j1 = log.jobs[0], log.jobs[1]
    tagged = Span(0, "a", j0.submit - 1, j0.submit - 0.5, None, "r", "wl/key/build")
    assert jobs_in(log, tagged, {"wl/key/build"}) == [j0]
    window = Span(1, "b", j1.submit - 0.01, j1.end, None, "r", None)
    assert jobs_in(log, window, {"wl/key/build"}) == [j1]
    # a job carrying another of the benchmark's groups is not the window's
    assert jobs_in(log, Span(2, "c", j0.submit, j0.end, None, "r", None), {"wl/key/build"}) == []
    idle = driver_local(window, [j1])
    assert idle == pytest.approx(0.01, abs=1e-6)
