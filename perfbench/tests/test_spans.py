import pytest

from perfbench.spans import Span, Tracer, covered, self_time


def _s(start, end, parent=None):
    return Span("x", start, end, parent, "j")


def test_self_time_no_children():
    assert self_time(_s(0, 10), []) == 10


def test_self_time_overlapping_child_jobs_count_once():
    # two concurrent jobs [2, 6] and [4, 8], a third [9, 12] that runs
    # past the parent's end
    kids = [_s(2, 6, 0), _s(4, 8, 0), _s(9, 12, 0)]
    assert self_time(_s(0, 10), kids) == pytest.approx(10 - 6 - 1)


def test_self_time_nested_and_identical_children():
    kids = [_s(1, 5, 0), _s(2, 3, 0), _s(1, 5, 0)]
    assert self_time(_s(0, 6), kids) == pytest.approx(2)


def test_covered_clips_to_window():
    assert covered([(-5, 1), (3, 4), (3.5, 20)], 0, 10) == pytest.approx(1 + 7)


def test_tracer_nests_and_records_self_time():
    t = iter([0.0, 1.0, 3.0, 4.0, 7.0, 10.0])
    tr = Tracer(clock=lambda: next(t))
    with tr.span("job", "j1") as root:
        with tr.span("a", "j1"):
            pass
        with tr.span("b", "j1"):
            pass
    assert [s.parent for s in tr.spans] == [None, root, root]
    assert tr.spans[root].duration == 10
    assert tr.self_time(root) == pytest.approx(10 - 2 - 3)
