import pytest

from spans import Span, covered, parse_metric, raw_metric, self_times


@pytest.mark.parametrize("text, want", [
    ("6.5 s", 6.5),
    ("827 ms", 0.827),
    ("0 ms", 0.0),
    ("1.5 m", 90.0),
    ("7.6 MiB", 7.6 * 2 ** 20),
    ("240.0 B", 240.0),
    ("1964.9 KiB", 1964.9 * 1024),
    ("1,234", 1234.0),
    ("0", 0.0),
    # a metric with per-task statistics: the total leads the last line
    ("total (min, med, max (stageId: taskId))\n"
     "6.5 s (0.1 s, 0.2 s, 1.0 s (stage 3.0: task 5))", 6.5),
    ("total (min, med, max (stageId: taskId))\n"
     "2.0 GiB (1.0 MiB, 2.0 MiB, 3.0 MiB (stage 1.0: task 2))", 2.0 * 2 ** 30),
])
def test_parse_metric(text, want):
    assert parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", ["", "fast", "6.5 lightyears"])
def test_parse_metric_rejects_garbage(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_raw_metric_units():
    assert raw_metric(1500, "timing") == 1.5
    assert raw_metric(2_000_000_000, "nsTiming") == 2.0
    assert raw_metric(4096, "size") == 4096.0
    assert raw_metric(7, "sum") == 7.0


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def _span(sid, parent, start, end):
    return Span(sid, f"s{sid}", parent, start, end)


def test_self_times_subtracts_children_once():
    root = _span(0, None, 0.0, 10.0)
    a = _span(1, 0, 1.0, 4.0)
    # b overlaps a, as a stage on another thread does
    b = _span(2, 0, 3.0, 6.0)
    grandchild = _span(3, 1, 1.5, 2.0)
    spans = [root, a, b, grandchild]
    self_times(spans)
    assert root.self_s == pytest.approx(10.0 - 5.0)
    assert a.self_s == pytest.approx(3.0 - 0.5)
    assert b.self_s == pytest.approx(3.0)
    assert grandchild.self_s == pytest.approx(0.5)


def test_self_time_of_child_past_parent_end_is_clipped():
    root = _span(0, None, 0.0, 2.0)
    late = _span(1, 0, 1.0, 5.0)
    self_times([root, late])
    assert root.self_s == pytest.approx(1.0)


def test_subtree_follows_parents():
    from spans import Tracer

    tracer = Tracer(spark=None, enabled=False)
    tracer.spans = [_span(0, None, 0, 1), _span(1, 0, 0, 1),
                    _span(2, 1, 0, 1), _span(3, None, 0, 1),
                    _span(4, 3, 0, 1)]
    assert [s.sid for s in tracer.subtree("s0")] == [0, 1, 2]
    assert [s.sid for s in tracer.subtree("s3")] == [3, 4]
    assert tracer.subtree("missing") == []
