import pytest
import spans
from spans import Span


def _span(i, parent, start, end):
    return Span(f"s{i}", f"n{i}", parent, start, end)


def test_self_time_is_duration_minus_child_coverage():
    root = _span(0, None, 0.0, 10.0)
    kids = [
        _span(1, "s0", 1.0, 3.0),
        _span(2, "s0", 2.0, 4.0),  # overlaps s1: [1, 4] covered once
        _span(3, "s0", 6.0, 7.0),
        _span(4, "s0", 9.5, 12.0),  # clipped to the parent's end
    ]
    grandchild = _span(5, "s1", 1.5, 2.5)  # inside a child: not the root's child
    all_spans = [root, *kids, grandchild]
    assert spans.self_time(all_spans, root) == pytest.approx(10.0 - (3.0 + 1.0 + 0.5))
    assert spans.self_time(all_spans, kids[0]) == pytest.approx(2.0 - 1.0)
    assert spans.self_time(all_spans, kids[2]) == pytest.approx(1.0)


def test_descendants_follow_parent_links():
    root = _span(0, None, 0, 1)
    a, b, c = _span(1, "s0", 0, 1), _span(2, "s1", 0, 1), _span(3, None, 0, 1)
    assert [s.id for s in spans.descendants([root, a, b, c], root)] == ["s0", "s1", "s2"]


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def test_enabled_tracer_nests_spans():
    t = spans.Tracer(enabled=True)  # no SparkContext attached
    with t.span("outer") as o:
        with t.span("inner", k=1) as i:
            pass
    assert i.parent == o.id and o.parent is None and i.attrs == {"k": 1}
    assert o.start <= i.start <= i.end <= o.end


@pytest.mark.parametrize(
    "text,value",
    [
        ("8,194", 8194),
        ("1,265,779", 1265779),
        ("706 ms", 0.706),
        ("2.1 s", 2.1),
        ("1.5 m", 90.0),
        ("128.3 KiB", 128.3 * 1024),
        ("total (min, med, max (stageId: taskId))\n3.4 s (0 ms, 1.1 s, 2.0 s (stage 3.0: task 7))", 3.4),
        ("total (min, med, max (stageId: taskId))\n12.0 MiB (1.0 MiB, 2.0 MiB, 5.0 MiB (stage 1.0: task 2))", 12.0 * 2**20),
    ],
)
def test_parse_metric(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)
