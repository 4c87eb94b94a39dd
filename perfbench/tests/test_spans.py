import pytest

from spans import Span, covered, descendants, self_times


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op:x", None, 0.0, 10.0),
        Span(1, "sources.parse", 0, 1.0, 3.0),
        Span(2, "engine.build", 0, 3.0, 6.0),
        Span(3, "sink.write", 0, 7.0, 9.5),
        Span(4, "nested", 2, 4.0, 5.0),
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(2.5), 1: 2.0, 2: 2.0, 3: 2.5, 4: 1.0}
    # an op's self times account for its whole wall time
    tree = descendants(spans, 0)
    assert sum(st[s.id] for s in tree) == pytest.approx(spans[0].duration)


def test_overlapping_children_are_not_double_counted():
    spans = [Span(0, "p", None, 0, 4), Span(1, "a", 0, 0, 3), Span(2, "b", 0, 2, 4)]
    assert self_times(spans)[0] == 0
