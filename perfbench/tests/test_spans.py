import pytest

from spans import self_times


def span(start, end, parent=None):
    return {"name": "x", "start": start, "end": end, "parent": parent}


def test_leaf_self_time_is_its_duration():
    assert self_times([span(0.0, 2.5)]) == [2.5]


def test_children_are_subtracted_from_parent():
    spans = [span(0.0, 10.0), span(1.0, 3.0, parent=0), span(4.0, 8.0, parent=0)]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 4.0])


def test_overlapping_children_count_once():
    spans = [span(0.0, 10.0), span(1.0, 5.0, parent=0), span(3.0, 6.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(5.0)


def test_grandchildren_only_reduce_their_own_parent():
    spans = [span(0.0, 10.0), span(2.0, 6.0, parent=0), span(3.0, 4.0, parent=1)]
    assert self_times(spans) == pytest.approx([6.0, 3.0, 1.0])


def test_child_outside_parent_is_clipped():
    spans = [span(0.0, 4.0), span(3.0, 7.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(3.0)
