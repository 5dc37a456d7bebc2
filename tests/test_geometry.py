"""Property + example tests for the Box micro-kernel.

These semantics are load-bearing for everything downstream (SURVEY.md
§2.10): empty-accumulator hulls, disjoint-intersection zero area,
iob/iou conventions.
"""

import numpy as np
import pytest
from hypothesis import given, strategies as st

from table_transformer_spark.geometry import (
    Box,
    box_area,
    iob,
    iou,
    np_fitz_intersect,
    np_pair_iob,
    np_segment_hull,
    overlaps,
)

coord = st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=32)


def boxes():
    return st.tuples(coord, coord, coord, coord).map(
        lambda t: [min(t[0], t[2]), min(t[1], t[3]), max(t[0], t[2]), max(t[1], t[3])]
    )


def test_empty_box_is_empty_and_area_zero():
    b = Box()
    assert b.is_empty
    assert b.get_area() == 0.0


def test_include_rect_on_empty_adopts_other():
    # the fitz.Rect() accumulator pattern (src/postprocess.py:123,515):
    # the hull must NOT be dragged to the origin.
    hull = Box()
    hull.include_rect([10, 20, 30, 40])
    assert hull.tolist() == [10, 20, 30, 40]
    hull.include_rect([5, 25, 35, 38])
    assert hull.tolist() == [5, 20, 35, 40]


def test_include_empty_rect_is_noop():
    hull = Box([10, 20, 30, 40])
    hull.include_rect([50, 50, 50, 50])  # degenerate
    assert hull.tolist() == [10, 20, 30, 40]


def test_disjoint_intersection_has_zero_area():
    b = Box([0, 0, 10, 10]).intersect([20, 20, 30, 30])
    assert b.get_area() == 0.0


def test_iob_basic():
    assert iob([0, 0, 10, 10], [0, 0, 10, 10]) == 1.0
    assert iob([0, 0, 10, 10], [5, 0, 15, 10]) == pytest.approx(0.5)
    assert iob([0, 0, 0, 0], [0, 0, 10, 10]) == 0.0  # degenerate box1


def test_iou_basic():
    assert iou([0, 0, 10, 10], [0, 0, 10, 10]) == 1.0
    assert iou([0, 0, 10, 10], [20, 20, 30, 30]) == 0.0
    # hull-union semantics (fitz include_rect): union of [0,0,10,10] and
    # degenerate box is just the first box
    assert iou([0, 0, 10, 10], [5, 5, 5, 5]) == 0.0


def test_overlaps_threshold():
    assert overlaps([0, 0, 10, 10], [0, 0, 5, 10], 0.5)
    assert not overlaps([0, 0, 10, 10], [0, 0, 4, 10], 0.5)
    assert not overlaps([0, 0, 0, 10], [0, 0, 10, 10])  # zero-area box1


@given(boxes(), boxes())
def test_iob_bounds_and_containment(b1, b2):
    v = iob(b1, b2)
    assert 0.0 <= v <= 1.0 + 1e-9
    if box_area(b1) > 0:
        assert iob(b1, b1) == pytest.approx(1.0)


@given(boxes(), boxes())
def test_iou_symmetry(b1, b2):
    assert iou(b1, b2) == pytest.approx(iou(b2, b1), abs=1e-9)


@given(st.lists(st.tuples(st.tuples(coord, coord, coord, coord),
                          st.tuples(coord, coord, coord, coord)),
                min_size=1, max_size=8))
def test_np_rowwise_ops_match_box(pairs):
    """Row-wise intersect / iob and grouped hulls equal the Box chain,
    inverted (empty) boxes included."""
    a = np.asarray([p[0] for p in pairs], dtype=float)
    b = np.asarray([p[1] for p in pairs], dtype=float)
    assert np_fitz_intersect(a, b).tolist() == \
        [Box(x).intersect(y).tolist() for x, y in pairs]
    assert np_pair_iob(a, b).tolist() == \
        pytest.approx([iob(x, y) for x, y in pairs], abs=1e-9)
    groups = np.arange(len(pairs)) // 3
    hulls = [Box() for _ in range(groups[-1] + 1)]
    for g, (x, _) in zip(groups, pairs):
        hulls[g].include_rect(x)
    assert np_segment_hull(a, groups, len(hulls)).tolist() == \
        [h.tolist() for h in hulls]
