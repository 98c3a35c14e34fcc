"""Geometry/interval/degree golden cases.

- 16 degree-direction cases from the reference's in-source self-test
  (src/util.ts:570-598)
- xDistance from test/util.test.ts:6-14
"""

import pytest

from fin_ocr_sdk_spark.functions import geometry as G

DEGREE_CASES = [
    ("right", [(0, 0), (50, 0), (100, 0)], 0),
    ("up-right", [(0, 0), (50, -50), (100, -100)], 45),
    ("up", [(0, 0), (0, -50), (0, -100)], 90),
    ("up-left", [(0, 0), (-50, -50), (-100, -100)], 135),
    ("left", [(0, 0), (-50, 0), (-100, 0)], 180),
    ("down-left", [(0, 0), (-50, 50), (-100, 100)], 225),
    ("down", [(0, 0), (0, 50), (0, 100)], 270),
    ("down-right", [(0, 0), (50, 50), (100, 100)], 315),
    ("> 0", [(0, 0), (50, -1), (100, -2)], 1),
    ("< 90", [(0, 0), (1, -50), (2, -100)], 89),
    ("> 90", [(0, 0), (-1, -50), (-2, -100)], 91),
    ("< 180", [(0, 0), (-50, -1), (-100, -2)], 179),
    ("> 180", [(0, 0), (-50, 1), (-100, 2)], 181),
    ("< 270", [(0, 0), (-1, 50), (-2, 100)], 269),
    ("> 270", [(0, 0), (1, 50), (2, 100)], 271),
    ("< 360", [(0, 0), (50, 1), (100, 2)], 359),
]


@pytest.mark.parametrize("name,points,expected", DEGREE_CASES)
def test_compute_degree(name, points, expected):
    assert round(G.get_degree(points)) == expected


def test_x_distance():
    # (26,33,15,8) to (105,28,9,10) → 64 (test/util.test.ts:12-14)
    assert G.x_distance((26, 33, 15, 8), (105, 28, 9, 10)) == 64
    assert G.x_distance((105, 28, 9, 10), (26, 33, 15, 8)) == 64
    assert G.x_distance((0, 0, 10, 10), (5, 0, 10, 10)) == 0


def test_rect_predicates():
    assert G.rect_contains((0, 0, 10, 10), (2, 2, 3, 3))
    assert not G.rect_contains((0, 0, 10, 10), (8, 8, 5, 5))
    assert G.intersects((0, 0, 10, 10), (8, 8, 5, 5))
    assert not G.intersects((0, 0, 10, 10), (20, 20, 5, 5))
    assert G.get_intersecting_rect((0, 0, 10, 10), (5, 5, 10, 10)) == (5, 5, 5, 5)
    assert G.get_intersecting_rect((0, 0, 5, 5), (10, 10, 2, 2)) is None
    assert G.y_contains((0, 0, 1, 10), (5, 2, 1, 3))
    assert G.bounding_rect_of_rects([(1, 1, 2, 2), (5, 5, 3, 3)]) == (1, 1, 7, 7)
    assert G.bounding_rect_of_rects([]) == (0, 0, 0, 0)


def test_interval_math():
    assert G.minmax_contains((0, 10), (2, 8))
    assert not G.minmax_contains((0, 10), (2, 12))
    assert G.minmax_intersects((0, 10), (10, 20))
    assert not G.minmax_intersects((0, 9), (10, 20))
    assert G.pad_minmax((5, 10), 7, 12) == (0, 12)


def test_enlarge_rect():
    assert G.enlarge_rect((10, 10, 5, 5), (100, 100), pad=3) == (7, 7, 11, 11)
    # clamped at origin and size
    assert G.enlarge_rect((1, 1, 5, 5), (8, 8), pad=3) == (0, 0, 8, 8)


def test_rect_touches_border():
    assert G.rect_touches_border((0, 5, 2, 2), (10, 10))  # left
    assert G.rect_touches_border((5, 0, 2, 2), (10, 10))  # top
    assert G.rect_touches_border((8, 5, 2, 2), (10, 10))  # right
    assert G.rect_touches_border((5, 8, 2, 2), (10, 10))  # bottom
    assert not G.rect_touches_border((1, 1, 8, 8), (10, 10))


def test_degree_helpers():
    assert G.degree_normalize(-30) == 330
    assert G.degree_rotate(350, 20) == 10
    assert G.degree_delta(350, 10) == 20
    assert G.degree_average(0, 90) == 45
    assert G.degree_average(350, 10) == 0  # wraparound: midpoint rotated 180
