"""Rect / interval / degree geometry used by segmentation.

Re-creation of the reference's geometry helpers:
  - rect predicates:    /root/reference/src/util.ts:137-300
  - interval math:      /root/reference/src/util.ts:198-230
  - degree math:        /root/reference/src/util.ts:459-598
  - enlargeRect:        /root/reference/src/util.ts:445-457

Rects are plain ``(x, y, w, h)`` int tuples; intervals are ``(min, max)``.
All functions are branch-light arithmetic so the SQL twins in
``__spark_entry__.py`` can express the same predicates relationally.
"""

from __future__ import annotations

import math

Rect = tuple[int, int, int, int]  # x, y, w, h
MinMax = tuple[float, float]  # min, max


# ---------------------------------------------------------------- rects

def rect_contains(r1: Rect, r2: Rect) -> bool:
    x1, y1, w1, h1 = r1
    x2, y2, w2, h2 = r2
    return x1 <= x2 and x1 + w1 >= x2 + w2 and y1 <= y2 and y1 + h1 >= y2 + h2


def x_intersects(r1: Rect, r2: Rect) -> bool:
    return not (r1[0] > r2[0] + r2[2] or r1[0] + r1[2] < r2[0])


def y_intersects(r1: Rect, r2: Rect) -> bool:
    return not (r1[1] > r2[1] + r2[3] or r1[1] + r1[3] < r2[1])


def intersects(r1: Rect, r2: Rect) -> bool:
    return x_intersects(r1, r2) and y_intersects(r1, r2)


def y_contains(r1: Rect, r2: Rect) -> bool:
    return r1[1] <= r2[1] and r1[1] + r1[3] >= r2[1] + r2[3]


def get_intersecting_rect(r1: Rect, r2: Rect) -> Rect | None:
    x = max(r1[0], r2[0])
    y = max(r1[1], r2[1])
    w = min(r1[0] + r1[2], r2[0] + r2[2]) - x
    h = min(r1[1] + r1[3], r2[1] + r2[3]) - y
    if w < 0 or h < 0:
        return None
    return (x, y, w, h)


def x_distance(r1: Rect, r2: Rect) -> int:
    """Horizontal gap between two rects; 0 if they x-overlap."""
    r1x2 = r1[0] + r1[2]
    r2x2 = r2[0] + r2[2]
    if r1x2 < r2[0]:
        return r2[0] - r1x2
    if r1[0] > r2x2:
        return r1[0] - r2x2
    return 0


def bounding_rect_of_rects(rects: list[Rect]) -> Rect:
    if not rects:
        return (0, 0, 0, 0)
    min_x = min(r[0] for r in rects)
    min_y = min(r[1] for r in rects)
    max_x = max(r[0] + r[2] for r in rects)
    max_y = max(r[1] + r[3] for r in rects)
    return (min_x, min_y, max_x - min_x, max_y - min_y)


def enlarge_rect(rect: Rect, size_wh: tuple[int, int], pad: int = 0) -> Rect:
    """Pad a rect on all sides, clamped to an image of ``size_wh``.

    Faithfully mirrors the reference's quirk where the bottom pad reuses
    the top pad value (src/util.ts:450) — with a uniform ``pad`` the
    distinction is moot.
    """
    w_max, h_max = size_wh
    x = max(0, rect[0] - pad)
    y = max(0, rect[1] - pad)
    w = min(w_max - x, rect[2] + 2 * pad)
    h = min(h_max - y, rect[3] + 2 * pad)
    return (x, y, w, h)


def rect_touches_border(rect: Rect, size_wh: tuple[int, int]) -> bool:
    """True iff the rect reaches any of the four image borders."""
    w, h = size_wh
    return (rect[1] <= 0 or rect[1] + rect[3] >= h
            or rect[0] <= 0 or rect[0] + rect[2] >= w)


# ------------------------------------------------------------ intervals

def minmax_contains(r1: MinMax, r2: MinMax) -> bool:
    return r1[0] <= r2[0] and r1[1] >= r2[1]


def minmax_intersects(r1: MinMax, r2: MinMax) -> bool:
    return not (r1[0] > r2[1] or r1[1] < r2[0])


def pad_minmax(mm: MinMax, pad: float, max_max: float) -> MinMax:
    return (max(0, mm[0] - pad), min(max_max, mm[1] + pad))


# -------------------------------------------------------------- degrees

def compute_degree(points: list[tuple[float, float]]) -> dict:
    """Direction of travel of a point sequence in [0, 360), least-squares.

    Degrees increase counter-clockwise with 0 = rightward; y grows
    downward (image coordinates), so "up" is 90.  Eight-way
    special-casing for vertical/horizontal/zero-slope paths.
    """
    if len(points) < 2:
        raise ValueError("a minimum of two points is required")
    n = len(points)
    xs = sum(p[0] for p in points)
    ys = sum(p[1] for p in points)
    xxs = sum(p[0] * p[0] for p in points)
    xys = sum(p[0] * p[1] for p in points)
    rise = n * xys - xs * ys
    run = n * xxs - xs * xs
    sp, ep = points[0], points[-1]
    raw_degree = None
    if rise == 0 and run == 0:
        if ep[1] < sp[1]:
            degree, path = 90.0, "up"
        else:
            degree, path = 270.0, "down"
    else:
        xg = ep[0] - sp[0] > 0
        yg = ep[1] - sp[1] > 0
        slope = rise / run
        raw_degree = math.degrees(math.atan(slope))
        if raw_degree == 0:
            degree, path = (0.0, "right") if xg else (180.0, "left")
        elif xg:
            if yg:
                degree, path = 360 - raw_degree, "down-right"
            else:
                degree, path = -raw_degree, "up-right"
        else:
            degree, path = 180 - raw_degree, ("down-left" if yg else "up-left")
    return {"degree": degree, "raw_degree": raw_degree, "path": path,
            "rise": rise, "run": run}


def get_degree(points: list[tuple[float, float]]) -> float:
    return compute_degree(points)["degree"]


def degree_normalize(degree: float) -> float:
    degree = degree % 360
    if degree < 0:
        degree += 360
    return degree


def degree_rotate(degree: float, rotation: float) -> float:
    return degree_normalize(degree + rotation)


def degree_delta(d1: float, d2: float) -> float:
    delta = abs(d2 - d1)
    if delta > 180:
        delta = 360 - delta
    return delta


def degree_average(d1: float, d2: float) -> float:
    avg = (d1 + d2) / 2
    if abs(d1 - d2) > 180:
        avg = degree_rotate(avg, 180)
    return avg
