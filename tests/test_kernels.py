"""Kernel unit tests vs closed-form cases (SURVEY.md §5.3)."""

import math

import numpy as np
import pytest

from fin_ocr_sdk_spark.operators import kernels as K


def test_grayscale_noop_and_weights():
    g = np.arange(12, dtype=np.uint8).reshape(3, 4)
    assert K.grayscale(g) is g
    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[..., 0] = 100  # R
    out = K.grayscale(rgb)
    assert out.shape == (2, 2)
    assert abs(int(out[0, 0]) - round(0.299 * 100)) <= 1


def test_grayscale_channel_order_is_rgb():
    """Pin RGB channel order: pure red gets the 0.299 weight and pure
    blue the 0.114 weight — a BGR input would swap these."""
    red = np.zeros((1, 1, 3), dtype=np.uint8)
    red[..., 0] = 255
    blue = np.zeros((1, 1, 3), dtype=np.uint8)
    blue[..., 2] = 255
    assert int(K.grayscale(red)[0, 0]) == round(0.299 * 255)   # 76
    assert int(K.grayscale(blue)[0, 0]) == round(0.114 * 255)  # 29


def test_gaussian_blur_preserves_constant():
    img = np.full((10, 10), 77, dtype=np.uint8)
    assert (K.gaussian_blur(img, 3) == 77).all()
    assert (K.gaussian_blur(img, 7) == 77).all()


def test_gaussian_blur_impulse_k3():
    img = np.zeros((5, 5), dtype=np.uint8)
    img[2, 2] = 255
    out = K.gaussian_blur(img, 3)
    # binomial 3x3: center 255/4≈64, edge 255/8≈32, corner 255/16≈16
    assert out[2, 2] == round(255 * 0.25)
    assert out[2, 1] == round(255 * 0.125)
    assert out[1, 1] == round(255 * 0.0625)


def test_otsu_bimodal():
    img = np.array([[10] * 50 + [200] * 50], dtype=np.uint8)
    t = K.otsu_threshold(img)
    assert 10 <= t < 200
    binary = K.otsu_binary_inv(img)
    # INV: dark pixels become 255 (ink), bright become 0
    assert (binary[0, :50] == 255).all()
    assert (binary[0, 50:] == 0).all()


def test_threshold_binary_inv():
    img = np.array([[0, 100, 200]], dtype=np.uint8)
    assert (K.threshold_binary_inv(img, 100) == [[255, 255, 0]]).all()


def test_adaptive_threshold_flips_polarity():
    # black text (low) on white background (high) → text becomes 255
    img = np.full((40, 40), 230, dtype=np.uint8)
    img[18:23, 5:35] = 20  # a dark stroke
    out = K.adaptive_threshold_gaussian_inv(img)
    assert (out[20, 10:30] == 255).all()
    # far-away background stays 0
    assert out[5, 5] == 0


def test_erode_dilate_cross():
    img = np.zeros((7, 7), dtype=np.uint8)
    img[3, 1:6] = 255
    img[1:6, 3] = 255
    d = K.dilate(img, 3, 3)
    assert d[2, 2] == 255  # grown into the corner
    e = K.erode(d, 3, 3)
    # open-ish: center survives
    assert e[3, 3] == 255
    # single pixel is destroyed by 3x3 erode
    solo = np.zeros((5, 5), dtype=np.uint8)
    solo[2, 2] = 255
    assert (K.erode(solo, 3, 3) == 0).all()


def test_erode_dilate_2x2_anchor():
    # 2x2 kernel with OpenCV anchor (1,1): window spans (y-1..y, x-1..x)
    img = np.zeros((4, 4), dtype=np.uint8)
    img[1, 1] = 255
    d = K.dilate(img, 2, 2)
    assert d[1, 1] == 255 and d[2, 2] == 255 and d[1, 2] == 255 and d[2, 1] == 255
    assert d[0, 0] == 0


def test_resize_area_exact_downscale():
    img = np.array([[0, 0, 255, 255],
                    [0, 0, 255, 255],
                    [255, 255, 0, 0],
                    [255, 255, 0, 0]], dtype=np.uint8)
    out = K.resize_area(img, (2, 2))
    assert (out == np.array([[0, 255], [255, 0]])).all()
    img2 = np.arange(16, dtype=np.uint8).reshape(4, 4)
    out2 = K.resize_area(img2, (2, 2))
    # each output = mean of its 2x2 block
    expect = np.array([[2.5, 4.5], [10.5, 12.5]])
    assert np.abs(out2 - expect).max() <= 0.5


def test_resize_area_shape_upscale():
    img = np.array([[0, 255]], dtype=np.uint8)
    out = K.resize_area(img, (4, 2))
    assert out.shape == (2, 4)
    assert out[0, 0] == 0 and out[0, 3] == 255


def test_rotate_90_roundtrip_small_angle():
    img = np.zeros((41, 81), dtype=np.uint8)
    img[18:24, 10:70] = 255  # horizontal bar
    rot = K.rotate(img, 5.0)
    back = K.rotate(rot, -5.0)
    # interior of the bar survives the round trip
    assert back[20, 40] > 200
    assert back[5, 40] < 50
    assert K.rotate(img, 0.0) is not img
    assert (K.rotate(img, 0.0) == img).all()


def test_min_area_rect_axis_aligned():
    pts = [(0, 0), (10, 0), (10, 4), (0, 4)]
    w, h, a = K.min_area_rect(np.array(pts))
    assert {round(w), round(h)} == {10, 4}
    assert a == pytest.approx(0, abs=1e-6) or a == pytest.approx(90, abs=1e-6)


def test_min_area_rect_rotated_bar():
    # bar rotated by 30 degrees
    base = np.array([(x, 0) for x in range(0, 50)] +
                    [(x, 3) for x in range(0, 50)], dtype=np.float64)
    ang = np.radians(30)
    rot = base @ np.array([[np.cos(ang), np.sin(ang)],
                           [-np.sin(ang), np.cos(ang)]])
    w, h, a = K.min_area_rect(rot)
    long_side_angle = a if w > h else (a + 90) % 180
    assert long_side_angle == pytest.approx(30, abs=1.0)


def _min_area_rect_loop(points):
    """Scalar per-edge rotating calipers: the reference min_area_rect
    must equal bit for bit (no BLAS, no fused multiply-add)."""
    hull = K.convex_hull(np.asarray(points, dtype=np.float64))
    n = len(hull)
    best = None
    for i in range(n):
        ex = hull[(i + 1) % n, 0] - hull[i, 0]
        ey = hull[(i + 1) % n, 1] - hull[i, 1]
        norm = np.hypot(ex, ey)
        if norm == 0:
            continue
        ux, uy = ex / norm, ey / norm
        pu = [px * ux + py * uy for px, py in hull]
        pv = [px * -uy + py * ux for px, py in hull]
        w, h = max(pu) - min(pu), max(pv) - min(pv)
        if best is None or w * h < best[0]:
            best = (w * h, w, h, ux, uy)
    _, w, h, ux, uy = best
    ang = math.degrees(math.atan2(uy, ux)) % 180
    if ang >= 90:
        ang -= 90
        w, h = h, w
    return (float(w), float(h), ang)


def test_min_area_rect_matches_scalar_loop():
    rng = np.random.default_rng(7)
    clouds = [rng.normal(size=(30, 2)) * (1 + 50 * rng.random())
              for _ in range(40)]
    clouds += [rng.integers(0, 40, size=(25, 2)).astype(float)
               for _ in range(40)]
    # near ties: every edge of a rotated square or regular polygon
    # gives (almost) the same area
    for k in (4, 6, 8, 12):
        for rot in (0.0, 0.1, 0.25, 1.0, 7.0):
            t = np.radians(rot) + 2 * np.pi * np.arange(k) / k
            clouds.append(np.column_stack([np.cos(t), np.sin(t)]) * 37.5
                          + 100)
    clouds += [np.array([(0, 0), (w, 0), (w, h), (0, h)], dtype=float)
               for w, h in ((10, 10), (3, 7), (1e-3, 1e3))]
    for pts in clouds:
        assert K.min_area_rect(pts) == _min_area_rect_loop(pts)


def test_skew_angle_rule():
    assert K.skew_angle_from_rect(100, 10, 2.0) == 2.0
    assert K.skew_angle_from_rect(10, 100, 88.0) == -2.0


def test_label_components_basic():
    img = np.zeros((10, 10), dtype=np.uint8)
    img[1:3, 1:3] = 255
    img[6:9, 6:9] = 255
    img[5, 5] = 255  # diagonal touch to the 6:9 block → 8-conn merges
    regions = K.find_regions(img)
    assert len(regions) == 2
    assert regions[0].rect == (1, 1, 2, 2)
    assert regions[0].area == 4 and regions[0].area2 == 4
    assert regions[1].rect == (5, 5, 4, 4)
    assert regions[1].area2 == 10  # 9 + diagonal pixel
    assert [r.idx for r in regions] == [0, 1]


def test_label_components_u_shape_merges():
    img = np.zeros((6, 8), dtype=np.uint8)
    img[1:5, 1] = 255
    img[1:5, 6] = 255
    img[4, 1:7] = 255  # bottom bridge → single component
    regions = K.find_regions(img)
    assert len(regions) == 1
    assert regions[0].rect == (1, 1, 6, 4)


def test_region_point_queries():
    img = np.zeros((10, 10), dtype=np.uint8)
    img[2:8, 3:7] = 255
    r = K.find_regions(img)[0]
    assert r.minmax_x_in_yrange(0, 1) is None
    assert r.minmax_x_in_yrange(2, 4) == (3, 6)


# ------------------------------------------- run-table parity vs BFS

def _bfs_components(img: np.ndarray) -> list[np.ndarray]:
    """Reference 8-connected labeling: scan row-major, flood each new
    set pixel's component breadth-first.  Returns one boolean mask per
    component, in order of first pixel (= label order)."""
    h, w = img.shape
    seen = np.zeros((h, w), dtype=bool)
    comps = []
    for y in range(h):
        for x in range(w):
            if not img[y, x] or seen[y, x]:
                continue
            mask = np.zeros((h, w), dtype=bool)
            seen[y, x] = mask[y, x] = True
            queue = [(y, x)]
            while queue:
                cy, cx = queue.pop()
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        ny, nx = cy + dy, cx + dx
                        if (0 <= ny < h and 0 <= nx < w and img[ny, nx]
                                and not seen[ny, nx]):
                            seen[ny, nx] = mask[ny, nx] = True
                            queue.append((ny, nx))
            comps.append(mask)
    return comps


def _bfs_regions(img: np.ndarray) -> list[tuple]:
    """(rect, area2, label) per component, sorted by x with ties in
    label order — find_regions' contract."""
    out = []
    for label, m in enumerate(_bfs_components(img), start=1):
        ys, xs = np.nonzero(m)
        rect = (int(xs.min()), int(ys.min()), int(xs.max() - xs.min() + 1),
                int(ys.max() - ys.min() + 1))
        out.append((rect, float(m.sum()), label))
    return sorted(out, key=lambda t: t[0][0])


def _serpentine(h: int, w: int) -> np.ndarray:
    img = np.zeros((h, w), dtype=np.uint8)
    img[::4, 1:-1] = 255
    for k, y in enumerate(range(0, h - 4, 4)):
        x = w - 2 if k % 2 == 0 else 1
        img[y:y + 5, x] = 255
    return img


def _comb(h: int, w: int) -> np.ndarray:
    img = np.zeros((h, w), dtype=np.uint8)
    img[h - 1, :] = 255          # the teeth only meet on the last row
    img[:, ::2] = 255
    return img


def _parity_images() -> list[np.ndarray]:
    rng = np.random.default_rng(11)
    imgs = []
    for density in (0.05, 0.2, 0.4, 0.55, 0.8):
        for shape in ((17, 23), (40, 9), (1, 31), (29, 1)):
            imgs.append(np.where(rng.random(shape) < density, 255,
                                 0).astype(np.uint8))
    checker = np.zeros((12, 12), dtype=np.uint8)
    checker[::2, ::2] = checker[1::2, 1::2] = 255    # diagonal contacts
    anti = np.zeros((9, 9), dtype=np.uint8)
    anti[np.arange(9), 8 - np.arange(9)] = 255       # anti-diagonal line
    single = np.zeros((5, 7), dtype=np.uint8)
    single[2, 3] = 255
    imgs += [np.zeros((6, 8), np.uint8), np.full((6, 8), 255, np.uint8),
             single, np.full((1, 1), 255, np.uint8),
             np.zeros((1, 1), np.uint8), checker, anti,
             _serpentine(25, 18), _comb(11, 15), _comb(11, 15)[::-1]]
    return imgs


def test_find_regions_matches_bfs_labeler():
    for img in _parity_images():
        got = [(r.rect, r.area2, r.label) for r in K.find_regions(img)]
        assert got == _bfs_regions(img), img.shape
        assert [r.idx for r in K.find_regions(img)] == list(range(len(got)))


def test_region_row_queries_match_bfs_masks():
    for img in _parity_images():
        comps = _bfs_components(img)
        for r in K.find_regions(img):
            m = comps[r.label - 1]
            ys, first, last = r.row_extents()
            rows = np.flatnonzero(m.any(axis=1))
            assert ys.tolist() == rows.tolist()
            assert first.tolist() == [int(np.flatnonzero(m[y])[0])
                                      for y in rows]
            assert last.tolist() == [int(np.flatnonzero(m[y])[-1])
                                     for y in rows]
            for y_min, y_max in ((-3, 0), (0, 2), (2, 2), (1, 40),
                                 (5, 3), (img.shape[0], 99)):
                sub = m[max(0, y_min):max(0, y_max + 1)]
                xs = np.nonzero(sub)[1]
                want = (int(xs.min()), int(xs.max())) if len(xs) else None
                assert r.minmax_x_in_yrange(y_min, y_max) == want


def test_runs_of_round_trips():
    for img in _parity_images():
        rows, x0s, x1s = K.runs_of(img)
        back = np.zeros(img.shape, dtype=np.uint8)
        for y, a, b in zip(rows, x0s, x1s):
            assert a < b and (a == 0 or not img[y, a - 1])
            assert b == img.shape[1] or not img[y, b]
            back[y, a:b] = 255
        assert np.array_equal(back, np.where(img > 0, 255, 0))


@pytest.mark.parametrize("kw", [2, 12, 25])
def test_widen_runs_equals_dilate(kw):
    """Widened-and-merged runs are the run table of dilate(kw, 1),
    including runs clipped at the left and right borders."""
    rng = np.random.default_rng(kw)
    imgs = _parity_images()
    edge = np.zeros((3, 40), dtype=np.uint8)
    edge[0, 0] = edge[1, 39] = edge[2, [0, 39]] = 255
    imgs += [edge, np.where(rng.random((30, 70)) < 0.03, 255,
                            0).astype(np.uint8)]
    for img in imgs:
        w = img.shape[1]
        got = K.widen_runs(K.runs_of(img), kw, w)
        want = K.runs_of(K.dilate(img, kw, 1))
        for g, e in zip(got, want):
            assert g.tolist() == e.tolist(), (kw, img.shape)
        assert ([(r.rect, r.area2) for r in K.regions_of_runs(got, w)]
                == [(r.rect, r.area2)
                    for r in K.find_regions(K.dilate(img, kw, 1))])


def test_clear_padding():
    img = np.full((10, 10), 255, dtype=np.uint8)
    K.clear_padding(img, 2)
    assert (img[:2, :] == 0).all() and (img[-2:, :] == 0).all()
    assert (img[:, :2] == 0).all() and (img[:, -2:] == 0).all()
    assert (img[2:-2, 2:-2] == 255).all()


def test_clear_by_vertical_thickness():
    img = np.zeros((20, 20), dtype=np.uint8)
    img[5:7, 2:18] = 255   # thin horizontal stroke (span 1 <= 3)
    img[3:15, 10] = 255    # tall column at x=10 (span 11 > 3)
    K.clear_by_vertical_thickness(img, 3)
    assert (img[:, 10][3:15] == 255).all()  # tall column survives
    assert img[5, 5] == 0                   # thin stroke cleared


def test_hv_thin():
    img = np.zeros((20, 20), dtype=np.uint8)
    img[10, 2:18] = 255   # long horizontal run (h=16 >= minH)
    img[2, 2] = 255       # isolated pixel
    K.hv_thin(img, 5, 5, (0, 0, 20, 20))
    assert (img[10, 2:18] == 255).all()
    assert img[2, 2] == 0


def test_is_white_background():
    assert K.is_white_background(np.full((50, 50), 200, dtype=np.uint8))
    assert not K.is_white_background(np.full((50, 50), 50, dtype=np.uint8))
