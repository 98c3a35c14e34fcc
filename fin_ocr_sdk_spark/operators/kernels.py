"""NumPy image kernels — the physical operators of the OCR engine.

Pure NumPy (no scipy/cv2/PIL in this environment), written to follow
OpenCV's documented math so behavior matches the reference pipeline
(/root/reference/src/image.ts) on equivalent inputs:

  grayscale           src/image.ts:236-247  (no-op on 1-channel)
  gaussian_blur       src/image.ts:258-267  (sigma derived from ksize)
  otsu threshold      src/image.ts:269-278  (THRESH_BINARY_INV+OTSU)
  adaptive threshold  src/image.ts:280-290  (GAUSSIAN_C, INV, block 19, C 1)
  erode/dilate        src/image.ts:292-323  (rect kernel, default 2x2)
  resize (INTER_AREA) src/image.ts:211-225
  rotate              src/image.ts:714-727  (INTER_CUBIC, BORDER_REPLICATE)
  min-area rect       src/contour.ts:130-141 (for skew angle)
  connected regions   src/image.ts:416-446  (RETR_EXTERNAL analog)
  clear_padding       src/image.ts:1102-1122
  clear_by_vertical_thickness src/image.ts:1077-1100
  hv_thin             src/image.ts:1124-1184

Convention: images are 2-D uint8 arrays indexed [y, x]; binary images
use 255 = set (ink), 0 = clear, i.e. white-on-black after thresholding
(the reference's post-adaptive-threshold polarity).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

# --------------------------------------------------------------- basics


def grayscale(img: np.ndarray) -> np.ndarray:
    """RGB -> gray (ITU-R BT.601 weights, RGB channel order); no-op if
    already 2-D.  The reference converts with cv.COLOR_BGR2GRAY
    (src/image.ts:238-247) because OpenCV decodes to BGR; every decoder
    in this repo (sources/codecs.py, jpeg.py, gif.py) emits grayscale or
    RGB-ordered arrays, so the weights here are RGB-matched — same
    luminance result as the reference, channel order per OUR decoders.
    Feeding a BGR array here would swap the R/B weights; don't."""
    if img.ndim == 2:
        return img
    w = np.array([0.299, 0.587, 0.114])
    return np.clip(np.round(img[..., :3].astype(np.float64) @ w), 0, 255).astype(np.uint8)


# -------------------------------------------------------- gaussian blur

def _gaussian_kernel_1d(ksize: int) -> np.ndarray:
    """OpenCV getGaussianKernel with sigma 0 (derived from ksize):
    sigma = 0.3*((k-1)*0.5-1)+0.8, except that for k in {1,3,5,7}
    OpenCV uses fixed binomial-like kernels."""
    if ksize in (1, 3, 5, 7):
        fixed = {
            1: [1.0],
            3: [0.25, 0.5, 0.25],
            5: [0.0625, 0.25, 0.375, 0.25, 0.0625],
            7: [0.03125, 0.109375, 0.21875, 0.28125, 0.21875, 0.109375, 0.03125],
        }
        return np.array(fixed[ksize])
    sigma = 0.3 * ((ksize - 1) * 0.5 - 1) + 0.8
    x = np.arange(ksize) - (ksize - 1) * 0.5
    k = np.exp(-(x * x) / (2 * sigma * sigma))
    return k / k.sum()


def _sep_filter_u8(img: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Separable correlation for uint8 images in 8.8 fixed point.

    Weights are scaled to 256ths (renormalized so the row accumulator
    cannot overflow uint16); each axis pass rounds back to uint8, which
    keeps the memory traffic — the binding resource with a scan worker
    per core — at uint8/uint16 width.
    """
    w = np.round(k * 256.0).astype(np.uint16)
    w = np.maximum(w, 1)
    while int(w.sum()) * 255 > 65535:
        w[int(np.argmax(w))] -= 1
    half = int(w.sum()) // 2
    r = len(w) // 2
    h, width = img.shape

    # symmetric taps pair up: (sl_i + sl_j) * w_i == sl_i*w_i + sl_j*w_j
    # when w_i == w_j, and uint16 sums commute exactly (no intermediate
    # overflow: 2*w_i <= sum(w) <= 257 so 510*w_i < 2^16), so pairing
    # halves the multiplies with a bit-identical result.  The overflow
    # trim above can break symmetry (it decrements one of the taps);
    # pair only while the mirror weights still match.
    sym = bool(np.all(w == w[::-1]))

    def one_axis(src: np.ndarray, horizontal: bool) -> np.ndarray:
        pad = ((0, 0), (r, r)) if horizontal else ((r, r), (0, 0))
        padded = np.pad(src, pad, mode="reflect")
        acc = np.zeros(src.shape, dtype=np.uint16)
        scratch = np.empty(src.shape, dtype=np.uint16)
        pair_sum = np.empty(src.shape, dtype=np.uint16)
        n = len(w)

        def tap(i):
            return (padded[:, i:i + width] if horizontal
                    else padded[i:i + h, :])

        taps = range(n)
        if sym:
            for i in range(n // 2):
                np.add(tap(i), tap(n - 1 - i), out=pair_sum,
                       dtype=np.uint16)
                np.multiply(pair_sum, w[i], out=scratch, dtype=np.uint16)
                acc += scratch
            taps = [n // 2] if n % 2 else []
        for i in taps:
            np.multiply(tap(i), w[i], out=scratch, dtype=np.uint16)
            acc += scratch
        acc += half
        np.floor_divide(acc, int(w.sum()), out=acc)
        return acc.astype(np.uint8)

    return one_axis(one_axis(img, True), False)


def gaussian_blur(img: np.ndarray, ksize: int = 3) -> np.ndarray:
    """GaussianBlur with sigma derived from ksize, over a uint8 image
    (every decoder and image kernel here yields uint8)."""
    return _sep_filter_u8(img, _gaussian_kernel_1d(ksize))


# ------------------------------------------------------------ threshold

def otsu_threshold(img: np.ndarray) -> int:
    """Otsu's threshold: argmax of inter-class variance over the 256-bin
    histogram. Returns t; binarization rule is (src > t)."""
    hist = np.bincount(img.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    bins = np.arange(256, dtype=np.float64)
    w0 = np.cumsum(hist)
    w1 = total - w0
    mu0_num = np.cumsum(hist * bins)
    mu_total = mu0_num[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        mu0 = mu0_num / w0
        mu1 = (mu_total - mu0_num) / w1
        between = w0 * w1 * (mu0 - mu1) ** 2
    between[np.isnan(between)] = -1
    return int(np.argmax(between))


def threshold_binary_inv(img: np.ndarray, thresh: float) -> np.ndarray:
    """THRESH_BINARY_INV: dst = (src > thresh) ? 0 : 255."""
    return np.where(img > thresh, 0, 255).astype(np.uint8)


def otsu_binary_inv(img: np.ndarray) -> np.ndarray:
    return threshold_binary_inv(img, otsu_threshold(img))


# the reference's adaptiveThreshold arguments (src/image.ts:280-290)
_ADAPTIVE_BLOCK = 19
_ADAPTIVE_C = 1


def adaptive_threshold_gaussian_inv(img: np.ndarray) -> np.ndarray:
    """ADAPTIVE_THRESH_GAUSSIAN_C + THRESH_BINARY_INV, block 19, C 1.

    dst = (src > gaussian_local_mean - C) ? 0 : 255.  The gaussian
    window uses sigma = 0.3*((block-1)*0.5-1)+0.8 per OpenCV.  This is
    the binarization that flips black-on-white ink to 255-on-0.  The
    local mean runs in 8.8 fixed point (see _sep_filter_u8).
    """
    mean = _sep_filter_u8(img, _gaussian_kernel_1d(_ADAPTIVE_BLOCK))
    return np.where(img > mean.astype(np.int16) - _ADAPTIVE_C,
                    0, 255).astype(np.uint8)


# ----------------------------------------------------------- morphology

def _window_reduce(img: np.ndarray, kw: int, kh: int, is_min: bool,
                   pad_val: int) -> np.ndarray:
    """Rect-kernel min/max filter with OpenCV anchoring.

    OpenCV's default anchor is (kw//2, kh//2); the window covering output
    (y, x) spans offsets [-anchor, k-1-anchor].  The border behaves as
    BORDER_CONSTANT with +inf (erode) / -inf (dilate), i.e. never
    constrains the result, realized here by padding with pad_val.
    """
    ay, ax = kh // 2, kw // 2
    padded = np.pad(img, ((ay, kh - 1 - ay), (ax, kw - 1 - ax)),
                    constant_values=pad_val)
    h, w = img.shape
    op = np.minimum if is_min else np.maximum
    # rect kernels are separable for min/max: rows pass, then cols pass
    rows = padded[:, 0:w].copy()
    for dx in range(1, kw):
        rows = op(rows, padded[:, dx:dx + w])
    out = rows[0:h, :].copy()
    for dy in range(1, kh):
        out = op(out, rows[dy:dy + h, :])
    return out


def erode(img: np.ndarray, width: int = 2, height: int = 2) -> np.ndarray:
    return _window_reduce(img, width, height, is_min=True, pad_val=255)


def dilate(img: np.ndarray, width: int = 2, height: int = 2) -> np.ndarray:
    return _window_reduce(img, width, height, is_min=False, pad_val=0)


# --------------------------------------------------------------- resize

def resize_area(img: np.ndarray, out_wh: tuple[int, int]) -> np.ndarray:
    """INTER_AREA resampling: each output pixel is the exact average of
    the (fractional) source box it covers.  Implemented as two 1-D
    weight matrices so `out = Wy @ img @ Wx.T` (fully vectorized, also
    usable batched via einsum)."""
    out_w, out_h = out_wh
    wy = _area_weights(img.shape[0], out_h)
    wx = _area_weights(img.shape[1], out_w)
    out = wy @ img.astype(np.float64) @ wx.T
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


_AREA_W_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _area_weights(n_in: int, n_out: int) -> np.ndarray:
    """Row-stochastic (n_out, n_in) overlap matrix of [i*s,(i+1)*s) with
    unit source cells.  Cached: the classify path resizes thousands of
    char crops with only a handful of distinct source sizes."""
    key = (n_in, n_out)
    w = _AREA_W_CACHE.get(key)
    if w is not None:
        return w
    s = n_in / n_out
    w = np.zeros((n_out, n_in))
    for i in range(n_out):
        lo, hi = i * s, (i + 1) * s
        j0, j1 = int(math.floor(lo)), int(math.ceil(hi))
        for j in range(j0, min(j1, n_in)):
            w[i, j] = min(hi, j + 1) - max(lo, j)
    w /= s
    if len(_AREA_W_CACHE) < 4096:
        _AREA_W_CACHE[key] = w
    return w


# --------------------------------------------------------------- rotate

def rotate(img: np.ndarray, angle_deg: float,
           out_rows: tuple[int, int] | None = None) -> np.ndarray:
    """Rotate about the integer center by angle (counter-clockwise for
    positive angles, as cv2.getRotationMatrix2D), cubic interpolation
    (Catmull-Rom style with a=-0.75 like OpenCV), border replicate.

    `out_rows=(y0, y1)` computes only that band of output rows — used to
    fuse the downstream fractional crop into the rotation (the MICR path
    reads only the bottom 40%), cutting the dominant per-image cost.

    Small angles (the deskew regime) use the exact Paeth 3-shear
    decomposition M = Sx(-tan(θ/2))·Sy(sinθ)·Sx(-tan(θ/2)): the x-shears
    resample with contiguous row slices and only the y-shear gathers —
    4 gathers instead of the dense warp's 16.  Large angles fall back
    to the dense bicubic inverse map.
    """
    h, w = img.shape
    y0, y1 = out_rows if out_rows is not None else (0, h)
    if angle_deg == 0:
        return img[y0:y1].copy()
    if abs(angle_deg) <= 15.0:
        return _rotate_shear(img, angle_deg, y0, y1)
    cx, cy = w // 2, h // 2
    a = math.radians(angle_deg)
    cos, sin = math.cos(a), math.sin(a)
    ys, xs = np.mgrid[y0:y1, 0:w]
    xr = (xs - cx).astype(np.float32)
    yr = (ys - cy).astype(np.float32)
    # inverse rotation (by -angle)
    src_x = cos * xr - sin * yr + cx
    src_y = sin * xr + cos * yr + cy
    return _bicubic_sample(img, src_x, src_y)


def _shear_rows_cubic(img: np.ndarray, shifts: np.ndarray) -> np.ndarray:
    """Resample each row i at x + shifts[i] (replicate borders) with the
    cubic kernel — contiguous slice arithmetic, no gathers."""
    h, w = img.shape
    k = np.floor(shifts).astype(np.int64)
    t = (shifts - k).astype(np.float32)
    lut = _cubic_lut()
    q = np.rint(t * _CUBIC_LEVELS).astype(np.int64)
    margin = int(max(abs(k.min()), abs(k.max()))) + 2
    padded = np.pad(img.astype(np.float32), ((0, 0), (margin, margin)),
                    mode="edge")
    out = np.empty((h, w), dtype=np.float32)
    # rows sharing an integer shift form contiguous runs (the rotation
    # caller passes a*(ys - cy), monotonic in y; the cut logic only
    # assumes equal k WITHIN a run), so each tap is one contiguous 2-D
    # slice per run instead of a python-loop row at a time — same
    # values, same tap-order adds, bit-identical output
    cuts = np.nonzero(np.diff(k))[0] + 1
    r0s = np.concatenate([[0], cuts])
    r1s = np.concatenate([cuts, [h]])
    for r0, r1 in zip(r0s, r1s):
        base = margin + int(k[r0]) - 1
        wblk = lut[q[r0:r1]]                       # (run, 4)
        acc = padded[r0:r1, base:base + w] * wblk[:, 0:1]
        for j in range(1, 4):
            acc += padded[r0:r1, base + j:base + j + w] * wblk[:, j:j + 1]
        out[r0:r1] = acc
    return out


def _rotate_shear(img: np.ndarray, angle_deg: float, y0: int, y1: int
                  ) -> np.ndarray:
    h, w = img.shape
    cx, cy = w // 2, h // 2
    th = math.radians(angle_deg)
    a = -math.tan(th / 2)
    b = math.sin(th)
    xs = np.arange(w, dtype=np.float32)
    sy = b * (xs - cx)  # per-column source row offset
    k = np.floor(sy).astype(np.int32)
    t = (sy - k).astype(np.float32)
    # pass 1: x-shear — only the source rows pass 2 will read.  The
    # y-shear gathers rows y + k[col] + j - 1, y in [y0, y1), j in
    # 0..3, so rows outside [y0 + min(k) - 1, y1 + max(k) + 2) are
    # computed and thrown away; for the fused bottom-band crop that is
    # ~60% of the image.  Row values are identical — only which rows
    # get computed changes — so the output is bit-for-bit the same.
    lo = max(0, y0 + int(k.min()) - 1)
    hi = min(h, y1 + int(k.max()) + 2)
    ys_p1 = np.arange(lo, hi, dtype=np.float32)
    g1 = _shear_rows_cubic(img[lo:hi], a * (ys_p1 - cy))
    # pass 2: y-shear, only output rows [y0, y1).  sy is monotonic in
    # x, so columns sharing a k value form CONTIGUOUS runs and each
    # (run, j) term reads a contiguous row block of g1 — plain slices
    # replace the flat element gather (same values, same j-order adds,
    # so the output is bit-identical; the gather's per-element index
    # arithmetic was the rotation's single largest cost).
    lut = _cubic_lut()
    q = np.rint(t * _CUBIC_LEVELS).astype(np.int32)
    wy = lut[q]  # (w, 4)
    nb = y1 - y0
    cuts = np.nonzero(np.diff(k))[0] + 1
    c0s = np.concatenate([[0], cuts])
    c1s = np.concatenate([cuts, [w]])
    out2 = np.empty((nb, w), dtype=np.float32)
    for c0, c1 in zip(c0s, c1s):
        kv = int(k[c0])
        acc = np.zeros((nb, c1 - c0), dtype=np.float32)
        for j in range(4):
            r0 = y0 + kv + j - 1
            if 0 <= r0 and r0 + nb <= h:
                blk = g1[r0 - lo:r0 - lo + nb, c0:c1]
            else:
                # replicate clamp against the FULL image bounds; the
                # clamped row stays inside [lo, hi) by construction
                ridx = np.clip(np.arange(r0, r0 + nb), 0, h - 1) - lo
                blk = g1[ridx, c0:c1]
            acc += blk * wy[c0:c1, j]
        out2[:, c0:c1] = acc
    # pass 3: x-shear on the band
    ys2 = np.arange(y0, y1, dtype=np.float32)
    out3 = _shear_rows_cubic(out2, a * (ys2 - cy))
    return np.clip(np.round(out3, out=out3), 0, 255).astype(np.uint8)


def _cubic_weights(t: np.ndarray) -> tuple[np.ndarray, ...]:
    """BiCubic convolution weights for offsets -1, 0, 1, 2 at fraction t,
    with OpenCV's a = -0.75."""
    a = -0.75
    t2, t3 = t * t, t * t * t
    w0 = a * (t3 - 2 * t2 + t)
    w1 = (a + 2) * t3 - (a + 3) * t2 + 1
    w2 = -(a + 2) * t3 + (2 * a + 3) * t2 - a * t
    w3 = -a * (t3 - t2)
    return w0, w1, w2, w3


_CUBIC_LUT: np.ndarray | None = None
_CUBIC_LEVELS = 64


def _cubic_lut() -> np.ndarray:
    """(levels+1, 4) float32 table of bicubic weights over quantized
    fractions — replaces per-pixel polynomial evaluation (the weight
    curve is smooth; 1/64 quantization is far below the uint8 rounding
    of the output)."""
    global _CUBIC_LUT
    if _CUBIC_LUT is None:
        t = np.arange(_CUBIC_LEVELS + 1) / _CUBIC_LEVELS
        _CUBIC_LUT = np.stack(_cubic_weights(t), axis=1).astype(np.float32)
    return _CUBIC_LUT


def _bicubic_sample(img: np.ndarray, src_x: np.ndarray, src_y: np.ndarray) -> np.ndarray:
    h, w = img.shape
    fimg = np.ascontiguousarray(img, dtype=np.float32)
    flat = fimg.ravel()
    src_x = src_x.astype(np.float32)
    src_y = src_y.astype(np.float32)
    x0 = np.floor(src_x).astype(np.int32)
    y0 = np.floor(src_y).astype(np.int32)
    lut = _cubic_lut()
    qx = np.rint((src_x - x0) * _CUBIC_LEVELS).astype(np.int32)
    qy = np.rint((src_y - y0) * _CUBIC_LEVELS).astype(np.int32)
    wx = [lut[:, i][qx] for i in range(4)]
    wy = [lut[:, j][qy] for j in range(4)]
    out = np.zeros(src_x.shape, dtype=np.float32)
    scratch = np.empty_like(out)
    idx = np.empty(src_x.shape, dtype=np.int32)
    row_acc = np.empty_like(out)
    for j in range(4):
        yy = np.clip(y0 + j - 1, 0, h - 1)
        base = yy * np.int32(w)
        row_acc[:] = 0
        for i in range(4):
            np.clip(x0 + np.int32(i - 1), 0, w - 1, out=idx)
            idx += base
            np.take(flat, idx, out=scratch.view())  # flattened gather
            scratch *= wx[i]
            row_acc += scratch
        row_acc *= wy[j]
        out += row_acc
    return np.clip(np.round(out, out=out), 0, 255).astype(np.uint8)


# ------------------------------------------------------- min-area rect

def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain; points (N,2) float; returns CCW hull.
    Scalar 2-D cross products over python tuples — much faster than
    np.cross per comparison."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    tup = [(float(x), float(y)) for x, y in pts[order]]

    def half(seq):
        chain: list[tuple[float, float]] = []
        for px, py in seq:
            while len(chain) >= 2:
                ax, ay = chain[-2]
                bx, by = chain[-1]
                if (bx - ax) * (py - ay) - (by - ay) * (px - ax) <= 0:
                    chain.pop()
                else:
                    break
            chain.append((px, py))
        return chain

    lower = half(tup)
    upper = half(reversed(tup))
    return np.array(lower[:-1] + upper[:-1])


def min_area_rect(points: np.ndarray) -> tuple[float, float, float]:
    """Rotating-calipers minimum-area rectangle over a point set.

    Returns (width, height, angle_deg) with angle in [0, 90): the angle
    from the +x axis to the rectangle edge designated 'width'.  Matches
    cv2.minAreaRect's role in skew estimation (src/contour.ts:130-141).
    """
    hull = convex_hull(np.asarray(points, dtype=np.float64))
    if len(hull) == 1:
        return (0.0, 0.0, 0.0)
    if len(hull) == 2:
        d = hull[1] - hull[0]
        ang = math.degrees(math.atan2(d[1], d[0])) % 180
        length = float(np.hypot(*d))
        if ang < 90:
            return (length, 0.0, ang)
        return (0.0, length, ang - 90)
    # all caliper edges at once: each projection element is the same
    # two-term dot (x*ux + y*uy) the per-edge loop computed, and
    # argmin picks the FIRST minimum exactly like the loop's strict
    # '<', so the chosen edge (and hence the angle) is bit-identical.
    # Explicit broadcasting, not a matmul: a BLAS kernel may fuse the
    # two terms (FMA), which would make near-tie edge choices depend
    # on the BLAS build
    e = np.roll(hull, -1, axis=0) - hull            # (n, 2)
    norms = np.hypot(e[:, 0], e[:, 1])
    valid = norms != 0
    if not valid.any():
        return (0.0, 0.0, 0.0)
    u = e[valid] / norms[valid, None]               # (m, 2) unit edges
    ux, uy = u[:, 0, None], u[:, 1, None]
    x, y = hull[:, 0], hull[:, 1]
    pu = ux * x + uy * y                            # (m, N)
    pv = -uy * x + ux * y
    wid = pu.max(axis=1) - pu.min(axis=1)
    hei = pv.max(axis=1) - pv.min(axis=1)
    area = wid * hei
    i = int(area.argmin())
    w_i, h_i = float(wid[i]), float(hei[i])
    ang = math.degrees(math.atan2(u[i, 1], u[i, 0])) % 180
    # normalize so angle is in [0, 90), swapping w/h as needed
    if ang >= 90:
        ang -= 90
        w_i, h_i = h_i, w_i
    return (w_i, h_i, ang)


def skew_angle_from_rect(width: float, height: float, angle: float) -> float:
    """The reference's V1 correction rule (src/contour.ts:130-141):
    angle = width < height ? -(90 - angle) : angle."""
    if width < height:
        return -(90.0 - angle)
    return angle


# ------------------------------------------------ connected components

class _LazyLabels:
    """Deferred label-image paint, shared by every Region of one
    labeling.  Most find_regions consumers only read rects/areas (now
    aggregated from the run table), so the cumsum paint of the full
    label image runs only when some Region actually indexes pixels
    (mask / minmax_x_in_yrange) — and then once, cached for all
    Regions of the call."""

    __slots__ = ("_paint", "_arr", "shape")

    def __init__(self, paint, shape):
        self._paint = paint
        self._arr = None
        self.shape = shape

    def materialize(self) -> np.ndarray:
        if self._arr is None:
            self._arr = self._paint()
        return self._arr

    def __getitem__(self, key):
        return self.materialize()[key]


@dataclass
class Region:
    """One connected component of set pixels — the analog of the
    reference's Contour (external contour + bounding rect + areas)."""

    idx: int
    rect: tuple[int, int, int, int]  # x, y, w, h
    area: int  # rect area (w*h) — reference Contour.area
    area2: float  # component pixel count — analog of cv.contourArea
    label: int
    labels: np.ndarray = field(repr=False)  # shared labeled image

    @property
    def width(self) -> int:
        return self.rect[2]

    @property
    def height(self) -> int:
        return self.rect[3]

    def y_range(self) -> tuple[int, int]:
        return (self.rect[1], self.rect[1] + self.rect[3])

    def mask(self) -> np.ndarray:
        """Boolean mask of this component, cropped to its rect."""
        x, y, w, h = self.rect
        return self.labels[y:y + h, x:x + w] == self.label

    def minmax_x_in_yrange(self, y_min: int, y_max: int) -> tuple[int, int] | None:
        """Min and max x of component pixels with y in [y_min, y_max]."""
        y0 = max(0, y_min)
        y1 = min(self.labels.shape[0], y_max + 1)
        if y1 <= y0:
            return None
        sub = self.labels[y0:y1, :] == self.label
        if not sub.any():
            return None
        xs = np.nonzero(sub)[1]
        return (int(xs.min()), int(xs.max()))


def _label_runs(binary: np.ndarray):
    """8-connected component labeling of set (non-zero) pixels.

    Row-run union-find, O(runs) — ALL runs are extracted in one
    vectorized diff over the row-padded flat mask (no per-row python),
    matched against the previous row's runs with a two-pointer sweep,
    and painted back via a cumsum delta.  Returns (labels, count, runs)
    where labels is a LAZY int32 image (0 = background, 1..count =
    components; the paint runs on first pixel access — see
    :class:`_LazyLabels`), and runs = (rows, x0s, x1s, final) describes
    every horizontal run (x1 exclusive) with its dense component label
    — the run table lets :func:`find_regions` build bounding rects
    without re-scanning pixels.
    """
    h, w = binary.shape
    # pad a False column after each row so runs cannot cross rows
    padded = np.zeros((h, w + 1), dtype=np.int8)
    padded[:, :w] = binary > 0
    flat = padded.ravel()
    d = np.diff(flat)
    starts = np.nonzero(d == 1)[0] + 1
    ends = np.nonzero(d == -1)[0] + 1
    if flat[0]:
        starts = np.concatenate([[0], starts])
    n = len(starts)
    if n == 0:
        empty = np.zeros(0, dtype=np.int64)
        zeros = _LazyLabels(
            lambda: np.zeros((h, w), dtype=np.int32), (h, w))
        return zeros, 0, (empty, empty, empty, empty)
    stride = w + 1
    rows = starts // stride
    x0s = starts - rows * stride
    x1s = ends - rows * stride  # exclusive

    parent = np.arange(n + 1, dtype=np.int64)  # union-find over run ids

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    run_lab = np.zeros(n, dtype=np.int64)
    next_label = 0
    idx = 0
    prev_lo = prev_hi = 0
    prev_row = -2
    rows_l = rows.tolist()
    x0_l = x0s.tolist()
    x1_l = x1s.tolist()
    while idx < n:
        y = rows_l[idx]
        hi = idx
        while hi < n and rows_l[hi] == y:
            hi += 1
        plo, phi = (prev_lo, prev_hi) if y - 1 == prev_row else (0, 0)
        p = plo
        for k in range(idx, hi):
            a0 = x0_l[k]
            a1 = x1_l[k]
            # 8-connectivity: prev run [b0,b1) touches [a0,a1) iff
            # b0 <= a1 and b1 >= a0 (x1 exclusive: diagonal contact)
            while p < phi and x1_l[p] < a0:
                p += 1
            lab = 0
            q = p
            while q < phi and x0_l[q] <= a1:
                plab = find(run_lab[q])
                if lab == 0:
                    lab = plab
                elif plab != lab:
                    ra, rb = (lab, plab) if lab < plab else (plab, lab)
                    parent[rb] = ra
                    lab = ra
                q += 1
            if lab == 0:
                next_label += 1
                lab = next_label
            run_lab[k] = lab
        prev_lo, prev_hi, prev_row = idx, hi, y
        idx = hi
    # resolve run labels to roots, then to dense 1..count — label order
    # follows first (row-major) appearance, as before
    roots = np.array([find(int(lb)) for lb in run_lab], dtype=np.int64)
    uniq = np.unique(roots)
    remap = np.zeros(int(uniq.max()) + 1, dtype=np.int32)
    remap[uniq] = np.arange(1, len(uniq) + 1)
    final = remap[roots]
    def paint() -> np.ndarray:
        # paint via cumsum deltas (runs are disjoint in the flat space)
        delta = np.zeros(h * stride + 1, dtype=np.int32)
        np.add.at(delta, starts, final)
        np.add.at(delta, ends, -final)
        return (np.cumsum(delta[:-1]).reshape(h, stride)[:, :w]
                .astype(np.int32))

    return (_LazyLabels(paint, (h, w)), len(uniq),
            (rows, x0s, x1s, final.astype(np.int64)))


def find_regions(binary: np.ndarray) -> list[Region]:
    """Connected components → Region list, sorted left-to-right and
    re-indexed (the reference's getContours contract,
    src/image.ts:416-446).  Bounding rects and pixel counts are
    aggregated from the labeler's RUN table (min/max/sum per label via
    one reduceat each) — runs are a small fraction of pixels, so this
    replaces the previous full-image nonzero + argsort pass with
    identical integer results."""
    labels, count, (rows, x0s, x1s, final) = _label_runs(binary)
    if count == 0:
        return []
    order = np.argsort(final, kind="stable")
    f_s = final[order]
    rows_s, x0_s, x1_s = rows[order], x0s[order], x1s[order]
    lens_s = x1_s - x0_s
    bounds = np.searchsorted(f_s, np.arange(1, count + 2))
    seg = bounds[:-1]
    min_x = np.minimum.reduceat(x0_s, seg)
    max_x = np.maximum.reduceat(x1_s, seg) - 1   # x1 exclusive
    min_y = np.minimum.reduceat(rows_s, seg)
    max_y = np.maximum.reduceat(rows_s, seg)
    n_px = np.add.reduceat(lens_s, seg)
    regions: list[Region] = []
    for lab in range(1, count + 1):
        i = lab - 1
        rect = (int(min_x[i]), int(min_y[i]),
                int(max_x[i] - min_x[i] + 1), int(max_y[i] - min_y[i] + 1))
        regions.append(Region(
            idx=-1, rect=rect, area=rect[2] * rect[3],
            area2=float(n_px[i]), label=lab, labels=labels))
    regions.sort(key=lambda r: r.rect[0])
    for i, r in enumerate(regions):
        r.idx = i
    return regions


# ------------------------------------------- overlap-correction kernels

def clear_by_boundary(img: np.ndarray, points: list) -> None:
    """Zero everything on and inside the closed polygon through
    `points` [(x, y), ...], in place (src/image.ts:1191-1210 — there a
    filled drawContours mask ANDed away; here boundary Bresenham lines
    plus an even-odd scanline fill).  Degenerate inputs (< 3 points)
    clear only the boundary pixels."""
    h, w = img.shape
    n = len(points)
    if n == 0:
        return
    for i in range(n):
        x0, y0 = points[i]
        x1, y1 = points[(i + 1) % n]
        dx, dy = abs(x1 - x0), abs(y1 - y0)
        sx = 1 if x0 < x1 else -1
        sy = 1 if y0 < y1 else -1
        err = dx - dy
        x, y = x0, y0
        while True:
            if 0 <= x < w and 0 <= y < h:
                img[y, x] = 0
            if x == x1 and y == y1:
                break
            e2 = 2 * err
            if e2 > -dy:
                err -= dy
                x += sx
            if e2 < dx:
                err += dx
                y += sy
    if n < 3:
        return
    ys = [p[1] for p in points]
    for y in range(max(min(ys), 0), min(max(ys), h - 1) + 1):
        xs = []
        for i in range(n):
            x0, y0 = points[i]
            x1, y1 = points[(i + 1) % n]
            if y0 == y1:
                continue
            if (y0 <= y < y1) or (y1 <= y < y0):
                xs.append(x0 + (y - y0) * (x1 - x0) / (y1 - y0))
        xs.sort()
        for j in range(0, len(xs) - 1, 2):
            a = max(int(np.ceil(xs[j])), 0)
            b = min(int(np.floor(xs[j + 1])), w - 1)
            if b >= a:
                img[y, a:b + 1] = 0


def clear_padding(img: np.ndarray, padding: int) -> None:
    """Zero the `padding`-wide frame in place (src/image.ts:1102-1122)."""
    img[:padding, :] = 0
    img[img.shape[0] - padding:, :] = 0
    img[:, :padding] = 0
    img[:, img.shape[1] - padding:] = 0


def clear_by_vertical_thickness(img: np.ndarray, threshold: int,
                                rect: tuple[int, int, int, int] | None = None) -> None:
    """Erase x-columns whose ink span (last_set_y - first_set_y) <=
    threshold, within rect, in place (src/image.ts:1077-1100).

    Column spans are vectorized via argmax over boolean masks; runs of
    thin columns are cleared wholesale like the reference's polygon fill.
    """
    x, y, w, h = rect if rect else (0, 0, img.shape[1], img.shape[0])
    x1, y1 = x + w, y + h  # exclusive; ref used inclusive minmax — w,h>=1 so
    x1 = min(x1 + 0, img.shape[1])
    y1 = min(y1, img.shape[0])
    sub = img[y:y1, x:x1] > 128
    any_col = sub.any(axis=0)
    first = np.argmax(sub, axis=0)
    last = sub.shape[0] - 1 - np.argmax(sub[::-1, :], axis=0)
    span = last - first
    thin = any_col & (span <= threshold)
    img[y:y1, x:x1][:, thin] = 0


def hv_thin(img: np.ndarray, min_h: int, min_v: int,
            rect: tuple[int, int, int, int]) -> None:
    """Iteratively unset pixels whose horizontal run < min_h AND vertical
    run < min_v, within rect, in place, for at most 100 passes
    (src/image.ts:1124-1184).

    Run lengths computed via cumulative-sum trick per iteration.
    """
    x, y, w, h = rect
    y1, x1 = min(y + h, img.shape[0]), min(x + w, img.shape[1])
    for _ in range(100):
        sub = img[y:y1, x:x1] > 128
        if not sub.any():
            break
        hruns = _run_lengths(sub, axis=1)
        vruns = _run_lengths(sub, axis=0)
        kill = sub & (hruns < min_h) & (vruns < min_v)
        if not kill.any():
            break
        img[y:y1, x:x1][kill] = 0


def _run_lengths(mask: np.ndarray, axis: int) -> np.ndarray:
    """For each set pixel, the length of its maximal run along `axis`."""
    m = mask if axis == 1 else mask.T
    h, w = m.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = m
    d = np.diff(padded.astype(np.int8), axis=1)
    out = np.zeros((h, w), dtype=np.int32)
    for r in range(h):
        starts = np.nonzero(d[r] == 1)[0]
        ends = np.nonzero(d[r] == -1)[0]
        for s, e in zip(starts, ends):
            out[r, s:e] = e - s
    return out if axis == 1 else out.T


# ----------------------------------------------------------- sampling

def is_white_background(img: np.ndarray) -> bool:
    """Mean of every 10th pixel > 128 (src/check.ts:246-264)."""
    return float(img[::10, ::10].mean()) > 128
