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
  connected regions   src/image.ts:416-446  (RETR_EXTERNAL analog,
                      over run tables; dilate kw x 1 as widen_runs)
  clear_padding       src/image.ts:1102-1122
  clear_by_vertical_thickness src/image.ts:1077-1100
  hv_thin             src/image.ts:1124-1184

Convention: images are 2-D uint8 arrays indexed [y, x]; binary images
use 255 = set (ink), 0 = clear, i.e. white-on-black after thresholding
(the reference's post-adaptive-threshold polarity).  Binary stages
that feed only components (labeling, the skew path's dilate) pass RUN
TABLES instead of images — see "connected components" below.
Thresholds, run extraction, widening and labeling are whole-array
numpy with no python loop per run; the rotation's shears loop only
over their integer-shift runs (a few dozen block operations each).
"""

from __future__ import annotations

import functools
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


@functools.lru_cache(maxsize=None)
def _fixed_point_taps(ksize: int) -> tuple[np.ndarray, int, bool]:
    """(uint16 weights in 256ths, their sum, symmetric?) of the ksize
    gaussian, renormalized so the row accumulator cannot overflow
    uint16.  The overflow trim can break symmetry (it decrements one
    of the taps), so callers pair mirror taps only when ``symmetric``.
    """
    w = np.round(_gaussian_kernel_1d(ksize) * 256.0).astype(np.uint16)
    w = np.maximum(w, 1)
    while int(w.sum()) * 255 > 65535:
        w[int(np.argmax(w))] -= 1
    return w, int(w.sum()), bool(np.all(w == w[::-1]))


def _reflect_pad(src: np.ndarray, r: int, horizontal: bool) -> np.ndarray:
    """``np.pad(src, r, mode="reflect")`` along one axis: reflect-101,
    periodic with period 2(n-1) once r >= n.  One center copy plus two
    r-wide border gathers, without np.pad's per-call overhead (the
    skew refines blur many small crops)."""
    n = src.shape[1] if horizontal else src.shape[0]
    period = max(1, 2 * (n - 1))

    def fold(i: int) -> int:
        j = i % period
        return j if j < n else period - j

    lo = [fold(i) for i in range(-r, 0)]
    hi = [fold(i) for i in range(n, n + r)]
    if horizontal:
        out = np.empty((src.shape[0], n + 2 * r), dtype=src.dtype)
        out[:, r:r + n] = src
        out[:, :r] = src[:, lo]
        out[:, r + n:] = src[:, hi]
    else:
        out = np.empty((n + 2 * r, src.shape[1]), dtype=src.dtype)
        out[r:r + n] = src
        out[:r] = src[lo]
        out[r + n:] = src[hi]
    return out


def _sep_filter_u8(img: np.ndarray, ksize: int) -> np.ndarray:
    """Separable gaussian correlation for uint8 images in 8.8 fixed
    point (weights from :func:`_fixed_point_taps`).

    Each axis pass rounds back to uint8, which keeps the memory traffic
    — the binding resource with a scan worker per core — at
    uint8/uint16 width.
    """
    w, total, sym = _fixed_point_taps(ksize)
    n = len(w)
    r = n // 2
    h, width = img.shape

    # symmetric taps pair up: (sl_i + sl_j) * w_i == sl_i*w_i + sl_j*w_j
    # when w_i == w_j, and uint16 sums commute exactly (no intermediate
    # overflow: 2*w_i <= sum(w) <= 257 so 510*w_i < 2^16), so pairing
    # halves the multiplies with a bit-identical result
    def one_axis(src: np.ndarray, horizontal: bool) -> np.ndarray:
        padded = _reflect_pad(src, r, horizontal)
        # the rounding half goes in first: uint16 adds commute exactly
        acc = np.full(src.shape, total // 2, dtype=np.uint16)
        scratch = np.empty(src.shape, dtype=np.uint16)
        pair_sum = np.empty(src.shape, dtype=np.uint16)

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
        np.floor_divide(acc, total, out=acc)
        return acc.astype(np.uint8)

    return one_axis(one_axis(img, True), False)


def gaussian_blur(img: np.ndarray, ksize: int = 3) -> np.ndarray:
    """GaussianBlur with sigma derived from ksize, over a uint8 image
    (every decoder and image kernel here yields uint8)."""
    return _sep_filter_u8(img, ksize)


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


def _set_255(mask: np.ndarray) -> np.ndarray:
    """A boolean mask as a 0/255 uint8 image, in the mask's buffer."""
    out = mask.view(np.uint8)
    out *= 255
    return out


def threshold_binary_inv(img: np.ndarray, thresh: float) -> np.ndarray:
    """THRESH_BINARY_INV: dst = (src > thresh) ? 0 : 255."""
    return _set_255(img <= thresh)


def otsu_binary_inv(img: np.ndarray) -> np.ndarray:
    return threshold_binary_inv(img, otsu_threshold(img))


# the reference's adaptiveThreshold block size (src/image.ts:280-290);
# its C is 1, folded into the comparison below
_ADAPTIVE_BLOCK = 19


def adaptive_threshold_gaussian_inv(img: np.ndarray) -> np.ndarray:
    """ADAPTIVE_THRESH_GAUSSIAN_C + THRESH_BINARY_INV, block 19, C 1.

    dst = (src > gaussian_local_mean - C) ? 0 : 255.  The gaussian
    window uses sigma = 0.3*((block-1)*0.5-1)+0.8 per OpenCV.  This is
    the binarization that flips black-on-white ink to 255-on-0.  The
    local mean runs in 8.8 fixed point (see _sep_filter_u8).
    """
    mean = _sep_filter_u8(img, _ADAPTIVE_BLOCK)
    # for integers, not (src > mean - 1) is src < mean
    return _set_255(img < mean)


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
    padded = np.empty((h, w + 2 * margin), dtype=np.float32)  # edge pad
    padded[:, margin:margin + w] = img
    padded[:, :margin] = img[:, :1]
    padded[:, margin + w:] = img[:, -1:]
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
    """Output rows [y0, y1) of the Paeth 3-shear rotation: x-shear the
    source rows pass 2 reads, y-shear through a skewed buffer (one
    block copy per integer-shift column run, then four whole-band
    taps), x-shear the band.  Each pass adds its four cubic taps in
    tap order in float32; rounding happens once, at the end."""
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
    # pass 2: y-shear, only output rows [y0, y1).  Output (y, c) reads
    # g1 rows y + k[c] + j - 1, j = 0..3 (replicate clamp against the
    # FULL image; clamped rows stay inside [lo, hi) by construction).
    # sy is monotonic in x, so columns sharing a k value form
    # contiguous runs: each run's nb + 3 source rows are copied ONCE
    # into a skewed buffer sk[i, c] = g1 row y0 + k[c] - 1 + i, and
    # tap j is then the whole-band slice sk[j:j + nb]; each output
    # pixel sums its four float32 products in j order.
    lut = _cubic_lut()
    q = np.rint(t * _CUBIC_LEVELS).astype(np.int32)
    wy = lut[q]  # (w, 4)
    nb = y1 - y0
    sk = np.empty((nb + 3, w), dtype=np.float32)
    cuts = np.flatnonzero(np.diff(k)) + 1
    for c0, c1 in zip([0, *cuts.tolist()], [*cuts.tolist(), w]):
        r0 = y0 + int(k[c0]) - 1
        if 0 <= r0 and r0 + nb + 3 <= h:
            sk[:, c0:c1] = g1[r0 - lo:r0 - lo + nb + 3, c0:c1]
        else:
            ridx = np.clip(np.arange(r0, r0 + nb + 3), 0, h - 1) - lo
            sk[:, c0:c1] = g1[ridx, c0:c1]
    out2 = sk[0:nb] * wy[:, 0]
    for j in range(1, 4):
        out2 += sk[j:j + nb] * wy[:, j]
    # pass 3: x-shear on the band
    ys2 = np.arange(y0, y1, dtype=np.float32)
    out3 = _shear_rows_cubic(out2, a * (ys2 - cy))
    np.round(out3, out=out3)
    return np.clip(out3, 0, 255, out=out3).astype(np.uint8)


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
    pts = np.asarray(points, dtype=np.float64)
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]
    if len(pts) > 1:    # drop repeats: np.unique(axis=0), minus its cost
        pts = pts[np.append(True, (pts[1:] != pts[:-1]).any(axis=1))]
    if len(pts) <= 2:
        return pts
    tup = list(map(tuple, pts.tolist()))

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
#
# Binary stages pass RUN TABLES, not images: a run table is three
# parallel int arrays (rows, x0s, x1s) listing every maximal horizontal
# run of set pixels, [x0, x1) with x1 exclusive, in row-major order.
# Runs are a small fraction of pixels, and every step below is a
# whole-array numpy op over them — no python loop per run.

Runs = tuple[np.ndarray, np.ndarray, np.ndarray]


def runs_of(mask: np.ndarray) -> Runs:
    """Run table of the set (non-zero) pixels of a 2-D mask, from one
    transition scan: each row is framed by a clear column on both
    sides, so over the flattened frame the transitions alternate
    start, end, start, ... and no run crosses a row."""
    h, w = mask.shape
    stride = w + 2
    framed = np.zeros((h, stride), dtype=bool)
    framed[:, 1:w + 1] = mask
    flat = framed.ravel()
    t = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    starts, ends = t[0::2], t[1::2]
    rows = starts // stride
    base = rows * stride + 1
    return rows, starts - base, ends - base


def widen_runs(runs: Runs, kw: int, width: int) -> Runs:
    """The run table of ``dilate(img, kw, 1)`` given the run table of
    ``img`` (``width`` columns).  With OpenCV's anchor kw//2 and a
    zero-padded border, a run [x0, x1) dilates to
    [x0 - (kw-1-kw//2), x1 + kw//2) clipped to the image; runs of one
    row that now overlap or touch merge.  Widening keeps x0s and x1s
    non-decreasing within a row, so a merged run starts where the row
    changes or a gap opens, and ends at its last member's x1."""
    rows, x0s, x1s = runs
    if len(rows) == 0:
        return runs
    ax = kw // 2
    x0w = np.maximum(x0s - (kw - 1 - ax), 0)
    x1w = np.minimum(x1s + ax, width)
    first = np.ones(len(rows), dtype=bool)
    first[1:] = (rows[1:] != rows[:-1]) | (x0w[1:] > x1w[:-1])
    starts = np.flatnonzero(first)
    last = np.append(starts[1:], len(rows)) - 1
    return rows[starts], x0w[starts], x1w[last]


def _label_run_table(runs: Runs, width: int) -> tuple[np.ndarray, int]:
    """8-connected component label (1..count) of every run.

    Neighbours: runs of the previous row touching [a0, a1) — [b0, b1)
    with b1 >= a0 and b0 <= a1 (diagonal contact included) — form one
    contiguous index range, found for all runs at once with two
    searchsorted calls over the row-major start/end keys.  Components
    then come from min-hooking (each edge hooks the larger root onto
    the smaller, ``np.minimum.at``) plus pointer jumping, repeated until
    no edge joins two roots.  A root only ever hooks onto a smaller
    index, so every component ends rooted at its first run in
    row-major order, and dense labels ranked by root are the order of
    first appearance."""
    rows, x0s, x1s = runs
    n = len(rows)
    stride = width + 2           # keys of different rows never interleave
    start_key = rows * stride + x0s
    end_key = rows * stride + x1s
    above = (rows - 1) * stride
    lo = np.searchsorted(end_key, above + x0s, side="left")
    hi = np.searchsorted(start_key, above + x1s, side="right")
    deg = np.maximum(hi - lo, 0)
    src = np.repeat(np.arange(n), deg)
    offs = np.cumsum(deg) - deg
    dst = np.repeat(lo - offs, deg) + np.arange(len(src))
    parent = np.arange(n)
    while True:
        ps, pd = parent[src], parent[dst]
        join = ps != pd
        if not join.any():
            break
        np.minimum.at(parent, np.maximum(ps[join], pd[join]),
                      np.minimum(ps[join], pd[join]))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    is_root = parent == np.arange(n)
    dense = np.cumsum(is_root)
    return dense[parent], int(dense[-1]) if n else 0


@dataclass
class Region:
    """One connected component of set pixels — the analog of the
    reference's Contour (external contour + bounding rect + areas).
    Carries its own runs (row-major), so pixel queries read O(runs)."""

    idx: int
    rect: tuple[int, int, int, int]  # x, y, w, h
    area: int  # rect area (w*h) — reference Contour.area
    area2: float  # component pixel count — analog of cv.contourArea
    label: int  # rank of the component's first run in row-major order
    runs: Runs = field(repr=False)

    @property
    def width(self) -> int:
        return self.rect[2]

    @property
    def height(self) -> int:
        return self.rect[3]

    def y_range(self) -> tuple[int, int]:
        return (self.rect[1], self.rect[1] + self.rect[3])

    def row_extents(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(ys, first_x, last_x) of every row of the component, last_x
        inclusive.  Runs are row-major, so a row's first run holds its
        minimum x and its last run its maximum."""
        rows, x0s, x1s = self.runs
        first = np.flatnonzero(np.diff(rows, prepend=-1))
        last = np.append(first[1:], len(rows)) - 1
        return rows[first], x0s[first], x1s[last] - 1

    def minmax_x_in_yrange(self, y_min: int, y_max: int) -> tuple[int, int] | None:
        """Min and max x of component pixels with y in [y_min, y_max]."""
        rows, x0s, x1s = self.runs
        i0 = int(np.searchsorted(rows, y_min, side="left"))
        i1 = int(np.searchsorted(rows, y_max, side="right"))
        if i1 <= i0:
            return None
        return (int(x0s[i0:i1].min()), int(x1s[i0:i1].max()) - 1)


def find_regions(binary: np.ndarray) -> list[Region]:
    """Connected components of a binary image's set pixels → Region
    list (see :func:`regions_of_runs`)."""
    return regions_of_runs(runs_of(binary), binary.shape[1])


def regions_of_runs(runs: Runs, width: int) -> list[Region]:
    """8-connected components of a run table (``width`` columns) →
    Region list, sorted left-to-right (stable, so ties keep label
    order) and re-indexed — the reference's getContours contract
    (src/image.ts:416-446).  Rects and pixel counts are per-label
    min/max/sum reductions over the runs grouped by label."""
    final, count = _label_run_table(runs, width)
    if count == 0:
        return []
    rows, x0s, x1s = runs
    order = np.argsort(final, kind="stable")
    rows_s, x0_s, x1_s = rows[order], x0s[order], x1s[order]
    bounds = np.searchsorted(final[order], np.arange(1, count + 2))
    seg = bounds[:-1]
    min_x = np.minimum.reduceat(x0_s, seg).tolist()
    max_x = np.maximum.reduceat(x1_s, seg).tolist()   # exclusive
    min_y = rows_s[seg].tolist()                       # row-major
    max_y = rows_s[bounds[1:] - 1].tolist()
    n_px = np.add.reduceat(x1_s - x0_s, seg).tolist()
    b = bounds.tolist()
    regions: list[Region] = []
    for i in range(count):
        rect = (min_x[i], min_y[i], max_x[i] - min_x[i],
                max_y[i] - min_y[i] + 1)
        sl = slice(b[i], b[i + 1])
        regions.append(Region(
            idx=-1, rect=rect, area=rect[2] * rect[3],
            area2=float(n_px[i]), label=i + 1,
            runs=(rows_s[sl], x0_s[sl], x1_s[sl])))
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
