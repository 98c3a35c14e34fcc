"""Per-document scan composition — the dataflow of Check.scan.

Stage chain (reference: /root/reference/src/check.ts:193-295):

  decode → grayscale → deskew → clean(2x2, order by background) →
  crop bottom 40% → blur(3) → adaptiveThreshold(gauss, inv, 19, 1) →
  seed-search + line build → [overlap correction + 2nd pass] →
  classify chars → MICR string → field grammar → CheckInfo

Pure Python/NumPy over one image; the Spark layer batches this over
Arrow record batches (plans/pipeline.py).  The per-document path is
embarrassingly parallel — zero cross-document dataflow.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..functions.micr import CheckInfo, parse_micr
from ..operators import kernels as K
from ..operators.classify import TemplateSet, translate_line
from ..operators.segment import Line, find_micr_line_info
from ..sources import codecs

# src/config.ts defaults: cleanHeight :18 and cleanWidth :19 (the
# clean's rect kernel), overlapPadding :51 (the correction's ROI pad).
# overlapCorrection (:50) defaults to true: the correction always runs.
CLEAN_HEIGHT = 2
CLEAN_WIDTH = 2
OVERLAP_PADDING = 5
# getMicrLine keeps the bottom 40% of the deskewed image
CROP_BEGIN_H = 0.60
# skew_angle's shortlist pass runs on a 2x-strided image
SKEW_DOWNSCALE = 2


@dataclass
class ScanResult:
    ok: bool
    check_info: CheckInfo | None = None
    micr_value: str = ""
    score: int = 0
    overlap: bool = False
    nchars: int = 0
    error: str = ""
    char_choices: list = field(default_factory=list)


def _region_angle(region: K.Region) -> float:
    """Min-area-rect angle of one component with the V1 correction
    (src/contour.ts:130-141).  Hull of a filled region == hull of its
    per-row x extremes: feed O(rows) points into the calipers instead
    of O(pixels).  Points are relative to the region's rect corner —
    the calipers' float rounding depends on the translation."""
    ys, first, last = region.row_extents()
    rx, ry = region.rect[0], region.rect[1]
    ys = ys - ry
    pts = np.concatenate([
        np.column_stack([first - rx, ys]),
        np.column_stack([last - rx, ys]),
    ]).astype(float)
    mw, mh, ang = K.min_area_rect(pts)
    return K.skew_angle_from_rect(mw, mh, ang)


def _skew_regions(gray: np.ndarray, kw: int) -> list[K.Region]:
    """The skew detector's components: blur(7) → Otsu-inv → dilate kw x 1
    → regions, fused on the run table — the Otsu set pixels
    (blurred <= t) go straight to runs, and the dilate widens the runs
    (:func:`K.widen_runs`), so neither the binary nor the dilated image
    is built."""
    blurred = K.gaussian_blur(gray, 7)
    runs = K.runs_of(blurred <= K.otsu_threshold(blurred))
    w = gray.shape[1]
    return K.regions_of_runs(K.widen_runs(runs, kw, w), w)


def _refine_skew_candidate(gray: np.ndarray,
                           rect_small: tuple[int, int, int, int],
                           ds: int):
    """Full-res re-measure of one half-res skew candidate: padded crop,
    the same blur → Otsu → 25x1 dilate pipeline, then the component
    overlapping the candidate's box the most.  Returns a Region (crop
    coordinates) or None."""
    from ..functions.geometry import get_intersecting_rect
    x, y, rw, rh = rect_small
    x0 = max(0, x * ds - ds)
    y0 = max(0, y * ds - ds)
    x1 = min(gray.shape[1], (x + rw) * ds + ds)
    y1 = min(gray.shape[0], (y + rh) * ds + ds)
    target = (x * ds - x0, y * ds - y0, rw * ds, rh * ds)
    best, ov_best = None, 0
    for r in _skew_regions(gray[y0:y1, x0:x1], 25):
        ic = get_intersecting_rect(r.rect, target)
        ov = ic[2] * ic[3] if ic else 0
        if ov > ov_best:
            best, ov_best = r, ov
    return best


def skew_angle(gray: np.ndarray) -> float:
    """Skew estimate (src/image.ts:591-607 + findSkewContourV3):
    blur(7) → Otsu-inv → dilate 25x1 → among contours with w>120,
    10<h<100, not border-touching, pick min areaFitRatio (rect area /
    filled area — most rectangle-like) → min-area-rect angle with the
    V1 correction (src/contour.ts:130-141).  The blur → Otsu → dilate
    → contours chain runs fused on run tables (:func:`_skew_regions`)
    and the angle reads each component's per-row extremes
    (:func:`_region_angle`); results are bit-identical to the
    materialized chain.

    Scale deviation: estimation runs on a ``SKEW_DOWNSCALE``-strided image
    (thresholds scaled to match) — the min-area-rect angle of a long
    bar is scale-invariant to well under the correction tolerance, and
    the full-resolution pass is the scan stage's single largest memory
    load at high worker concurrency.  Rotation itself stays full-res.
    """
    from ..functions.geometry import rect_touches_border
    ds = SKEW_DOWNSCALE if min(gray.shape) >= 128 * SKEW_DOWNSCALE else 1
    small = gray[::ds, ::ds] if ds > 1 else gray
    h, w = small.shape
    eligible = []
    for r in _skew_regions(small, max(2, 25 // ds)):
        rx, ry, rw, rh = r.rect
        # scaled thresholds with a half-pixel allowance for the strided
        # sampling (full-res h<100 ⇒ half-res h ≤ ceil(99/2) = 50)
        if not (rw > 120 / ds - 1 and 10 / ds - 1 < rh < 100 / ds + 0.5):
            continue
        if rect_touches_border(r.rect, (w, h)):
            continue
        ratio = r.area / r.area2 if r.area2 else float("inf")
        eligible.append((ratio, r))
    if not eligible:
        return 0.0
    eligible.sort(key=lambda t: t[0])
    if ds > 1:
        # Both the fit RATIO and the angle of thin bars are unreliable
        # at half resolution (a 12px-tall skewed line is 6px tall and
        # its pixel count halves non-uniformly), so the strided pass
        # only SHORTLISTS candidates; each is re-measured on a full-res
        # crop that reproduces the whole detection pipeline (blur →
        # Otsu → 25x1 dilate → component select).
        #
        # Documented deviation from the reference's single
        # min-fit-ratio pick (image.ts:650-664): the estimate is the
        # WIDTH-WEIGHTED MEDIAN of the candidates' angles.  Every text
        # bar on the page shares the global rotation, so the candidates
        # form a consensus; the failure cases are a minority of
        # degenerate bars — short bars whose min-area rect stays
        # axis-aligned (a 3° skew drops 8px over a 158px bar, inside
        # glyph noise → reports 0°) and dilate-merged neighbor lines —
        # which a single most-rectangular pick follows ~0.8% of the
        # time on ±3° fixtures, splitting on-us symbols downstream.
        # Width-weighting gives long bars (best angle resolution)
        # proportional vote, and on clean pages all angles agree so the
        # result is identical to the reference's.
        votes = []
        for _, cand in eligible[:8]:
            fr = _refine_skew_candidate(gray, cand.rect, ds)
            if fr is None:
                continue
            rw, rh = fr.rect[2], fr.rect[3]
            # width bound keeps angle resolution; the height FLOOR is
            # deliberately not re-applied — the crop's local Otsu traces
            # bars 1-3px thinner than the full-image threshold the
            # detection (and the reference) saw, and rejecting an
            # h=10 bar here would zero the estimate on images whose
            # every line is thin
            if not (rw > 120 and rh < 100):
                continue
            votes.append((_region_angle(fr), rw))
        if not votes:
            return 0.0
        votes.sort()
        half = sum(rw for _, rw in votes) / 2.0
        acc = 0
        for ang, rw in votes:
            acc += rw
            if acc >= half:
                return ang
        return votes[-1][0]
    return _region_angle(eligible[0][1])


def get_micr_band(gray: np.ndarray) -> np.ndarray:
    """Front half of getMicrLine: deskew, clean, crop the bottom band.

    The fractional crop is this engine's partition-pruning analog — all
    downstream work touches only the bottom 40% — so the crop is FUSED
    into the rotation (only band output rows are computed) and the 2x2
    clean runs on the band plus a halo.  Deviation from the reference's
    order (rotate-all → clean-all → crop): byte-identical inside the
    band except within the 4px halo seam, and the background-polarity
    sample runs on the pre-rotation image (rotation with replicate
    border moves the sampled mean negligibly)."""
    angle = skew_angle(gray)
    h = gray.shape[0]
    y0 = int(round(h * CROP_BEGIN_H))
    halo = 4
    yh = max(0, y0 - halo)
    band = K.rotate(gray, angle, out_rows=(yh, h))
    if K.is_white_background(gray):
        band = K.erode(band, CLEAN_WIDTH, CLEAN_HEIGHT)
        band = K.dilate(band, CLEAN_WIDTH, CLEAN_HEIGHT)
    else:
        band = K.dilate(band, CLEAN_WIDTH, CLEAN_HEIGHT)
        band = K.erode(band, CLEAN_WIDTH, CLEAN_HEIGHT)
    return band[y0 - yh:]


def find_micr_line(band_gray: np.ndarray, templates: TemplateSet
                   ) -> Line | None:
    """Back half: binarize, build the line; a line that overlaps a
    stroke gets the overlap correction and a second pass
    (src/check.ts:266-295)."""
    img = K.adaptive_threshold_gaussian_inv(K.gaussian_blur(band_gray, 3))
    zero_t, zero_n = templates.zero()
    li = find_micr_line_info(img, zero_t, zero_n, templates=templates)
    if li is None:
        return None
    line, _ = li
    if line.overlap:
        corrected = perform_overlap_correction(line)
        li2 = find_micr_line_info(corrected, zero_t, zero_n,
                                  templates=templates)
        if li2 is None:
            return None
        line = li2[0]
    return line


def perform_overlap_correction(line: Line) -> np.ndarray:
    """Overlap correction (src/line.ts:582-607): crop the line ROI with
    padding, then for top-touching contours (1) follow-and-clear the
    intruding stroke with the curve walker (src/curve.ts via
    operators/curves.py — handles curved signature strokes), then
    (2) clearPadding, (3) clear thin-vertical runs and h/v-thin — the
    reference's exact stage order."""
    from ..functions.geometry import enlarge_rect
    from ..operators.curves import curves_clear
    h, w = line.image.shape
    rect = enlarge_rect(line.get_bounding_rect(), (w, h),
                        pad=OVERLAP_PADDING)
    x, y, rw, rh = rect
    img = line.image[y:y + rh, x:x + rw].copy()
    regions = K.find_regions(img)
    for r in regions:
        if r.rect[1] == 0:
            curves_clear(img, lambda px, py: py < OVERLAP_PADDING, r.rect)
    K.clear_padding(img, OVERLAP_PADDING)
    for r in regions:
        if r.rect[1] == 0:
            K.clear_by_vertical_thickness(
                img, line.vertical_thickness_threshold, r.rect)
            K.hv_thin(img, line.min_horizontal_count,
                      line.min_vertical_count, r.rect)
    return img


def scan_check(image_bytes: bytes | None, fmt: str,
               templates: TemplateSet | None = None) -> ScanResult:
    """Full Check.scan for one image (src/check.ts:88-114) with the
    template-matching translator only: the reference's optional
    tesseract translator and its full-page check-number fallback
    (src/check.ts:129-177) are not built, so a line without a check
    number keeps an empty ``check_number``.

    Never raises for a bad image: a decode failure (a missing payload
    included), a missing line or any exception from the later steps
    (e.g. a 1-row image) is an ``ok=False`` result, so one image never
    fails its task.  The error text starts with its reason class:
    ``decode:``, ``no_line:`` or ``internal:``."""
    if templates is None:
        templates = get_default_templates()
    try:
        gray = K.grayscale(codecs.decode_image(image_bytes, fmt))
    except (ValueError, NotImplementedError) as e:
        return ScanResult(ok=False, error=f"decode: {e}")
    try:
        band = get_micr_band(gray)
        line = find_micr_line(band, templates)
        if line is None:
            return ScanResult(ok=False, error="no_line: micr line not found")
        tr = translate_line(line, templates)
        info = parse_micr(tr.value)
    except Exception as e:  # noqa: BLE001 — the per-image boundary
        return ScanResult(ok=False,
                          error=f"internal: {type(e).__name__}: {e}")
    return ScanResult(ok=True, check_info=info, micr_value=tr.value,
                      score=tr.score, overlap=line.overlap,
                      nchars=len(line.get_chars()),
                      char_choices=tr.char_choices)


_TEMPLATES: TemplateSet | None = None


def get_default_templates() -> TemplateSet:
    """The template pack, built once per process on first use — the
    reference's init-once translator (src/ocr.ts:44-56).  The pack is
    a constant, so each Python worker builds its own and no job ships
    it."""
    global _TEMPLATES
    if _TEMPLATES is None:
        _TEMPLATES = TemplateSet.build()
    return _TEMPLATES
