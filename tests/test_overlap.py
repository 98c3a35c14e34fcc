"""Overlap handling: signature strokes intersecting the MICR line.

Two recovery mechanisms, mirroring the reference:
- projection recovery (pncc, src/line.ts:183-216): a merged
  stroke+glyph contour fails y-containment, gets clipped back to the
  expected char rect via gap projections → line.overlap=True
- overlap correction (src/line.ts:582-607, on by default in the
  reference and always on here): clear padding + thin-vertical runs +
  h/v thinning on the line ROI, then a second segmentation pass
"""

import numpy as np
import pytest

from fin_ocr_sdk_spark.operators import kernels as K
from fin_ocr_sdk_spark.operators.classify import translate_line
from fin_ocr_sdk_spark.operators.segment import find_micr_line_info
from fin_ocr_sdk_spark.plans.scan import (get_default_templates,
                                          get_micr_band, scan_check)
from fin_ocr_sdk_spark.sources import codecs
from fin_ocr_sdk_spark.sources.fixtures import CheckSpec, compose_check

MICR = "U2154U T031100649T 4400000084U"


def _check_with_stroke() -> np.ndarray:
    rng = np.random.default_rng(11)
    spec = CheckSpec(micr_text=MICR, skew=0.0, fmt="png",
                     dark_header=False, noise=False)
    img = compose_check(spec, rng)
    # stroke descending from above the band (y=200) down into the glyphs
    for t in range(150):
        x = 500 + int(t * 0.7)
        y = 200 + t
        img[y:y + 2, x:x + 2] = 20
    return img


@pytest.fixture(scope="module")
def templates():
    return get_default_templates()


def test_projection_recovery_without_correction(templates):
    """The first segmentation pass alone, before any correction:
    pncc recovers the clipped contours and the full line reads."""
    band = get_micr_band(K.grayscale(_check_with_stroke()))
    binary = K.adaptive_threshold_gaussian_inv(K.gaussian_blur(band, 3))
    zero_t, zero_n = templates.zero()
    line, _ = find_micr_line_info(binary, zero_t, zero_n,
                                  templates=templates)
    assert line.overlap  # pncc recovered clipped contours
    assert translate_line(line, templates).value == MICR.replace(" ", "")


def test_overlap_correction_second_pass(templates):
    res = scan_check(codecs.encode_image(_check_with_stroke(), "png"),
                     "png", templates)
    assert res.ok
    # the reported flag is the SECOND pass's (clean) overlap state,
    # matching the reference's post-correction response
    assert not res.overlap
    assert res.micr_value == MICR.replace(" ", "")


def test_crossing_stroke_survives_type_adjustment(templates):
    """A stroke crossing through the glyphs (not from above) keeps all
    contours y-contained, so no overlap is flagged — the type-3/4 rect
    adjustment passes absorb it."""
    rng = np.random.default_rng(11)
    spec = CheckSpec(micr_text=MICR, skew=0.0, fmt="png",
                     dark_header=False, noise=False)
    img = compose_check(spec, rng)
    for t in range(240):
        x = 480 + t
        y = 290 + int(t * 0.25)
        img[y:y + 3, x:x + 2] = 20
    res = scan_check(codecs.encode_image(img, "png"), "png", templates)
    assert res.ok
    assert res.micr_value == MICR.replace(" ", "")
