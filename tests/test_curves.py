"""Curve follow & clear (operators/curves.py, src/curve.ts port) and the
clear_by_boundary polygon kernel."""

import numpy as np
import pytest

from fin_ocr_sdk_spark.operators import kernels as K
from fin_ocr_sdk_spark.operators.curves import curves_clear
from fin_ocr_sdk_spark.plans.scan import get_default_templates, scan_check
from fin_ocr_sdk_spark.sources import codecs
from fin_ocr_sdk_spark.sources.fixtures import CheckSpec, compose_check


@pytest.fixture(scope="module")
def templates():
    return get_default_templates()


def test_clear_by_boundary_triangle():
    img = np.full((20, 20), 255, np.uint8)
    K.clear_by_boundary(img, [(3, 3), (15, 3), (9, 14)])
    assert img[4, 9] == 0         # interior
    assert img[3, 3] == 0         # vertex
    assert img[3, 10] == 0        # top edge
    assert img[16, 9] == 255      # below apex
    assert img[10, 3] == 255      # outside left
    # degenerate: a bare segment clears only its own pixels
    img2 = np.full((8, 8), 255, np.uint8)
    K.clear_by_boundary(img2, [(1, 1), (6, 1)])
    assert (img2[1, 1:7] == 0).all() and img2[2, 3] == 255


def test_curves_clear_straight_stroke():
    """A vertical bar entering from the top is followed and erased; a
    detached blob below stays."""
    img = np.zeros((40, 30), np.uint8)
    img[0:25, 10:13] = 255        # stroke touching top border
    img[30:36, 20:26] = 255       # unrelated blob
    curves_clear(img, lambda x, y: y < 4)
    assert img[:25, 10:13].sum() == 0
    assert (img[30:36, 20:26] == 255).all()


def test_curves_clear_curved_stroke():
    """A curved (quarter-arc) stroke from the top is fully erased."""
    img = np.zeros((60, 80), np.uint8)
    for t in np.linspace(0, np.pi / 2, 200):
        x = int(10 + 50 * np.sin(t))
        y = int(50 * (1 - np.cos(t)))
        img[max(y, 0):y + 3, x:x + 3] = 255
    assert img[0].any()
    before = int((img > 0).sum())
    curves_clear(img, lambda x, y: y < 4)
    after = int((img > 0).sum())
    # conservative by design (reference: "rather fail to cross ... than
    # incorrectly cross"): the upper stroke must be gone; a tail past a
    # failed crossing may survive for the thinning passes to handle
    assert after < before * 0.5
    assert img[:15].sum() == 0


def _check_with_curved_signature() -> np.ndarray:
    rng = np.random.default_rng(11)
    spec = CheckSpec(micr_text="U2154U T031100649T 4400000084U",
                     skew=0.0, fmt="png", dark_header=False, noise=False)
    img = compose_check(spec, rng)
    # a signature-like arc descending from above the band into the
    # glyph row, curving as it goes
    for t in np.linspace(0, 1, 500):
        x = int(480 + 120 * t)
        y = int(200 + 150 * t + 25 * np.sin(2.5 * t))
        img[y:y + 2, x:x + 2] = 20
    return img


def test_curved_signature_overlap_extracts(templates):
    res = scan_check(
        codecs.encode_image(_check_with_curved_signature(), "png"),
        "png", templates)
    assert res.ok, res.error
    assert res.micr_value == "U2154UT031100649T4400000084U"
