"""End-to-end scan tests (pure Python, no Spark): every fixture variant
must reproduce its golden MICR string and fields exactly — the
(kind, text, media_ref, order) invariant at the single-document level."""

import numpy as np
import pytest

from fin_ocr_sdk_spark.functions.micr import parse_micr
from fin_ocr_sdk_spark.operators import kernels as K
from fin_ocr_sdk_spark.plans.scan import (get_default_templates,
                                          get_micr_band, scan_check,
                                          skew_angle)
from fin_ocr_sdk_spark.sources import codecs
from fin_ocr_sdk_spark.sources.fixtures import (CheckSpec, compose_check,
                                                make_spec)


@pytest.fixture(scope="module")
def templates():
    return get_default_templates()


GOLDEN_SAMPLE = "U0024154U T031100649T 4400000084U"


def test_reference_golden_micr_line(templates):
    """The reference's own E2E golden (test/check.test.ts:22):
    micr line U0024154UT031100649T4400000084U."""
    rng = np.random.default_rng(1)
    spec = CheckSpec(micr_text=GOLDEN_SAMPLE, skew=0.0, fmt="png",
                     dark_header=False, noise=False)
    img = compose_check(spec, rng)
    res = scan_check(codecs.encode_image(img, "png"), "png", templates)
    assert res.ok
    assert res.micr_value == "U0024154UT031100649T4400000084U"
    assert res.check_info.routing_number == "031100649"
    assert res.check_info.account_number == "4400000084"
    assert res.check_info.check_number == "24154"


@pytest.mark.parametrize("i", range(16))
def test_variant_grid(i, templates):
    """Variant axes: skew x format (incl. lossy jpeg at i=5, gif at
    i=11) x dark-header x noise."""
    rng = np.random.default_rng(42 * 1_000_003 + i)
    spec = make_spec(i, rng)
    img = compose_check(spec, rng)
    res = scan_check(codecs.encode_image(img, spec.fmt), spec.fmt, templates)
    assert res.ok, res.error
    assert res.micr_value == spec.micr_clean
    info = parse_micr(spec.micr_clean)
    assert res.check_info == info


def test_skew_recovery():
    """Deskew recovers the applied rotation to within 0.5 degrees."""
    rng = np.random.default_rng(5)
    for applied in (1.5, -1.5, 3.0, -3.0):
        spec = CheckSpec(micr_text=GOLDEN_SAMPLE, skew=applied, fmt="png",
                         dark_header=False, noise=False)
        img = compose_check(spec, rng)
        measured = skew_angle(K.grayscale(img))
        # rotate(a) then rotate(b) composes to rotate(a+b), so the
        # correcting angle is the negative of the applied skew
        assert measured == pytest.approx(-applied, abs=0.5)


# fixture-corpus doc indices that historically broke the estimator:
# short lucky-rectangular header bars out-ranking the MICR bar (→ 0°),
# half-res fit ratios picking the wrong bar, crop re-threshold without
# dilation+component-select, and the full-res height floor rejecting
# thin local-Otsu bars — each index failed for one of those reasons
_SKEW_REGRESSION_DOCS = (173, 369, 389, 496, 551, 1281, 1398, 1693,
                         1731, 1924, 2074, 2311, 2434, 3698, 19459)


@pytest.mark.parametrize("i", _SKEW_REGRESSION_DOCS)
def test_skew_regression_corpus_docs(i, templates):
    """End-to-end scans of the exact fixture-corpus variants that used
    to misestimate skew and split/misread on-us symbols (span-equality
    failures on the 2,560-doc bench corpus before round 3)."""
    rng = np.random.default_rng(42 * 1_000_003 + i)
    spec = make_spec(i, rng, lossy=False)
    img = compose_check(spec, rng)
    res = scan_check(codecs.encode_image(img, spec.fmt), spec.fmt,
                     templates)
    assert res.ok, res.error
    assert res.micr_value == spec.micr_clean


def test_band_crop_contains_micr(templates):
    rng = np.random.default_rng(9)
    # NOTE: the seed search anchors on a '0' glyph (src/check.ts:311),
    # so MICR lines must contain one — true of real routing numbers and
    # guaranteed by the fixture generator
    spec = CheckSpec(micr_text="T103T 4506U", skew=0.0, fmt="png",
                     dark_header=False, noise=False)
    img = compose_check(spec, rng)
    band = get_micr_band(K.grayscale(img))
    assert band.shape[0] == pytest.approx(img.shape[0] * 0.4, abs=2)
    res = scan_check(codecs.encode_image(img, "png"), "png", templates)
    assert res.check_info.routing_number == "103"
    assert res.check_info.account_number == "4506"


def test_seed_fallback_when_zero_template_degraded(templates):
    """Robustness extension of getDefaultRoots (src/line.ts:327-352):
    with a zero template that matches nothing (all-zero tensor — the
    'degraded/absent zero' case where the reference gives up,
    src/check.ts:322-325), the seed search re-runs across ALL templates
    and the line is still found and read exactly."""
    from fin_ocr_sdk_spark.operators import kernels as K
    from fin_ocr_sdk_spark.operators.segment import find_micr_line_info
    from fin_ocr_sdk_spark.plans.scan import get_micr_band

    rng = np.random.default_rng(2)
    spec = CheckSpec(micr_text=GOLDEN_SAMPLE, skew=0.0, fmt="png",
                     dark_header=False, noise=False)
    gray = K.grayscale(compose_check(spec, rng))
    band = get_micr_band(gray)
    img = K.adaptive_threshold_gaussian_inv(K.gaussian_blur(band, 3))
    dead_zero = np.zeros((36, 36))
    assert find_micr_line_info(img, dead_zero, 0.0) is None
    li = find_micr_line_info(img, dead_zero, 0.0, templates=templates)
    assert li is not None
    from fin_ocr_sdk_spark.operators.classify import translate_line
    assert (translate_line(li[0], templates).value
            == GOLDEN_SAMPLE.replace(" ", ""))


def test_decode_failure_is_reported(templates):
    res = scan_check(b"not an image", "png", templates)
    assert not res.ok
    assert "decode" in res.error


def test_truncated_jpeg_is_reported(templates):
    res = scan_check(b"\xff\xd8\xff\xe0fake", "jpeg", templates)
    assert not res.ok
    assert "decode" in res.error
