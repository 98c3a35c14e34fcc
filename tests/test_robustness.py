"""Robustness checks beyond the main fixture grid: noise on the MICR
band itself (the 2x2 clean stage's job, src/check.ts:209-219) and the
byte-weighted partition statistic."""

import os

import numpy as np
import pytest

from fin_ocr_sdk_spark.plans.scan import get_default_templates, scan_check
from fin_ocr_sdk_spark.sources import codecs
from fin_ocr_sdk_spark.sources.fixtures import CheckSpec, compose_check

MICR = "U2154U T031100649T 4400000084U"


@pytest.mark.parametrize("density", [0.001, 0.003])
def test_salt_pepper_on_band(density):
    """Specks inside the bottom band are removed by the erode/dilate
    clean (and the size-relative refilter drops survivors)."""
    rng = np.random.default_rng(12)
    spec = CheckSpec(micr_text=MICR, skew=0.0, fmt="png",
                     dark_header=False, noise=False)
    img = compose_check(spec, rng)
    h, w = img.shape
    n = int(h * w * density)
    ys = rng.integers(int(h * 0.6), h, n)
    xs = rng.integers(0, w, n)
    img[ys, xs] = np.where(rng.random(n) < 0.5, 0, 255).astype(np.uint8)
    res = scan_check(codecs.encode_image(img, "png"), "png",
                     get_default_templates())
    assert res.ok
    assert res.micr_value == MICR.replace(" ", "")


def test_byte_weighted_partitions_metadata_path(monkeypatch):
    """The byte count is the driver's stat of the listed part files —
    no manifest job, no read of the image column — floored at default
    parallelism; a plan that lists no files gets the floor."""
    from fin_ocr_sdk_spark.plans import pipeline as P
    from fin_ocr_sdk_spark.session import get_spark
    from fin_ocr_sdk_spark.sources.tables import fixture_dir
    d = fixture_dir("smoke", 16)
    spark = get_spark("pytest-bwp", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    def no_job(*_a, **_k):
        raise AssertionError("sized through a Spark job")

    try:
        media = spark.read.parquet(os.path.join(d, "media.parquet"))
        monkeypatch.setattr(P, "media_manifest", no_job)
        # tiny target → count driven by the stored bytes
        monkeypatch.setattr(P, "_PARTITION_BYTES", 1 << 20)
        n_small_target = P.byte_weighted_partitions(media)
        assert n_small_target >= 4  # ~5 MB of stored image bytes / 1 MB
        # huge target → floored at defaultParallelism (4)
        monkeypatch.setattr(P, "_PARTITION_BYTES", 1 << 40)
        n_floor = P.byte_weighted_partitions(media)
        assert n_floor == spark.sparkContext.defaultParallelism
        # no file list (in-memory rows, a stream micro-batch): the floor,
        # without a select over the image column
        monkeypatch.setattr(P, "_PARTITION_BYTES", 1)
        inmem = spark.createDataFrame([("x", "png", b"y" * 64)],
                                      "media_ref string, format string, "
                                      "image binary")
        monkeypatch.setattr(type(inmem), "select", no_job)
        assert (P.byte_weighted_partitions(inmem)
                == spark.sparkContext.defaultParallelism)
    finally:
        spark.stop()


TINY_SHAPES = [(1, 1), (1, 64), (64, 1), (2, 2), (3, 300)]


@pytest.mark.parametrize("shape", TINY_SHAPES)
@pytest.mark.parametrize("fmt", ["png", "bmp", "tiff"])
def test_tiny_images_are_scan_errors_not_exceptions(shape, fmt):
    """Degenerate rasters (1-row images used to raise inside the band
    step) come back as ok=False results."""
    data = codecs.encode_image(np.full(shape, 200, np.uint8), fmt)
    res = scan_check(data, fmt, get_default_templates())
    assert not res.ok
    assert (res.error == "no_line: micr line not found"
            or res.error.startswith("internal: ")), res.error


def test_scan_step_exception_becomes_internal_error(monkeypatch):
    from fin_ocr_sdk_spark.plans import scan

    def boom(*_a, **_k):
        raise RuntimeError("boom")

    monkeypatch.setattr(scan, "find_micr_line", boom)
    img = np.full((40, 60), 200, np.uint8)
    res = scan_check(codecs.encode_image(img, "png"), "png",
                     get_default_templates())
    assert not res.ok
    assert res.error == "internal: RuntimeError: boom"
    # decode failures keep their own text
    assert scan_check(b"\x89PNGjunk", "png").error.startswith("decode: ")


def test_missing_payload_is_decode_error():
    """A NULL image cell reaches the scan as None: a decode error, not
    a TypeError outside the decode boundary."""
    res = scan_check(None, "png", get_default_templates())
    assert not res.ok
    assert res.error == "decode: missing image payload"
