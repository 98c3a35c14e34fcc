"""Golden digests of the scan kernels' exact outputs.

The digests were recorded from the row-loop kernels (union-find
labeling, materialized Otsu → dilate skew chain, per-column-run
y-shear) before they were replaced by the run-table / whole-band
versions; they pin the replacements to bit-identical results.  A
digest change means a kernel's output changed — not a reason to
re-record unless the change is a deliberate, documented deviation
(and then the fixture MANIFEST version is bumped too).
"""

import hashlib

import numpy as np
import pyarrow.parquet as pq
import pytest

from fin_ocr_sdk_spark.operators import kernels as K
from fin_ocr_sdk_spark.plans import scan
from fin_ocr_sdk_spark.sources import codecs
from fin_ocr_sdk_spark.sources.tables import fixture_dir

ROTATE_ANGLES = (0.0, 0.01, -0.01, 3.0, -3.0, 15.0, -15.0)
# above 15 degrees rotate() takes the dense bicubic inverse map
DENSE_ROTATE_ANGLES = (20.0, -20.0, 45.0, -60.0)

GOLDEN_ROTATE = (
    "8398d9a68022ae2f4ee8e36ee0c0fa0f0ced839937d10f8a8f7063af82effb2b")
GOLDEN_ROTATE_DENSE = (
    "848a0ca7b20186ae86cf453be627b9b8299ad88f0f6ed7b0080755f78b147b8c")
GOLDEN_SCAN = {
    "smoke": "059491695d8db28c648dc55b921677806249eb54d3002475a89e00deef8a7429",
    # re-recorded at fixture version 13: the JPEG encoders' forward DCT
    # no longer depends on the BLAS kernel (the old digest was the
    # Haswell kernel's bytes)
    "sftest": "4b48b43d32b16f3012310f99d510ae589939501d8c3346555fa166cedf27d08b",
}
# sha256 of the template pack: tensor bytes, repr(values), norms bytes
GOLDEN_TEMPLATES = (
    "d271da07108526456eab9a9a8e2b72f326717cdca66026561e1781975abb9576")


def _rotate_digest(angles: tuple) -> str:
    """sha256 over rotate() outputs on seeded noise-plus-bars images,
    full frame and bands touching the top and the bottom edge."""
    rng = np.random.default_rng(20261018)
    hsh = hashlib.sha256()
    for h, w in ((61, 97), (240, 410), (377, 133)):
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        img[h // 3:h // 3 + 9, w // 8:w - w // 8] //= 4   # a dark bar
        for ang in angles:
            for rows in (None, (0, h // 3), (h - h // 4, h),
                         (h // 5, h - h // 5)):
                out = K.rotate(img, ang, out_rows=rows)
                hsh.update(f"{h}x{w}@{ang}:{rows}:{out.shape}".encode())
                hsh.update(out.tobytes())
    return hsh.hexdigest()


def _region_tuples(binary: np.ndarray) -> list:
    return [(r.idx, r.rect, r.area, r.area2)
            for r in K.find_regions(binary)]


def _scan_digest(name: str, n_docs: int) -> str:
    """sha256 over, per fixture image: the skew angle, the regions of
    the old skew chain (blur 7 → Otsu-inv → dilate 25x1) on the full
    image, and the regions of the binarized MICR band."""
    media = pq.read_table(fixture_dir(name, n_docs)
                          + "/media.parquet").to_pylist()
    hsh = hashlib.sha256()
    for row in sorted(media, key=lambda r: r["media_ref"]):
        gray = K.grayscale(codecs.decode_image(row["image"], row["format"]))
        parts = [row["media_ref"], repr(scan.skew_angle(gray))]
        skew_bin = K.dilate(K.otsu_binary_inv(K.gaussian_blur(gray, 7)),
                            25, 1)
        parts.append(repr(_region_tuples(skew_bin)))
        band = scan.get_micr_band(gray)
        band_bin = K.adaptive_threshold_gaussian_inv(
            K.gaussian_blur(band, 3))
        hsh.update(band_bin.tobytes())
        parts.append(repr(_region_tuples(band_bin)))
        hsh.update("|".join(parts).encode())
    return hsh.hexdigest()


def test_rotate_golden():
    assert _rotate_digest(ROTATE_ANGLES) == GOLDEN_ROTATE


def test_rotate_dense_golden(monkeypatch):
    """rotate() above 15 degrees: every call takes the dense bicubic
    inverse map, whose output is pinned too."""
    calls = []
    real = K._bicubic_sample
    monkeypatch.setattr(K, "_bicubic_sample",
                        lambda *a: calls.append(1) or real(*a))
    assert _rotate_digest(DENSE_ROTATE_ANGLES) == GOLDEN_ROTATE_DENSE
    assert len(calls) == 3 * len(DENSE_ROTATE_ANGLES) * 4


@pytest.mark.parametrize("name,n_docs", [("smoke", 16), ("sftest", 128)])
def test_skew_and_regions_golden(name, n_docs):
    assert _scan_digest(name, n_docs) == GOLDEN_SCAN[name]


def test_template_pack_golden():
    """Every Python worker builds its own template pack: the pack is
    pinned on the driver and inside a Spark task on local[4], where the
    worker pins BLAS to one thread."""
    from fin_ocr_sdk_spark.session import get_spark, pin_worker_threads

    def digest():
        pack = scan.get_default_templates()
        hsh = hashlib.sha256(pack.tensor.tobytes())
        hsh.update(repr(pack.values).encode())
        hsh.update(pack.norms.tobytes())
        return hsh.hexdigest()

    def in_task(_):
        pin_worker_threads()
        return digest()

    assert digest() == GOLDEN_TEMPLATES
    spark = get_spark("pytest-templates", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        got = spark.sparkContext.parallelize([0], 1).map(in_task).collect()
    finally:
        spark.stop()
    assert got == [GOLDEN_TEMPLATES]
