"""Persisted template corrections and the Structured-Streaming
video-loop analog."""

import numpy as np
import pytest

from fin_ocr_sdk_spark.plans.classify_learn import learn_char
from fin_ocr_sdk_spark.plans.scan import get_default_templates


# -------------------------------------------------- corrections

def test_learn_char_pure():
    tmpl = get_default_templates()
    g = np.zeros((36, 36), dtype=np.uint8)
    g[10:26, 10:26] = 255
    t2 = learn_char(tmpl, g, "7")
    assert len(t2.values) == len(tmpl.values) + 1
    assert t2.tensor.shape[0] == tmpl.tensor.shape[0] + 1
    # original is untouched (frozen semantics)
    assert len(tmpl.values) == 14


def test_corrections_persist_across_template_restart(tmp_path,
                                                     monkeypatch):
    """Job 1 learns a glyph and persists it (.tif/.ct pair, the
    reference's corrections-dir layout); job 2 rebuilds the template
    pack from scratch (simulated executor restart) and classifies the
    learned glyph correctly from the persisted correction."""
    import numpy as np

    from fin_ocr_sdk_spark.operators.classify import ncc_scores_batch
    from fin_ocr_sdk_spark.plans import scan as scan_mod
    from fin_ocr_sdk_spark.plans.classify_learn import (load_corrections,
                                                        save_correction)

    corr_dir = str(tmp_path / "corrections")
    # a glyph shape unlike any built-in template (diagonal stripe)
    g = np.zeros((36, 36), dtype=np.uint8)
    for i in range(36):
        g[i, max(0, i - 2):min(36, i + 3)] = 255
    save_correction(corr_dir, g, "5", num_contours=1)
    # an orphan .tif without .ct must be skipped, not crash the load
    with open(tmp_path / "corrections" / "orphan.tif", "wb") as f:
        f.write(b"not a committed pair")
    assert [(v, n) for v, _, n in load_corrections(corr_dir)] == [("5", 1)]

    # ---- restart: wipe the module cache, point at the corrections dir
    monkeypatch.setenv("OCR_CORRECTIONS_DIR", corr_dir)
    monkeypatch.setattr(scan_mod, "_TEMPLATES", None)
    monkeypatch.setattr(scan_mod, "_TEMPLATES_KEY", None)
    tmpl = scan_mod.get_default_templates()
    assert len(tmpl.values) == 15 and tmpl.values[-1] == "5"
    scores = ncc_scores_batch(g[None].astype(np.float64), tmpl)
    assert tmpl.values[int(scores[0].argmax())] == "5"

    # without the env var the pack reverts to the 14 built-ins
    monkeypatch.delenv("OCR_CORRECTIONS_DIR")
    monkeypatch.setattr(scan_mod, "_TEMPLATES", None)
    monkeypatch.setattr(scan_mod, "_TEMPLATES_KEY", None)
    assert len(scan_mod.get_default_templates().values) == 14


# ---------------------------------------------------- streaming

@pytest.mark.parametrize("nothing", [None])
def test_streaming_drain(nothing, tmp_path):
    from fin_ocr_sdk_spark.session import get_spark
    from fin_ocr_sdk_spark.sources.tables import fixture_dir
    from fin_ocr_sdk_spark.streaming.video import demo
    import os
    smoke = fixture_dir("smoke", 16)
    spark = get_spark("pytest-stream", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        results, q = demo(spark, os.path.join(smoke, "media.parquet"))
        kinds = {r["kind"] for r in results}
        assert {"micr:line", "micr:routing", "micr:account",
                "micr:check"} <= kinds
        refs = {r["media_ref"] for r in results}
        assert len(refs) == 16
        assert not any(r["kind"] == "micr:error" for r in results)
    finally:
        spark.stop()


def test_streaming_scans_in_executors(tmp_path, monkeypatch):
    """Each micro-batch is scanned by executor tasks, not the driver:
    with the driver process's scan_check raising, the drain still
    returns all 64 smoke micr spans."""
    import os

    from fin_ocr_sdk_spark.plans import scan
    from fin_ocr_sdk_spark.session import get_spark
    from fin_ocr_sdk_spark.sources.tables import fixture_dir
    from fin_ocr_sdk_spark.streaming.video import demo

    def boom(*args, **kwargs):
        raise RuntimeError("scan_check ran on the driver")

    monkeypatch.setattr(scan, "scan_check", boom)
    spark = get_spark("pytest-stream", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        results, _ = demo(spark, os.path.join(fixture_dir("smoke", 16),
                                              "media.parquet"))
        assert len(results) == 64
        assert not any(r["kind"] == "micr:error" for r in results)
    finally:
        spark.stop()
