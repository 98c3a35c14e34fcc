"""The Structured-Streaming video-loop analog."""

import pytest


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
