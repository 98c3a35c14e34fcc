"""Single-process per-image split of the scan kernel, part of
``micr_direct``'s traced run.

Runs ``plans.scan.scan_check`` over a fixed subset of the workload's
images, each image once untraced (the kernel's own ms per image and its
tail) and once traced, with the public functions it calls rebound to
span-recording wrappers.  Codec cost per format comes from a separate
probe set with the same number of images of every format, drawn from
the lossy mix (1/16 JPEG, half of them progressive, and 1/16 GIF),
because the workload's corpus is lossless: the ``codecs.decode_ms.*``
figures describe the codecs, not work ``micr_direct`` does.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from . import corpus
from .trace import Tracer, self_times, tail_percentile

#: images in the per-image subset (first rows of the first part files);
#: 100 leaves ten samples beyond p90 for the tail
SUBSET = 100


def _images(parts: list[str], n: int) -> list[tuple[bytes, str]]:
    out: list[tuple[bytes, str]] = []
    for p in parts:
        t = pq.read_table(p, columns=["format", "image"]).to_pydict()
        out += list(zip(t["image"], t["format"]))
        if len(out) >= n:
            break
    return out[:n]


def _patch(tr: Tracer):
    """Rebind the public functions ``scan_check`` calls; returns a
    traced ``scan_check``."""
    from fin_ocr_sdk_spark.plans import scan
    from fin_ocr_sdk_spark.sources import codecs
    tr.patch(codecs, "decode_image", "decode",
             attrs_of=lambda args, kwargs: {"format": args[1]})
    for attr in ("skew_angle", "get_micr_band", "find_micr_line",
                 "perform_overlap_correction", "translate_line",
                 "parse_micr"):
        tr.patch(scan, attr)
    return tr.wrap("scan_check", scan.scan_check)


def per_image(run, parts: list[str]) -> None:
    """Record the per-image metrics on ``run``.  ``parts`` are the
    workload's media part files."""
    from fin_ocr_sdk_spark.plans.scan import get_default_templates, scan_check
    from fin_ocr_sdk_spark.sources import codecs
    probe = corpus.codec_probe(run.cache, run.seed)
    images = _images(parts, SUBSET)
    templates = get_default_templates()
    scan_check(images[0][0], images[0][1], templates)  # first-call costs

    # untraced and traced calls alternate image by image, so both see
    # the same images under the same host conditions
    tr = Tracer()
    plain, traced, errors = [], [], 0
    for i, (img, fmt) in enumerate(images):
        t0 = time.perf_counter()
        res = scan_check(img, fmt, templates)
        plain.append((time.perf_counter() - t0) * 1000.0)
        errors += not res.ok
        tr.trace_id = i
        check = _patch(tr)
        try:
            t0 = time.perf_counter()
            check(img, fmt, templates)
            traced.append((time.perf_counter() - t0) * 1000.0)
        finally:
            tr.restore()
    tr.dump(os.path.join(run.cache,
                         f"spans-{run.workload}-seed{run.seed}.jsonl"))
    selfs = self_times(tr.spans)
    n = len(images)

    def total_ms(name: str) -> float:
        return sum(s.dur for s in tr.spans if s.name == name) * 1000.0

    lines = sum(1 for s in tr.spans if s.name == "find_micr_line")
    overlaps = sum(1 for s in tr.spans
                   if s.name == "perform_overlap_correction")
    band_self = sum(selfs[s.sid] for s in tr.spans
                    if s.name == "get_micr_band") * 1000.0
    check_self = sum(selfs[s.sid] for s in tr.spans
                     if s.name == "scan_check") * 1000.0
    parses = sum(1 for s in tr.spans if s.name == "parse_micr")
    translates = sum(1 for s in tr.spans if s.name == "translate_line")
    put = run.put
    put("scan.decode_ms", total_ms("decode") / n, "ms")
    put("scan.skew_ms", total_ms("skew_angle") / n, "ms")
    put("scan.band_self_ms", band_self / n, "ms")
    put("scan.line_ms", total_ms("find_micr_line") / n, "ms")
    put("scan.overlap_frac", overlaps / max(1, lines), "ratio")
    put("scan.check_self_ms", check_self / n, "ms")
    put("classify.translate_ms",
        total_ms("translate_line") / max(1, translates), "ms")
    put("micr.parse_us", total_ms("parse_micr") * 1000.0 / max(1, parses),
        "us")
    pct, tail = tail_percentile(plain)
    put("scan.check_ms.p50", statistics.median(plain), "ms")
    put("scan.check_ms.tail", tail, "ms")
    put("scan.check_ms.tail_pct", pct, "pct")
    put("scan.check_samples", n, "count")
    put("scan.error_count", errors, "count")
    put("scan.check_ms.mean", statistics.fmean(plain), "ms")
    put("scan.check_ms.traced_mean", statistics.fmean(traced), "ms")

    by_fmt: dict[str, list[float]] = {}
    for img, fmt in probe:
        t0 = time.perf_counter()
        codecs.decode_image(img, fmt)
        by_fmt.setdefault(fmt, []).append(
            (time.perf_counter() - t0) * 1000.0)
    for fmt in corpus.PROBE_FORMATS:
        put(f"codecs.decode_ms.{fmt}", statistics.fmean(by_fmt[fmt]), "ms")
