"""Fixture-table materialization (parquet via pyarrow, no Spark needed).

Writes the interleaved input tables (shape per BASELINE.json input_hint)
plus the golden/intermediate tables used by SQL twins:

  documents(doc_id, spans array<struct<kind,text,media_ref,offset>>)
  media(media_ref, format, width, height, image binary)
    — width/height are compose-time goldens for the decode-metadata
      oracle; the pipeline never reads them
  expected_spans(doc_id, kind, text, media_ref, order)
  micr_cases(case_id, micr_line, routing_number, account_number, check_number)
  contours(doc_id, contour_idx, x, y, w, h, area, area2, size_class)
  char_scores(doc_id, char_idx, template_value, score)

Everything is deterministic (seed 42); materialization is cached by a
manifest and parallelized across cores (image composition dominates).
Iceberg is the production target for these tables; the runtime catalog
here has no Iceberg jars, so parquet stands in — the pipeline reads
through ``spark.read.parquet`` either way.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), "fixtures")

SPAN_TYPE = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])


def _gen_chunk(args: tuple[int, int, int, bool]) -> tuple[list, list, list]:
    start, count, seed, lossy = args
    from .fixtures import generate_fixture_rows_range
    return generate_fixture_rows_range(start, count, seed, lossy)


def materialize_fixtures(out_dir: str, n_docs: int, seed: int = 42,
                         workers: int | None = None,
                         lossy: bool = True) -> str:
    """Write all fixture tables under ``out_dir``; cached by manifest.

    ``lossy=False`` keeps the corpus on the lossless png/tiff/bmp cycle
    (used by throughput benches — see fixtures.py docstring)."""
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    want = {"n_docs": n_docs, "seed": seed, "version": 13, "lossy": lossy}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            if json.load(f) == want:
                return out_dir
    workers = workers or min(os.cpu_count() or 8, 32)
    # media chunking doubles as the parquet file layout: uncompressed
    # TIFF/BMP payloads compress ~10:1 in parquet, so a single file /
    # row group would force every Spark read of the image column
    # through ONE task; many small part files give parallel scans
    # (exactly how a 100 TB media table is laid out in practice).
    # The layout depends on n_docs alone, never on the host: 32 parts
    # up to 1,024 docs, 32-doc parts beyond; ``workers`` only sets how
    # fast the chunks are generated
    chunk = min(32, max(1, -(-n_docs // 32)))
    tasks = [(i, min(chunk, n_docs - i), seed, lossy)
             for i in range(0, n_docs, chunk)]
    docs: list = []
    expected: list = []
    media_dir = os.path.join(out_dir, "media.parquet")
    if os.path.isdir(media_dir):
        for f in os.listdir(media_dir):
            os.unlink(os.path.join(media_dir, f))
    os.makedirs(media_dir, exist_ok=True)

    def write_media_part(idx: int, media_rows: list) -> None:
        pq.write_table(pa.table({
            "media_ref": [r["media_ref"] for r in media_rows],
            "format": [r["format"] for r in media_rows],
            "width": pa.array([r["width"] for r in media_rows],
                              type=pa.int32()),
            "height": pa.array([r["height"] for r in media_rows],
                               type=pa.int32()),
            "image": pa.array([r["image"] for r in media_rows],
                              type=pa.binary()),
        }), os.path.join(media_dir, f"part-{idx:05d}.parquet"),
            row_group_size=len(media_rows))

    if len(tasks) > 1:
        with ProcessPoolExecutor(max_workers=workers) as ex:
            for pi, (d, m, e) in enumerate(ex.map(_gen_chunk, tasks)):
                docs.extend(d)
                expected.extend(e)
                write_media_part(pi, m)
    else:
        d, m, e = _gen_chunk(tasks[0])
        docs, expected = d, e
        write_media_part(0, m)

    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in docs],
        "spans": pa.array([r["spans"] for r in docs],
                          type=pa.list_(SPAN_TYPE)),
    }), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": [r["doc_id"] for r in expected],
        "kind": [r["kind"] for r in expected],
        "text": [r["text"] for r in expected],
        "media_ref": [r["media_ref"] for r in expected],
        "order": pa.array([r["order"] for r in expected], type=pa.int32()),
    }), os.path.join(out_dir, "expected_spans.parquet"))
    _write_micr_cases(out_dir)
    _write_intermediates(out_dir, n_docs, seed)
    with open(manifest_path, "w") as f:
        json.dump(want, f)
    return out_dir


def _write_micr_cases(out_dir: str) -> None:
    """Golden MICR-parse cases (reference test/checkUtil.test.ts:6-34 +
    alphabet/X9 variants), with expected fields from our parser — the
    parser itself is gated by exact-equality pytest goldens."""
    from ..functions.micr import parse_micr, x9_to_micr
    lines = [
        "T123T456U789", "U12U T34T 56", "U12U T34T U56U A78A",
        "TT12T34U56", "T012T034U056", "",
        "A123A456C789",  # ABCD alphabet
        "T123TD99D456", "T12 34T55 66", "U0024154UT031100649T4400000084U",
        x9_to_micr("03110064", "9", "4400000084/", "0024154"),
        x9_to_micr("12345678", "0", "999", ""),
    ]
    # seeded synthetic lines widen coverage
    rng = np.random.default_rng(42)
    for _ in range(18):
        r = "".join(rng.choice(list("0123456789"), 9))
        a = "".join(rng.choice(list("0123456789"), 8))
        c = "".join(rng.choice(list("0123456789"), 4))
        style = int(rng.integers(0, 3))
        if style == 0:
            lines.append(f"U{c}U T{r}T {a}U")
        elif style == 1:
            lines.append(f"T{r}T {a}U {c}")
        else:
            lines.append(f"T{r}T {a}U {c} A55A")
    rows = []
    for i, line in enumerate(lines):
        info = parse_micr(line)
        rows.append({
            "case_id": f"case-{i:03d}", "micr_line": line,
            "routing_number": info.routing_number,
            "account_number": info.account_number,
            "check_number": info.check_number,
        })
    pq.write_table(pa.table({
        k: [r[k] for r in rows]
        for k in ("case_id", "micr_line", "routing_number",
                  "account_number", "check_number")
    }), os.path.join(out_dir, "micr_cases.parquet"))


def _intermediate_chunk(args: tuple[int, int, int]) -> tuple[list, list]:
    start, count, seed = args
    from ..operators import kernels as K
    from ..operators.classify import (ncc_scores_batch, stack_char_crops)
    from ..operators.segment import find_micr_line_info
    from ..plans.scan import get_default_templates, get_micr_band
    from .fixtures import compose_check, make_spec
    templates = get_default_templates()
    zt, zn = templates.zero()
    contours: list = []
    scores: list = []
    for i in range(start, start + count):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        spec = make_spec(i, rng)
        gray = K.grayscale(compose_check(spec, rng))
        doc_id = f"doc-{i:08d}"
        band = get_micr_band(gray)
        binary = K.adaptive_threshold_gaussian_inv(K.gaussian_blur(band, 3))
        li = find_micr_line_info(binary, zt, zn)
        if li is None:
            continue
        line, _ = li
        for c in line.contours:
            contours.append({
                "doc_id": doc_id, "contour_idx": c.idx,
                "x": c.rect[0], "y": c.rect[1],
                "w": c.rect[2], "h": c.rect[3],
                "area": c.area, "area2": float(c.area2),
                "size_class": c.size or "U",
            })
        chars = line.get_chars()
        mat = ncc_scores_batch(stack_char_crops(line, chars), templates)
        for ci in range(len(chars)):
            for ti, tv in enumerate(templates.values):
                scores.append({
                    "doc_id": doc_id, "char_idx": ci,
                    "template_value": tv, "score": int(mat[ci, ti]),
                })
    return contours, scores


def _write_intermediates(out_dir: str, n_docs: int, seed: int) -> None:
    """Exploded segmentation/classification intermediates for the
    DuckDB-oracle SQL twins (FIXTURES.md §5/§6)."""
    n = min(n_docs, 64)  # a subset is plenty for the relational twins
    workers = min(os.cpu_count() or 8, 32)
    chunk = max(1, (n + workers - 1) // workers)
    tasks = [(i, min(chunk, n - i), seed) for i in range(0, n, chunk)]
    contours: list = []
    scores: list = []
    with ProcessPoolExecutor(max_workers=workers) as ex:
        for c, s in ex.map(_intermediate_chunk, tasks):
            contours.extend(c)
            scores.extend(s)
    pq.write_table(pa.table({
        k: [r[k] for r in contours]
        for k in ("doc_id", "contour_idx", "x", "y", "w", "h",
                  "area", "area2", "size_class")
    }), os.path.join(out_dir, "contours.parquet"))
    pq.write_table(pa.table({
        k: [r[k] for r in scores]
        for k in ("doc_id", "char_idx", "template_value", "score")
    }), os.path.join(out_dir, "char_scores.parquet"))


def fixture_dir(name: str, n_docs: int, seed: int = 42,
                lossy: bool = True) -> str:
    """Materialize-and-cache a named fixture scale under FIXTURE_ROOT."""
    return materialize_fixtures(
        os.path.join(FIXTURE_ROOT, name), n_docs, seed, lossy=lossy)
