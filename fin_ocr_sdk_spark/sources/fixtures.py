"""Deterministic synthetic check-image corpus (FIXTURES.md, seed 42).

The reference's own fixture is a single sample check PNG plus one golden
MICR string ("U0024154UT031100649T4400000084U", test/check.test.ts:22).
Its bundled E-13B glyph sheet is absent from the snapshot, so the corpus
here is composed from our own deterministic glyph font
(operators/templates.py): every document's golden MICR line is known by
construction, making end-to-end span-equality exact.

Tables produced (shape fixed by BASELINE.json input_hint):
  documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
  media(media_ref string, format string, image binary)
  expected_spans(doc_id, kind, text, media_ref, order)  — golden output

Variant axes (seeded, stratified): skew angle {0, ±1.5°, ±4°}; dark
header band (exercises the non-white-background clean branch);
salt-and-pepper noise; encode format — png/tiff/bmp cycle with every
16th doc jpeg (i%16==5, lossy, q92) or gif (i%16==11).  Corpora built
with lossy=False (the throughput benches) stay on the lossless cycle
so round-over-round docs/sec numbers measure the engine, not the
pure-python JPEG entropy decoder (~0.3 s/image vs ~10 ms lossless —
a production deployment decodes JPEG natively).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..operators import kernels as K
from ..operators.templates import render_glyph
from . import codecs

CANVAS_H = 400
CANVAS_W = 1280
PAPER = 235
INK = 20

_WORDS = ("pay to the order of memo dollars and cents bank of the lakes "
          "first national trust date signature for deposit only void "
          "amount one hundred twenty three thousand").split()

# max |skew| bounded by the reference's skew-candidate height cap
# (h < 100, src/image.ts:661): a ~1000px MICR bar at 3° spans ~85px
SKEWS = (0.0, 1.5, -1.5, 3.0, -3.0)
FORMATS = ("png", "tiff", "bmp")


@dataclass(frozen=True)
class CheckSpec:
    micr_text: str        # ground truth WITH spaces (word gaps)
    skew: float
    fmt: str
    dark_header: bool
    noise: bool
    progressive: bool = False   # jpeg only: SOF2 multi-scan file

    @property
    def micr_clean(self) -> str:
        return self.micr_text.replace(" ", "")


def make_micr_text(rng: np.random.Generator) -> str:
    """Compose a realistic MICR line; guaranteed to contain a '0' so the
    seed search always has a zero glyph to anchor on."""
    routing = "0" + "".join(rng.choice(list("0123456789"), 8))
    account = "".join(rng.choice(list("0123456789"), int(rng.integers(6, 9))))
    check = "".join(rng.choice(list("123456789"), int(rng.integers(3, 6))))
    style = int(rng.integers(0, 3))
    if style == 0:
        # aux-on-us (check number) before routing, like the reference's
        # golden sample: U<check>U T<routing>T <account>U
        return f"U{check}U T{routing}T {account}U"
    if style == 1:
        # routing, account, then check number
        return f"T{routing}T {account}U {check}"
    # with amount field appended
    amount = "".join(rng.choice(list("0123456789"), 6))
    return f"U{check}U T{routing}T {account}U A{amount}A"


def render_micr_line(text: str, rng: np.random.Generator,
                     char_gap: int = 6, word_gap: int = 24) -> np.ndarray:
    """Rasterize a MICR string (ink=255 mask); spaces become word gaps."""
    glyphs: list[np.ndarray | None] = []
    for ch in text:
        glyphs.append(None if ch == " " else render_glyph(ch))
    height = max(g.shape[0] for g in glyphs if g is not None)
    width = 0
    for i, g in enumerate(glyphs):
        width += word_gap if g is None else g.shape[1]
        if g is not None and i + 1 < len(glyphs) and glyphs[i + 1] is not None:
            width += char_gap
    out = np.zeros((height, width), dtype=np.uint8)
    x = 0
    for i, g in enumerate(glyphs):
        if g is None:
            x += word_gap
            continue
        out[height - g.shape[0]:, x:x + g.shape[1]] = g
        x += g.shape[1]
        if i + 1 < len(glyphs) and glyphs[i + 1] is not None:
            x += char_gap
    return out


def compose_check(spec: CheckSpec, rng: np.random.Generator) -> np.ndarray:
    """Compose a full check image: header/body scribbles in the upper
    60% (cropped away by the MICR path), the MICR line in the bottom
    band, then optional skew and noise."""
    img = np.full((CANVAS_H, CANVAS_W), PAPER, dtype=np.uint8)
    # upper-region content: horizontal "text" bars and an amount box
    for _ in range(6):
        y = int(rng.integers(18, int(CANVAS_H * 0.52)))
        x = int(rng.integers(20, CANVAS_W // 2))
        w = int(rng.integers(60, 240))
        img[y:y + 3, x:min(x + w, CANVAS_W - 20)] = INK
    img[40:70, CANVAS_W - 150:CANVAS_W - 30] = PAPER
    img[40:42, CANVAS_W - 150:CANVAS_W - 30] = INK
    img[68:70, CANVAS_W - 150:CANVAS_W - 30] = INK
    img[40:70, CANVAS_W - 150:CANVAS_W - 148] = INK
    img[40:70, CANVAS_W - 32:CANVAS_W - 30] = INK
    if spec.dark_header:
        # dark top half drags the sampled mean below 128 → exercises the
        # dilate-then-erode clean branch (src/check.ts:210-219)
        img[:int(CANVAS_H * 0.5), :] = 60
    # MICR band
    line = render_micr_line(spec.micr_text, rng)
    lh, lw = line.shape
    if lw > CANVAS_W - 20:
        raise ValueError(f"MICR line too wide for canvas: {lw}")
    y0 = CANVAS_H - 44 - lh
    x0 = max(10, (CANVAS_W - lw) // 2)
    band = img[y0:y0 + lh, x0:x0 + lw]
    band[line > 0] = INK
    if spec.noise:
        # salt-and-pepper off the MICR band (kept off the band so the
        # 2x2 clean step is what removes it, as in the reference flow)
        n = int(CANVAS_H * CANVAS_W * 0.002)
        ys = rng.integers(0, y0 - 6, n)
        xs = rng.integers(0, CANVAS_W, n)
        img[ys, xs] = np.where(rng.random(n) < 0.5, 0, 255).astype(np.uint8)
    if spec.skew != 0.0:
        img = K.rotate(img, spec.skew)
    return img


def make_spec(i: int, rng: np.random.Generator,
              lossy: bool = True) -> CheckSpec:
    progressive = False
    if lossy and i % 16 == 5:
        fmt = "jpeg"
        # every other jpeg doc (i ≡ 21 mod 32) is progressive (SOF2):
        # real scan corpora mix baseline and progressive files, and the
        # reference accepts both via Jimp (src/util.ts:60-77)
        progressive = i % 32 == 21
    elif lossy and i % 16 == 11:
        fmt = "gif"
    else:
        fmt = FORMATS[i % len(FORMATS)]
    return CheckSpec(
        micr_text=make_micr_text(rng),
        skew=SKEWS[i % len(SKEWS)],
        fmt=fmt,
        progressive=progressive,
        dark_header=(i % 7 == 3),
        noise=(i % 3 == 1),
    )


def make_text_span(rng: np.random.Generator) -> str:
    n = int(rng.integers(3, 9))
    return " ".join(rng.choice(_WORDS, n))


def _encode_progressive(img: np.ndarray) -> bytes:
    """Grayscale image as a progressive (SOF2) JPEG at the corpus's
    q92 — same quantized coefficients as the baseline encoder, so the
    golden span expectations are unaffected by the container choice."""
    from .jpeg import encode_jpeg_progressive
    return encode_jpeg_progressive(img, 92)


def generate_fixture_rows_range(start: int, count: int, seed: int = 42,
                                lossy: bool = True
                                ) -> tuple[list[dict], list[dict], list[dict]]:
    """Build (documents, media, expected_spans) row dicts for doc
    indices [start, start+count) — each doc is seeded independently, so
    generation parallelizes and any subrange is reproducible.

    Emitted OCR spans are interleaved immediately after their source
    image span; `order` is the final 0-based position — the
    (kind, text, media_ref, order) equality invariant.
    """
    docs: list[dict] = []
    media: list[dict] = []
    expected: list[dict] = []
    for i in range(start, start + count):
        rng = np.random.default_rng(seed * 1_000_003 + i)
        doc_id = f"doc-{i:08d}"
        media_ref = f"img-{i:08d}"
        spec = make_spec(i, rng, lossy)
        img = compose_check(spec, rng)
        media.append({
            "media_ref": media_ref,
            "format": spec.fmt,
            # golden dimensions: written at compose time so decode-path
            # metadata extraction has an independent oracle
            "width": img.shape[1],
            "height": img.shape[0],
            "image": (_encode_progressive(img) if spec.progressive
                      else codecs.encode_image(img, spec.fmt)),
        })
        n_text = int(rng.integers(1, 6))
        img_pos = int(rng.integers(0, n_text + 1))
        spans = []
        for j in range(n_text + 1):
            if j == img_pos:
                spans.append({"kind": "image", "text": "",
                              "media_ref": media_ref, "offset": j})
            else:
                spans.append({"kind": "text", "text": make_text_span(rng),
                              "media_ref": "", "offset": j})
        docs.append({"doc_id": doc_id, "spans": spans})
        # golden output spans
        from ..functions.micr import parse_micr
        info = parse_micr(spec.micr_clean)
        order = 0
        for s in spans:
            expected.append({"doc_id": doc_id, "kind": s["kind"],
                             "text": s["text"], "media_ref": s["media_ref"],
                             "order": order})
            order += 1
            if s["kind"] == "image":
                for kind, text in info.spans():
                    expected.append({"doc_id": doc_id, "kind": kind,
                                     "text": text, "media_ref": media_ref,
                                     "order": order})
                    order += 1
    return docs, media, expected
