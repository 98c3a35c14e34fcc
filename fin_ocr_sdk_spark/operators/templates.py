"""Deterministic E-13B-style glyph font and match-template construction.

The reference ships a bundled reference image (``micr_ref.tif``) with the
14 E-13B glyphs laid out left-to-right, consumed by contour extraction at
/root/reference/src/opencvTranslator.ts:57-81 with charDescriptors
["1".."9","0","T:3","U:3","A:3","D:3"] (src/checkMgr.ts:55).  That image
is absent from the snapshot, so we render our own deterministic
E-13B-style glyphs: digits are single 8-connected components; the four
control symbols (T=transit, U=on-us, A=amount, D=dash) are exactly three
components each, mirroring real E-13B symbol topology.

Glyphs are defined on small cell grids (digits 5x7, symbols 7x7) and
scaled by ``SCALE`` (4) to pixel rasters: digits ~20x28, symbols 28x28 —
inside the reference's char-size envelope (src/config.ts:14-15 avg
19x24, :32-33 max 28x30).

Template construction replicates the reference init pipeline: render a
glyph *sheet*, Otsu-inverse threshold, find regions left-to-right,
consume numContours regions per descriptor, crop the bounding box,
resize to 36x36 (src/opencvTranslator.ts:39).
"""

from __future__ import annotations

import numpy as np

from . import kernels as K

SCALE = 4
GLYPH_SIZE = (36, 36)  # template side, per src/opencvTranslator.ts:39

# charDescriptors — value:numContours, same order as the reference sheet
CHAR_DESCRIPTORS = ["1", "2", "3", "4", "5", "6", "7", "8", "9", "0",
                    "T:3", "U:3", "A:3", "D:3"]

_DIGITS = {
    "0": ["01110", "10001", "10011", "10101", "11001", "10001", "01110"],
    "1": ["00100", "01100", "00100", "00100", "00100", "00100", "01110"],
    "2": ["01110", "10001", "00001", "00010", "00100", "01000", "11111"],
    "3": ["11111", "00010", "00100", "00010", "00001", "10001", "01110"],
    "4": ["00010", "00110", "01010", "10010", "11111", "00010", "00010"],
    "5": ["11111", "10000", "11110", "00001", "00001", "10001", "01110"],
    "6": ["00110", "01000", "10000", "11110", "10001", "10001", "01110"],
    "7": ["11111", "00001", "00010", "00100", "01000", "01000", "01000"],
    "8": ["01110", "10001", "10001", "01110", "10001", "10001", "01110"],
    "9": ["01110", "10001", "10001", "01111", "00001", "00010", "01100"],
}

# Control symbols: three 8-connected blobs each (E-13B-style topology),
# on the same 5-cell pitch as the digits — real E-13B glyphs share one
# character pitch, and the CharIterator's projected grouping windows are
# sized from medium (digit) contour stats (src/line.ts:826-832), so
# symbols must not be wider than digits.
_SYMBOLS = {
    # transit: bar | center square | bar
    "T": ["10001",
          "10001",
          "10101",
          "10101",
          "10101",
          "10001",
          "10001"],
    # on-us: two squares left, tall bar right
    "U": ["11011",
          "11011",
          "11011",
          "00011",
          "11011",
          "11011",
          "11011"],
    # amount: two bars + square right-middle
    "A": ["10100",
          "10100",
          "10101",
          "10101",
          "10101",
          "10100",
          "10100"],
    # dash: three stacked horizontal bars
    "D": ["11111",
          "11111",
          "00000",
          "11111",
          "00000",
          "11111",
          "11111"],
}

GLYPH_VALUES = list("1234567890") + ["T", "U", "A", "D"]


def glyph_bitmap(value: str) -> np.ndarray:
    """Cell-grid boolean bitmap of a glyph."""
    rows = _DIGITS.get(value) or _SYMBOLS.get(value)
    if rows is None:
        raise KeyError(f"unknown MICR glyph '{value}'")
    return np.array([[c == "1" for c in r] for r in rows], dtype=bool)


def render_glyph(value: str) -> np.ndarray:
    """Rasterize one glyph at ``SCALE`` px per cell, white-on-black (the
    post-threshold polarity)."""
    bm = glyph_bitmap(value)
    img = np.where(bm, 255, 0).astype(np.uint8)
    return np.kron(img, np.ones((SCALE, SCALE), dtype=np.uint8))


def num_contours(value: str) -> int:
    return 3 if value in _SYMBOLS else 1


def render_reference_sheet() -> np.ndarray:
    """The analog of micr_ref.tif: all 14 glyphs left-to-right on one
    row, 8 px apart inside a 6 px margin, black-on-white (the loader
    Otsu-inverts it like the reference does at
    src/opencvTranslator.ts:61-62)."""
    gap, pad = 8, 6
    glyphs = [render_glyph(v) for v in GLYPH_VALUES]
    height = max(g.shape[0] for g in glyphs)
    width = sum(g.shape[1] for g in glyphs) + gap * (len(glyphs) - 1)
    sheet = np.zeros((height + 2 * pad, width + 2 * pad), dtype=np.uint8)
    x = pad
    for g in glyphs:
        sheet[pad:pad + g.shape[0], x:x + g.shape[1]] = g
        x += g.shape[1] + gap
    return (255 - sheet).astype(np.uint8)  # black ink on white paper


def build_templates() -> dict[str, dict]:
    """Extract 36x36 match templates from the reference sheet, exactly
    like the reference's loadReferenceImage: gray → Otsu-inv → regions
    sorted by x → consume numContours regions per descriptor → crop the
    union bounding box → resize 36x36 (INTER_AREA).

    Returns {value: {"glyph": (36,36) uint8, "num_contours": int}}.
    """
    binary = K.otsu_binary_inv(K.grayscale(render_reference_sheet()))
    regions = K.find_regions(binary)
    out: dict[str, dict] = {}
    ci = 0
    for cd in CHAR_DESCRIPTORS:
        parts = cd.split(":")
        value = parts[0]
        n = int(parts[1]) if len(parts) > 1 else 1
        rects = []
        for _ in range(n):
            if ci >= len(regions):
                raise RuntimeError(f"failed to get region {ci} for {cd}")
            rects.append(regions[ci].rect)
            ci += 1
        x0 = min(r[0] for r in rects)
        y0 = min(r[1] for r in rects)
        x1 = max(r[0] + r[2] for r in rects)
        y1 = max(r[1] + r[3] for r in rects)
        crop = binary[y0:y1, x0:x1]
        out[value] = {
            "glyph": K.resize_area(crop, GLYPH_SIZE),
            "num_contours": n,
        }
    return out


def template_tensor() -> tuple[np.ndarray, list[str], np.ndarray]:
    """Stack templates into a (T, 36, 36) float64 tensor for batched
    normalized cross-correlation, plus the value list and per-template
    L2 norms.  This is the constant side of the template-match 'join'
    (SURVEY §2.3)."""
    templates = build_templates()
    # preserve reference element order: single-contour eles then multi
    singles = [v for v in templates if templates[v]["num_contours"] == 1]
    multis = [v for v in templates if templates[v]["num_contours"] > 1]
    values = singles + multis
    tens = np.stack([templates[v]["glyph"].astype(np.float64) for v in values])
    norms = np.sqrt((tens * tens).sum(axis=(1, 2)))
    return tens, values, norms
