"""MICR line segmentation — the per-image sequential kernel.

Re-creation of the reference's line-building algorithm (the key
non-relational kernel, SURVEY.md §2.4/§2.5):

  seed search        /root/reference/src/check.ts:297-346
  Line init/scan     /root/reference/src/line.ts:102-216
  projections        /root/reference/src/line.ts:218-280
  CharIterator       /root/reference/src/line.ts:665-863
  setTypes           /root/reference/src/line.ts:371-467
  bounding rect      /root/reference/src/line.ts:469-513
  Char geometry      /root/reference/src/char.ts:68-148

These are order-dependent recurrences (state propagates through accepted
characters), so they cannot be expressed as window functions; they run
per image inside the pandas-UDF batch loop.  Inputs are tiny (the
cropped MICR band), which keeps the Python cost negligible next to the
NumPy kernels.

JS Math.round (half-up) is used for score/size rounding parity.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from ..functions import geometry as G
from . import kernels as K

# src/config.ts defaults (maxCharHeight :32, maxCharWidth :33,
# maxSpaceBetweenCharsOfWord :36): the neighbor-estimate box of
# Char.contains and the CharIterator's word-gap bound
MAX_CHAR_HEIGHT = 30
MAX_CHAR_WIDTH = 28
MAX_SPACE_BETWEEN_CHARS_OF_WORD = 15


def jround(x: float) -> int:
    """JS Math.round: half-way cases toward +infinity."""
    return math.floor(x + 0.5)


# ---------------------------------------------------------------- Cont

@dataclass
class Cont:
    """Mutable contour wrapper over a labeled Region (the reference's
    Contour: src/contour.ts:32-61).  Clones share the source region's
    pixel data, exactly as reference clones share the cv.Mat."""

    region: K.Region
    rect: tuple[int, int, int, int]
    area2: float
    idx: int = -1
    size: str | None = None  # S/M/L
    in_line: bool = False
    overlap: bool = False

    @property
    def width(self) -> int:
        return self.rect[2]

    @property
    def height(self) -> int:
        return self.rect[3]

    @property
    def area(self) -> int:
        return self.rect[2] * self.rect[3]

    def y_range(self) -> tuple[int, int]:
        return (self.rect[1], self.rect[1] + self.rect[3])

    def is_medium(self) -> bool:
        return self.size == "M"

    def is_large(self) -> bool:
        return self.size == "L"

    def clone(self) -> "Cont":
        return Cont(region=self.region, rect=self.rect, area2=self.area2,
                    idx=self.idx, size=self.size, overlap=self.overlap)

    def is_member_of(self, conts: list["Cont"]) -> bool:
        return any(c.idx == self.idx for c in conts)

    def sub_contour(self, rect: tuple[int, int, int, int]) -> "Cont":
        c = self.clone()
        c.rect = rect
        return c


def regions_to_conts(regions: list[K.Region]) -> list[Cont]:
    return [Cont(region=r, rect=r.rect, area2=r.area2, idx=r.idx)
            for r in regions]


def image_rect_of_set_pixels(img: np.ndarray, rect: tuple[int, int, int, int]
                             ) -> tuple[int, int, int, int] | None:
    """Bounding rect (inclusive minmax) of ALL set pixels of `img`
    within `rect` — Image.getRect (src/image.ts:372-393), used by the
    projection-recovery adjustRect (contour.getRectV2)."""
    x, y, w, h = rect
    x0, y0 = max(0, x), max(0, y)
    x1 = min(img.shape[1], x + w + 1)  # inclusive max per reference
    y1 = min(img.shape[0], y + h + 1)
    if x1 <= x0 or y1 <= y0:
        return None
    sub = img[y0:y1, x0:x1] > 128
    if not sub.any():
        return None
    ys, xs = np.nonzero(sub)
    mn_x, mx_x = int(xs.min()) + x0, int(xs.max()) + x0
    mn_y, mx_y = int(ys.min()) + y0, int(ys.max()) + y0
    return (mn_x, mn_y, mx_x - mn_x + 1, mx_y - mn_y + 1)


# ---------------------------------------------------------------- Char

class Char:
    """1-3 contours grouped into a character cell (src/char.ts:13-32).
    type: 1 anchor (inside a root), 2 contained-by-neighbor-estimate,
    3 near-a-neighbor (overlap), 4 noise (dropped)."""

    def __init__(self, idx: int, contours: list[Cont],
                 rect: tuple[int, int, int, int]):
        self.idx = idx
        self.contours = contours
        self.rect = rect
        self.type = 4

    def set_type(self, t: int, adjust_char: "Char | None" = None) -> None:
        self.type = t
        if t == 3 and adjust_char is not None:
            self.adjust(adjust_char.rect)

    def _estimate_rect(self, right: bool, containment: bool
                       ) -> tuple[int, int, int, int]:
        pad = 5 if containment else 0
        width = MAX_CHAR_WIDTH if containment else self.rect[2]
        height = MAX_CHAR_HEIGHT if containment else self.rect[3]
        if right:
            x = self.rect[0] + self.rect[2] - pad
        else:
            x = self.rect[0] - width - 2 * pad
        y = self.rect[1] - pad
        return (x, y, width + 2 * pad, height + 2 * pad)

    def contains(self, other: "Char", right: bool) -> bool:
        """Y-containment by the padded expected-neighbor estimate.  The
        estimate's x is computed but only y is tested (reference quirk,
        src/char.ts:80-95)."""
        est = self._estimate_rect(right, containment=True)
        return G.y_contains(est, other.rect)

    def is_near(self, other: "Char", right: bool) -> bool:
        est = self._estimate_rect(right, containment=False)
        if not G.intersects(other.rect, est):
            return False
        # reference's isLowEnough is trivially true for h>0 (quirk kept)
        return other.rect[3] > 0

    def adjust(self, rect: tuple[int, int, int, int]) -> None:
        """Clamp to a neighbor's y-band; re-derive x extent from this
        char's own contour pixels inside that band (src/char.ts:111-124)."""
        y0, y1 = rect[1], rect[1] + rect[3]
        mm: tuple[int, int] | None = None
        for c in self.contours:
            r = c.region.minmax_x_in_yrange(y0, y1)
            if r is not None:
                mm = r if mm is None else (min(mm[0], r[0]), max(mm[1], r[1]))
        x, _, w, _ = self.rect
        if mm is not None:
            x, w = mm[0], mm[1] - mm[0] + 1
        self.rect = (x, rect[1], w, rect[3])


# ---------------------------------------------------------------- Line

class Line:
    """A single MICR text line built from contours (src/line.ts:73-153)."""

    def __init__(self, image: np.ndarray, initial: Cont,
                 all_contours: list[Cont], min_char_area: float,
                 min_char_height: float, max_char_area: float):
        self.image = image  # binary band (255=ink)
        self.initial = initial
        self.min_char_area = min_char_area
        self.min_char_height = min_char_height
        self.max_char_area = max_char_area
        self.max_char_width = initial.width
        self.max_char_height = initial.height
        self.containment_padding = initial.rect[3] * 0.25
        self.min_horizontal_count = jround(initial.width * 0.3)
        self.min_vertical_count = jround(initial.height * 0.3)
        self.vertical_thickness_threshold = jround(initial.height * 0.25)
        self.max_y = image.shape[0] - 1
        self.overlap = False
        self.min_dist_between = float("inf")
        self.contours: list[Cont] = []
        self.chars: list[Char] | None = None
        self.rect: tuple[int, int, int, int] | None = None
        self._init(all_contours)

    # ------------------------------------------------------------ init

    def _init(self, contours: list[Cont]) -> None:
        self._categorize(self.initial)
        self._add_contour(self.initial)
        contours.sort(key=lambda c: c.rect[0])
        loc = next(i for i, c in enumerate(contours) if c is self.initial)
        nc: list[Cont] = []
        self._filter_contours(contours, loc - 1, right=False, nc=nc)
        self._filter_contours(contours, loc + 1, right=True, nc=nc)
        self._process_non_contained(nc)
        self.chars = self._build_chars()
        self.rect = self._build_bounding_rect()

    def is_initialized(self) -> bool:
        return self.chars is not None

    def get_chars(self) -> list[Char]:
        assert self.chars is not None
        return self.chars

    def get_bounding_rect(self) -> tuple[int, int, int, int]:
        assert self.rect is not None
        return self.rect

    def _categorize(self, c: Cont) -> None:
        """Area/height size classes from the seed thresholds
        (src/line.ts:302-306)."""
        if c.area > self.max_char_area:
            c.size = "L"
        elif c.area < self.min_char_area or c.height < self.min_char_height:
            c.size = "S"
        else:
            c.size = "M"

    def _add_contour(self, c: Cont) -> Cont:
        if c.in_line:
            c = c.clone()
        self.contours.append(c)
        c.in_line = True
        return c

    def _filter_contours(self, contours: list[Cont], start: int,
                         right: bool, nc: list[Cont]) -> None:
        """Directional membership scan: claim a contour iff its y-range
        intersects the last claimed character-size contour's and is
        contained by its padded y-range (src/line.ts:155-181)."""
        lc = self.initial
        max_contain_width = self.max_char_width * 1.25
        rng = range(start, len(contours)) if right else range(start, -1, -1)
        for i in rng:
            c = contours[i]
            crange = c.y_range()
            irange = lc.y_range()
            if not G.minmax_intersects(irange, crange):
                continue
            self._categorize(c)
            containment = G.pad_minmax(irange, self.containment_padding,
                                       self.max_y)
            contains = (c.width <= max_contain_width
                        and G.minmax_contains(containment, crange))
            if contains:
                if c.is_medium():
                    dist = G.x_distance(lc.rect, c.rect)
                    self.min_dist_between = min(self.min_dist_between, dist)
                    lc = c
                self._add_contour(c)
            else:
                nc.append(c)

    # ----------------------------------------- non-contained (overlap)

    def _process_non_contained(self, nc: list[Cont]) -> None:
        """Recover overlapped characters by projecting expected char
        rects into gaps and clipping intersecting big contours to the
        set pixels inside (src/line.ts:183-216).  Fixpoint capped at 10
        iterations — the cap is semantics, not tuning."""
        if not nc:
            return
        for _ in range(10):
            count = len(self.contours)
            projections = self._get_projections()
            for p in projections:
                for ncc in nc:
                    if not G.intersects(p, ncc.rect):
                        continue
                    c = ncc.clone()
                    adjusted = self._adjust_rect_to_pixels(c, p)
                    if adjusted:
                        self.overlap = True
                        self._categorize(c)
                        self._add_contour(c)
            if len(self.contours) == count:
                break

    def _adjust_rect_to_pixels(self, c: Cont, p: tuple[int, int, int, int]
                               ) -> bool:
        """contour.adjustRect via image.getRect — pixel bounds of ALL
        set pixels within p (src/contour.ts:193-206, 307-309)."""
        r = image_rect_of_set_pixels(self.image, p)
        if r is None:
            return False
        c.rect = r
        c.overlap = True
        return True

    def _get_projections(self) -> list[tuple[int, int, int, int]]:
        self.contours.sort(key=lambda c: c.rect[0])
        projections: list[tuple[int, int, int, int]] = []
        self._add_projections(projections, right=True)
        self._add_projections(projections, right=False)
        return projections

    def _add_projections(self, projections, right: bool) -> None:
        min_gap = self.max_char_width + self.min_dist_between
        lcr: tuple[int, int, int, int] | None = None
        ly = -1
        seq = self.contours if right else list(reversed(self.contours))
        for c in seq:
            if lcr is not None and ly >= 0:
                if G.x_distance(lcr, c.rect) > min_gap:
                    self._add_projection(projections, lcr, ly, right)
            if c.is_medium():
                ly = c.rect[1]
            lcr = c.rect
        if lcr is not None and ly >= 0:
            self._add_projection(projections, lcr, ly, right)

    def _add_projection(self, projections, lcr, ly: int, right: bool) -> None:
        if not math.isfinite(self.min_dist_between):
            # no medium pair was ever claimed: the reference's projected
            # X is Infinity and the boundary check rejects it
            return
        p = self._projected_rect(lcr, ly, right)
        h, w = self.image.shape
        if p[0] < 0 or p[1] < 0 or p[0] + p[2] > w or p[1] + p[3] > h:
            return
        for p2 in projections:
            if G.intersects(p, p2):
                return
        projections.append(p)

    def _projected_rect(self, rect, y: int, right: bool):
        w = self.max_char_width
        h = self.max_char_height
        dist = self.min_dist_between * 1.3
        x = rect[0] + rect[2] + dist if right else rect[0] - dist - w
        return (int(x), y, w, h)

    # ----------------------------------------------------- build chars

    def _build_chars(self) -> list[Char]:
        self.contours.sort(key=lambda c: c.rect[0])
        chars: list[Char] = []
        it = CharIterator(self)
        while True:
            c = it.next_char()
            if c is None:
                break
            chars.append(c)
        return self._set_types(chars)

    def _set_types(self, chars: list[Char]) -> list[Char]:
        """Four-type classification with forward+backward propagation
        (src/line.ts:371-467); order-dependent — lag() cannot express it."""
        if not chars:
            return chars
        # the seed's rect is the one root, so the reference's
        # getDefaultRoots fallback (line.ts:327-352, 375) never runs
        for c in chars:
            if G.rect_contains(self.initial.rect, c.rect):
                c.set_type(1)
        # type 2, both directions
        for seq, right in ((chars, True), (list(reversed(chars)), False)):
            lc: Char | None = None
            for c in seq:
                if c.type > 2 and lc is not None and lc.contains(c, right):
                    c.set_type(2)
                if c.type <= 2 and (lc is None
                                    or not G.x_intersects(c.rect, lc.rect)):
                    lc = c
        # adjust type-4 rects against nearest kept neighbor, both dirs
        for seq in (chars, list(reversed(chars))):
            lc = None
            for c in seq:
                if c.type > 3:
                    if lc is not None:
                        c.adjust(lc.rect)
                else:
                    lc = c
        # resort (x may have changed) and reindex
        chars.sort(key=lambda c: c.rect[0])
        for i, c in enumerate(chars):
            c.idx = i
        # type 3, both directions
        for seq, right in ((chars, True), (list(reversed(chars)), False)):
            lc = None
            for c in seq:
                if c.type > 3 and lc is not None and lc.is_near(c, right):
                    c.set_type(3, lc)
                if c.type <= 3:
                    lc = c
        return [c for c in chars if c.type <= 3]

    def _build_bounding_rect(self) -> tuple[int, int, int, int]:
        """Conditional min/max agg: x from types<=3, y from types<=2,
        +5px l/r pad, clamped (src/line.ts:469-513).  SQL twin:
        agg(min(when(type<=3,x)), ..., min(when(type<=2,y)), ...)."""
        h, w = self.image.shape
        min_x, min_y, max_x, max_y = w, h, 0, 0
        for c in self.get_chars():
            if c.type >= 4:
                continue
            min_x = min(min_x, c.rect[0])
            max_x = max(max_x, c.rect[0] + c.rect[2])
            if c.type > 2:
                continue
            min_y = min(min_y, c.rect[1])
            max_y = max(max_y, c.rect[1] + c.rect[3])
        x = max(0, min_x - 5)
        y = max(0, min_y)
        rw = min(w - x, max_x - min_x + 10)
        rh = min(h - y, max_y - min_y)
        if rw <= 0 or rh <= 0:
            return G.bounding_rect_of_rects([c.rect for c in self.contours])
        return (x, y, rw, rh)


# -------------------------------------------------------- CharIterator

class CharIterator:
    """Merge up to maxContoursPerChar small contours into one character
    via projected char rects (src/line.ts:665-863).  Session-window-like
    gap grouping, but with 2-D geometry — Spark's session_window cannot
    express it."""

    def __init__(self, line: Line):
        self.line = line
        self.contour_idx = 0
        self.char_idx = 0
        self.prev_char: Char | None = None
        self.next_single: Char | None = None
        self.char_stack: list[Char] = []
        max_width = 0
        width_total = width_count = 0
        dist_total = dist_count = 0
        self.min_dist_between = float("inf")
        self.max_dist_between = 0
        pc: Cont | None = None
        for c in line.contours:
            if c.is_medium():
                max_width = max(c.width, max_width)
                width_total += c.width
                width_count += 1
                if pc is not None:
                    dist = G.x_distance(pc.rect, c.rect)
                    if dist <= MAX_SPACE_BETWEEN_CHARS_OF_WORD:
                        self.min_dist_between = min(dist, self.min_dist_between)
                        self.max_dist_between = max(dist, self.max_dist_between)
                        dist_total += dist
                        dist_count += 1
                pc = c
            else:
                pc = None
        self.max_width = max_width
        self.avg_width = jround(width_total / width_count) if width_count else 0
        self.avg_dist_between = (jround(dist_total / dist_count)
                                 if dist_count else 0)

    def next_char(self) -> Char | None:
        if not self.char_stack:
            buf: list[Cont] = []
            while True:
                c = self._next_contour()
                if c is None:
                    break
                if c.is_medium():
                    self.next_single = Char(-1, [c], c.rect)
                    self.char_stack.append(self.next_single)
                    break
                buf.append(c)
            if buf:
                used: list[Cont] = []
                if self.prev_char is not None:
                    neighbor = self.prev_char
                    while True:
                        ch = self._group_contours(neighbor, True, buf, used)
                        if ch is None:
                            break
                        self.char_stack.append(ch)
                        neighbor = ch
                if self.next_single is not None:
                    neighbor = self.next_single
                    while True:
                        ch = self._group_contours(neighbor, False, buf, used)
                        if ch is None:
                            break
                        self.char_stack.append(ch)
                        neighbor = ch
            self.char_stack.sort(key=lambda ch: ch.rect[0])
        if self.char_stack:
            rtn = self.char_stack.pop(0)
            if rtn is self.next_single:
                self.next_single = None
            rtn.idx = self.char_idx
            self.char_idx += 1
            self.prev_char = rtn
            return rtn
        return None

    def _next_contour(self) -> Cont | None:
        contours = self.line.contours
        if self.contour_idx >= len(contours):
            return None
        c = contours[self.contour_idx]
        self.contour_idx += 1
        return c

    def _group_contours(self, char: Char, right: bool, ca: list[Cont],
                        used: list[Cont]) -> Char | None:
        if not math.isfinite(self.min_dist_between):
            # reference: projected X is ±Infinity → nothing intersects
            return None
        projected = self._projected_char_rect(char.rect, right)
        buf: list[Cont] = []
        for c in ca:
            if c.is_member_of(used):
                continue
            ic = G.get_intersecting_rect(c.rect, projected)
            if ic is None:
                continue
            if c.is_large():
                c = c.sub_contour(ic)
            buf.append(c)
        if buf and self._large_enough_for_char(buf):
            used.extend(buf)
            rect = G.bounding_rect_of_rects([c.rect for c in buf])
            return Char(-1, buf, rect)
        return None

    def _projected_char_rect(self, rect, right: bool):
        if right:
            x = rect[0] + rect[2] + self.min_dist_between
            w = self.max_width
        else:
            x = rect[0] - self.max_dist_between - self.max_width
            w = self.max_width + (self.max_dist_between - self.min_dist_between)
        return (int(x), rect[1], int(w), rect[3])

    def _large_enough_for_char(self, ca: list[Cont]) -> bool:
        rect = G.bounding_rect_of_rects([c.rect for c in ca])
        return rect[2] * rect[3] > self.line.min_char_area


# -------------------------------------------------------- seed search

# the seed search stops at the first contour scoring this high
# (src/check.ts:297-346)
SEED_STOP_SCORE = 90


def find_micr_line_info(
    band: np.ndarray,
    zero_template: np.ndarray,
    zero_norm: float,
    templates=None,
) -> tuple[Line, Cont] | None:
    """Seed search + line construction (src/check.ts:297-346):
    contours (maxWidth 0.9W) → sort y-desc → early-exit argmax NCC vs
    the '0' glyph → size-relative refilter → Line.

    Robustness extension: when NO contour scores against the '0' glyph
    (a degraded/absent zero — the reference gives up here,
    src/check.ts:322-325) and a full template set is provided, re-seed
    from the best-scoring contour across ALL glyph templates, applying
    getDefaultRoots' idea (src/line.ts:327-352) at the seed stage."""
    w = band.shape[1]
    conts = regions_to_conts([r for r in K.find_regions(band)
                              if r.rect[2] <= w * 0.9])
    conts.sort(key=lambda c: -c.rect[1])
    best_score = 0
    best: Cont | None = None
    for c in conts:
        crop = band[c.rect[1]:c.rect[1] + c.rect[3],
                    c.rect[0]:c.rect[0] + c.rect[2]]
        score = ncc_score(crop, zero_template, zero_norm)
        if score > best_score:
            best_score = score
            best = c
            if best_score >= SEED_STOP_SCORE:
                break
    if best is None and templates is not None:
        from .classify import ncc_scores_batch
        for c in conts:
            crop = band[c.rect[1]:c.rect[1] + c.rect[3],
                        c.rect[0]:c.rect[0] + c.rect[2]]
            crop36 = K.resize_area(crop, (36, 36)).astype(np.float64)
            score = int(ncc_scores_batch(crop36[None], templates).max())
            if score > best_score:
                best_score = score
                best = c
                if best_score >= SEED_STOP_SCORE:
                    break
    if best is None:
        return None
    kept = [c for c in conts
            if c.area2 >= best.area2 * 0.03
            and c.height >= best.height * 0.1
            and c.width >= best.width * 0.08]
    if best not in kept:
        return None
    line = Line(band, best, kept,
                min_char_area=best.area * 0.47,
                max_char_area=best.area * 1.25,
                min_char_height=best.height * 0.9)
    if not line.is_initialized():
        return None
    return line, best


def ncc_score(img: np.ndarray, template36: np.ndarray, template_norm: float
              ) -> int:
    """TM_CCORR_NORMED of the 36x36-resized crop against one template,
    as a rounded percentage (src/opencvTranslator.ts:184-197)."""
    x = K.resize_area(img, (36, 36)).astype(np.float64)
    xn = math.sqrt(float((x * x).sum()))
    if xn == 0 or template_norm == 0:
        return 0
    dot = float((x * template36).sum())
    return jround(100.0 * dot / (xn * template_norm))
