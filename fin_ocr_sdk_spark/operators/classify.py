"""E-13B character classification — batched template matching.

The reference's opencv translator scores every character crop against
every match template with normalized cross-correlation and keeps the
top-3 choices (/root/reference/src/opencvTranslator.ts:199-249).

Relationally this is a nested-loop theta-join against a small constant
side (chars × templates, score = NCC, argmax per char — SURVEY §2.3);
here it is ONE einsum over the whole batch: stack all character crops
of all documents in the Arrow batch into an (N, 36, 36) tensor and
contract against the (T, 36, 36) template tensor, which each worker
builds once (plans.scan.get_default_templates).  This is the hot
path and it is fully vectorized — no per-char Python beyond the crop.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import kernels as K
from .segment import Char, Line, jround

# src/config.ts:39 maxTranslatorChoices: choices kept per character
MAX_TRANSLATOR_CHOICES = 3


@dataclass(frozen=True)
class TemplateSet:
    """Immutable template pack: a per-process constant, built once by
    plans.scan.get_default_templates."""

    tensor: np.ndarray  # (T, 36, 36) float64
    values: list[str]
    norms: np.ndarray  # (T,)

    @classmethod
    def build(cls) -> "TemplateSet":
        from .templates import template_tensor
        tens, values, norms = template_tensor()
        return cls(tensor=tens, values=values, norms=norms)

    def zero(self) -> tuple[np.ndarray, float]:
        i = self.values.index("0")
        return self.tensor[i], float(self.norms[i])


def stack_char_crops(line: Line, chars: list[Char]) -> np.ndarray:
    """Crop each char rect from the line image and resize to 36x36 →
    (N, 36, 36) float64."""
    out = np.zeros((len(chars), 36, 36))
    img = line.image
    h, w = img.shape
    for i, c in enumerate(chars):
        x, y, cw, ch = c.rect
        x0, y0 = max(0, x), max(0, y)
        x1, y1 = min(w, x + cw), min(h, y + ch)
        crop = img[y0:y1, x0:x1]
        if crop.size == 0:
            continue
        out[i] = K.resize_area(crop, (36, 36)).astype(np.float64)
    return out


def ncc_scores_batch(crops: np.ndarray, templates: TemplateSet) -> np.ndarray:
    """(N, 36, 36) × (T, 36, 36) → (N, T) rounded percentage scores."""
    xnorms = np.sqrt(np.einsum("nij,nij->n", crops, crops))
    # flattened GEMM instead of einsum "nij,tij->nt": einsum's generic
    # contraction is ~4x slower than BLAS for this shape
    dots = (crops.reshape(len(crops), -1)
            @ templates.tensor.reshape(len(templates.tensor), -1).T)
    denom = np.outer(xnorms, templates.norms)
    with np.errstate(divide="ignore", invalid="ignore"):
        scores = np.where(denom > 0, dots / denom, 0.0)
    return np.floor(scores * 100.0 + 0.5).astype(np.int64)  # JS round


@dataclass
class TranslateResult:
    value: str
    score: int
    char_choices: list[list[tuple[str, int]]]  # per char, top-k (value, score)


def translate_line(line: Line, templates: TemplateSet) -> TranslateResult:
    """Per-line classification (src/opencvTranslator.ts:124-159): line
    value = concat of per-char best values in x-order; line score =
    round(mean of best scores)."""
    chars = line.get_chars()
    if not chars:
        return TranslateResult("", 0, [])
    crops = stack_char_crops(line, chars)
    scores = ncc_scores_batch(crops, templates)
    # stable sort by -score preserves template order on ties, matching
    # the reference's Array.sort over the ordered element list
    order = np.argsort(-scores, axis=1, kind="stable")
    values = templates.values
    choices: list[list[tuple[str, int]]] = []
    total = 0
    out_value = []
    for i in range(len(chars)):
        top = [(values[j], int(scores[i, j]))
               for j in order[i, :MAX_TRANSLATOR_CHOICES]]
        choices.append(top)
        out_value.append(top[0][0])
        total += top[0][1]
    return TranslateResult(
        value="".join(out_value),
        score=jround(total / len(chars)),
        char_choices=choices,
    )
