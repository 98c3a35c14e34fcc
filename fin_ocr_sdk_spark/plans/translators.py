"""Translator engine registry — the reference's extensibility point.

Re-creation of /root/reference/src/translators.ts:36-115: engines are
selected by the ``translators`` config CSV; invalid names are rejected
with the reference's error contract.  The 'opencv' engine (our batched
template-NCC classifier) is always constructed and self-contained; the
'tesseract' engine requires an external binary and is gated behind an
import-try (default OFF in Config, matching this environment).

Each engine is a callable ``(line, opts) -> TranslateResult``; when
several are enabled, ``translate_all`` returns a result per engine
keyed by name (the reference's TranslatorsResult map).
"""

from __future__ import annotations

import os

from ..config import Config
from ..operators.classify import TemplateSet, TranslateResult, translate_line
from ..operators.segment import Line


class OpencvEngine:
    name = "opencv"

    def __init__(self, templates: TemplateSet | None = None,
                 cfg: Config | None = None):
        self.templates = templates or TemplateSet.build()
        self.cfg = cfg or Config()

    def translate(self, line: Line, correct: bool = False,
                  actual: str | None = None) -> TranslateResult:
        result = translate_line(line, self.templates,
                                self.cfg.max_translator_choices)
        if correct and actual is not None:
            result = self._apply_corrections(line, result, actual)
        return result

    def _apply_corrections(self, line: Line, result: TranslateResult,
                           actual: str) -> TranslateResult:
        """Supervised correction (src/opencvTranslator.ts:131-139,
        226-242): when the expected string is provided and lengths
        match, mismatched characters are learned as new templates."""
        chars = line.get_chars()
        if len(actual) != len(chars):
            return result  # reference disables correction on length skew
        from ..operators import kernels as K
        from .classify_learn import learn_char  # noqa: F401 (see below)
        value = list(result.value)
        for i, (got, want) in enumerate(zip(result.value, actual)):
            if got != want:
                c = chars[i]
                x, y, w, h = c.rect
                crop = line.image[y:y + h, x:x + w]
                glyph = K.resize_area(crop, (36, 36))
                self.templates = learn_char(self.templates, glyph, want)
                value[i] = want
        return TranslateResult(value="".join(value), score=result.score,
                               char_choices=result.char_choices)


def _tesseract_binary() -> str:
    """Path to the external tesseract binary, or ImportError — the same
    gate type the registry contract has always used, so callers keep
    treating an absent binary as 'engine unavailable'."""
    import shutil
    path = shutil.which("tesseract")
    if path is None:
        raise ImportError(
            "tesseract engine requires the tesseract binary (plus a "
            "traineddata model); not available in this environment "
            "(enable via OCR_TRANSLATORS=opencv)")
    return path


def _run_tesseract(gray, psm: str, lang: str) -> tuple[str, float]:
    """Invoke the tesseract CLI on a grayscale array: TIFF in (our own
    codec — no PIL in this environment), TSV out; returns (text, mean
    word confidence).  Mirrors worker.recognize returning data.text /
    data.confidence (src/tesseractTranslator.ts:110-124).  Falls back
    to the stock 'eng' model when the configured font's traineddata is
    not installed — the reference ships micr_e13b but notes it could
    not load the bundled model either (tesseractTranslator.ts:63-66)."""
    import subprocess
    import tempfile

    from ..sources import codecs
    binary = _tesseract_binary()
    with tempfile.NamedTemporaryFile(suffix=".tif", delete=False) as f:
        f.write(codecs.encode_tiff(gray.astype("uint8")))
        path = f.name
    try:
        for use_lang in dict.fromkeys((lang, "eng")):
            proc = subprocess.run(
                [binary, path, "stdout", "--psm", str(psm),
                 "-l", use_lang, "tsv"],
                capture_output=True, text=True, timeout=120)
            if proc.returncode == 0:
                break
        else:
            raise RuntimeError(f"tesseract failed: {proc.stderr[:200]}")
    finally:
        os.unlink(path)
    words: list[str] = []
    confs: list[float] = []
    lines: dict[tuple, list[str]] = {}
    header: list[str] = []
    for i, row in enumerate(proc.stdout.splitlines()):
        cols = row.split("\t")
        if i == 0:
            header = cols
            continue
        rec = dict(zip(header, cols))
        if rec.get("level") != "5" or not rec.get("text", "").strip():
            continue
        key = (rec["page_num"], rec["block_num"], rec["par_num"],
               rec["line_num"])
        lines.setdefault(key, []).append(rec["text"])
        words.append(rec["text"])
        try:
            confs.append(float(rec["conf"]))
        except ValueError:
            pass
    text = "\n".join(" ".join(ws) for _, ws in sorted(lines.items()))
    score = sum(confs) / len(confs) if confs else 0.0
    return text, score


class TesseractEngine:
    """External-binary engine (reference: src/tesseractTranslator.ts):
    PSM 13 raw-line mode over the line image, optional bitwiseNot when
    tesseract_black_on_white is set (tesseractTranslator.ts:96-98).
    Import-gated: constructing it without a tesseract binary raises
    ImportError and the registry treats the engine as unavailable."""

    name = "tesseract"

    def __init__(self, cfg: Config | None = None):
        _tesseract_binary()  # gate: ImportError when absent
        self.cfg = cfg or Config()

    def translate(self, line: Line, **_) -> TranslateResult:
        img = line.image
        if self.cfg.tesseract_black_on_white:
            img = 255 - img
        text, score = _run_tesseract(img, self.cfg.tesseract_psm,
                                     self.cfg.font)
        return TranslateResult(value=text.strip(), score=score,
                               char_choices=[])


def build_engines(cfg: Config | None = None,
                  templates: TemplateSet | None = None) -> dict[str, object]:
    """Parse cfg.translators CSV; reject invalid names exactly like the
    reference (src/translators.ts:81-83)."""
    cfg = cfg or Config()
    engines: dict[str, object] = {}
    opencv = OpencvEngine(templates, cfg)
    for name in cfg.translators.split(","):
        name = name.strip()
        if name == "opencv":
            engines[name] = opencv
        elif name == "tesseract":
            engines[name] = TesseractEngine(cfg)
        else:
            raise ValueError(
                f"Invalid translator name '{name}' found in "
                "OCR_TRANSLATORS environment variable; valid values are "
                "'tesseract' and 'opencv' with a comma separator")
    return engines


def translate_all(engines: dict[str, object], line: Line,
                  **opts) -> dict[str, TranslateResult]:
    """Fan out one line to every enabled engine (src/translators.ts:98-115)."""
    return {name: eng.translate(line, **opts)
            for name, eng in engines.items()}


class TesseractFullPageEngine:
    """Full-page OCR engine for the check-number fallback: font 'eng',
    PSM 3 auto page segmentation — exactly how the reference constructs
    tesseractFullPage (src/ocr.ts:75-76).  Same ImportError gate as the
    line engine; any object with ``translate_image(gray) -> str``
    satisfies the protocol (tests inject a fake)."""

    name = "tesseract-full-page"

    def __init__(self):
        _tesseract_binary()  # gate: ImportError when absent

    def translate_image(self, gray) -> str:
        text, _ = _run_tesseract(gray, "3", "eng")
        return text


def build_full_page_engine(cfg: Config | None = None):
    """The reference constructs tesseractFullPage only when the
    tesseract translator is enabled (src/ocr.ts); absent binary →
    None, and the fallback silently no-ops (src/check.ts:148-152)."""
    cfg = cfg or Config()
    if "tesseract" not in cfg.translators:
        return None
    try:
        return TesseractFullPageEngine()
    except ImportError:
        return None


def search_check_number_if_missing(results: dict, full_page_engine,
                                   full_image) -> dict:
    """Full-page check-number fallback
    (src/check.ts:129-177 searchForCheckNumberIfNotFoundOnMicrLine):
    if NO translator found a check number, OCR the whole page, find the
    line after "Check No", parse a number from it, and fill it into
    every translator's result.  Returns the (possibly updated) result
    map; CheckInfo is immutable here so updated entries are replaced."""
    import dataclasses

    from ..functions.micr import check_number_from_full_page
    for info in results.values():
        if info.check_number:
            return results  # found on the MICR line — nothing to do
    if not results or full_page_engine is None or full_image is None:
        return results
    text = full_page_engine.translate_image(full_image)
    check_num = check_number_from_full_page(text)
    if not check_num:
        return results
    return {name: dataclasses.replace(info, check_number=check_num)
            for name, info in results.items()}
