"""Engine configuration — reference: src/config.ts.

The eight of the reference's scalar knobs that the scan reads, with the
reference's defaults.  ``plans/scan.py`` holds one default instance as
a module global, so each python worker builds it once at import; a
caller may pass its own instance to the per-image entry points.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Config:
    clean_height: int = 2
    clean_width: int = 2
    max_char_height: int = 30
    max_char_width: int = 28
    max_space_between_chars_of_word: int = 15
    max_translator_choices: int = 3
    overlap_correction: bool = True
    overlap_padding: int = 5
