"""MICR field grammar — the semantic anchor of the engine.

Re-creation (not a port) of the reference's deterministic MICR parser:
  - parser grammar:   /root/reference/src/checkUtil.ts:49-133
  - ABCD→TUAD fix:    /root/reference/src/checkUtil.ts:57-63
  - x9 conversion:    /root/reference/src/checkUtil.ts:38-45
  - leading zeros:    /root/reference/src/util.ts:324-327

The MICR line of a US check uses the E-13B font: digits 0-9 plus four
control symbols — T (transit), U (on-us), A (amount), D (dash).  The
grammar tokenizes the line into control chars and maximal digit runs and
assigns digit runs to fields by position relative to the control chars.

Pure Python, no Spark imports: used both directly (pytest golden cases)
and inside pandas UDFs (strings are ~30 chars; per-element cost trivial).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_MICR_ALPHABET = set("TUAD0123456789")
_LEADING_ZEROS = re.compile(r"^0+")
_WHITESPACE = re.compile(r"\s")


@dataclass(frozen=True)
class CheckInfo:
    """Extraction output (reference: src/check.ts:38-43)."""

    routing_number: str
    account_number: str
    check_number: str
    micr_line: str

    def spans(self) -> tuple[tuple[str, str], ...]:
        """The (kind, text) micr:* spans of one check, in output order
        (sub_order 1..4 after the image span)."""
        return (("micr:line", self.micr_line),
                ("micr:routing", self.routing_number),
                ("micr:account", self.account_number),
                ("micr:check", self.check_number))


def remove_leading_zeros(s: str | None) -> str:
    if not s:
        return ""
    return _LEADING_ZEROS.sub("", s)


def remove_spaces(s: str | None) -> str:
    if not s:
        return ""
    return _WHITESPACE.sub("", s)


def normalize_special_symbols(text: str) -> str:
    """ABCD → TUAD alphabet fix, applied only when a 'C' is present.

    Some OCR engines emit A/B/C/D for the four MICR control symbols; the
    canonical alphabet is T/U/A/D.  Only 'C' is unambiguous evidence of
    the ABCD alphabet (A and D are valid in both).
    """
    text = text.replace("A", "T")
    text = text.replace("B", "A")
    text = text.replace("C", "U")
    return text


def x9_to_micr(
    payor_bank_routing_number: str,
    payor_bank_check_digit: str,
    on_us: str,
    auxiliary_on_us: str,
) -> str:
    """Compose the MICR-equivalent string from X9 clearing-file fields."""
    rtn = ""
    if auxiliary_on_us:
        rtn += f"U{auxiliary_on_us}U"
    rtn += f"T{payor_bank_routing_number}{payor_bank_check_digit}T"
    rtn += on_us.replace("/", "U", 1)
    return remove_spaces(rtn)


def parse_micr(micr_line: str | None) -> CheckInfo:
    """Tokenize + assign fields.

    Assignment rules (in priority order for each number token):
      1. immediately after a T: first → routing, later → account
      2. while exactly one A has been seen → amount (not emitted)
      3. while exactly one D has been seen → skipped
      4. U seen before any T → check number (auxiliary on-us)
      5. after routing known: first → account, second → check number
    Leading zeros are stripped from the check number only.
    """
    micr_line = micr_line or ""
    if "C" in micr_line:
        micr_line = normalize_special_symbols(micr_line)

    routing = ""
    account = ""
    check = ""
    tc = uc = ac = dc = 0
    last_control = ""

    for kind, token in _tokens(micr_line):
        if kind == "control":
            if token == "T":
                tc += 1
            elif token == "U":
                uc += 1
            elif token == "A":
                ac += 1
            elif token == "D":
                dc += 1
            last_control = token
        else:  # number token; `last_control` frozen at the token's start
            if last_control == "T":
                if not routing:
                    routing = token
                else:
                    account = token
            elif ac == 1:
                pass  # amount field — parsed but not part of CheckInfo
            elif dc == 1:
                pass  # skipped after a dash
            elif uc == 1 and tc == 0:
                check = token  # aux-on-us before the routing number
            elif routing:
                if not account:
                    account = token
                elif not check:
                    check = token

    return CheckInfo(
        routing_number=routing,
        account_number=account,
        check_number=remove_leading_zeros(check),
        micr_line=micr_line,
    )


def _tokens(line: str):
    """Yield ('control', c) or ('number', digits).

    Characters outside TUAD0-9 are transparently skipped — including in
    the middle of a digit run, so "T12 34T" yields one number "1234".
    A number token binds to the control char that was current when the
    token *started* (the tokenizer consumes the full digit run before the
    next control char is seen).
    """
    i, n = 0, len(line)
    while i < n:
        c = line[i]
        i += 1
        if c not in _MICR_ALPHABET:
            continue
        if c in "TUAD":
            yield ("control", c)
            continue
        digits = [c]
        while i < n:
            c2 = line[i]
            if c2 in "TUAD":
                break
            i += 1
            if c2 in _MICR_ALPHABET:  # a digit
                digits.append(c2)
        yield ("number", "".join(digits))
