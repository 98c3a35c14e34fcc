"""Golden MICR-grammar cases.

The six cases mirror the reference's own unit tests
(/root/reference/test/checkUtil.test.ts:6-34) plus the alphabet-fix and
X9-composition behaviors (src/checkUtil.ts:38-63).
"""

import pytest

from fin_ocr_sdk_spark.functions.micr import (
    CheckInfo,
    normalize_special_symbols,
    parse_micr,
    remove_leading_zeros,
    remove_spaces,
    x9_to_micr,
)

GOLDEN = [
    # (micr_line, routing, account, check)
    ("T123T456U789", "123", "456", "789"),
    ("U12U T34T 56", "34", "56", "12"),          # aux-on-us before routing
    ("U12U T34T U56U A78A", "34", "56", "12"),   # amount field skipped
    ("TT12T34U56", "12", "34", "56"),            # double-T tolerated
    ("T012T034U056", "012", "034", "56"),        # strip leading zeros from check# only
    ("", "", "", ""),
]


@pytest.mark.parametrize("micr,routing,account,check", GOLDEN)
def test_golden_parse(micr, routing, account, check):
    info = parse_micr(micr)
    assert info.routing_number == routing
    assert info.account_number == account
    assert info.check_number == check


def test_abcd_alphabet_normalization():
    # Contains C => ABCD alphabet: A→T, B→A, C→U
    assert normalize_special_symbols("A123A456C789") == "T123T456U789"
    info = parse_micr("A123A456C789")
    assert (info.routing_number, info.account_number, info.check_number) == (
        "123", "456", "789")
    # micr_line reflects the normalized string
    assert info.micr_line == "T123T456U789"


def test_no_normalization_without_c():
    # 'A' alone is a legitimate amount symbol — must NOT be remapped
    info = parse_micr("T123T456A78A")
    assert info.routing_number == "123"
    assert info.account_number == "456"


def test_dash_skips_following_number():
    info = parse_micr("T123TD99D456")
    assert info.routing_number == "123"
    # dc==1 while '99' is read → skipped; after second D, dc==2 → resumes
    assert info.account_number == "456"


def test_whitespace_inside_digit_run_merges():
    # the tokenizer skips non-alphabet chars even inside a run
    info = parse_micr("T12 34T55 66")
    assert info.routing_number == "1234"
    assert info.account_number == "5566"


def test_x9_to_micr():
    assert x9_to_micr("03110064", "9", "4400000084/", "0024154") == \
        "U0024154UT031100649T4400000084U"
    assert x9_to_micr("03110064", "9", "123", "") == "T031100649T123"
    # spaces stripped
    assert x9_to_micr("0311 0064", "9", "1 23", "") == "T031100649T123"


def test_x9_roundtrip_through_parser():
    micr = x9_to_micr("03110064", "9", "4400000084/", "0024154")
    info = parse_micr(micr)
    assert info.routing_number == "031100649"
    assert info.account_number == "4400000084"
    assert info.check_number == "24154"


def test_scalar_helpers():
    assert remove_leading_zeros("000123") == "123"
    assert remove_leading_zeros("0") == ""
    assert remove_leading_zeros(None) == ""
    assert remove_spaces(" a b\tc ") == "abc"


def test_checkinfo_is_frozen_dataclass():
    info = CheckInfo("1", "2", "3", "m")
    with pytest.raises(Exception):
        info.routing_number = "x"  # type: ignore[misc]


def test_x9_fixture_variants_compose_and_parse():
    """The X9-shaped fixture's four field shapes (plain, aux serial,
    embedded-space + zero-padded check, zero-padded aux without '/')
    compose and parse to the relational derivation the x9_to_micr
    oracle twin uses (src/checkUtil.ts:38-45 + 49-133)."""
    cases = [
        # (routing8, cd, on_us, aux) -> (routing, account, check)
        (("12345678", "1", "987654/321", ""),
         ("123456781", "987654", "321")),
        (("12345678", "1", "987654/321", "5555"),
         ("123456781", "987654", "5555")),   # aux wins the check field
        (("12345678", "1", "987 654/00321", ""),
         ("123456781", "987654", "321")),    # space strip + zero strip
        (("12345678", "1", "987654", "0042"),
         ("123456781", "987654", "42")),     # no '/', zero-padded aux
    ]
    from fin_ocr_sdk_spark.functions.micr import parse_micr
    for (r, cd, onus, aux), (er, ea, ec) in cases:
        info = parse_micr(x9_to_micr(r, cd, onus, aux))
        assert info.routing_number == er
        assert info.account_number == ea
        assert info.check_number == ec
