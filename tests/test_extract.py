"""PDF text-layer and DOM-heuristic extraction units (north rule:
PDF/layout parse + DOM heuristics legs of main-content extraction)."""

import numpy as np
import pytest

from fin_ocr_sdk_spark.operators.html_main import extract_main_text
from fin_ocr_sdk_spark.sources.pdf import (encode_pdf_15,
                                           encode_simple_pdf,
                                           extract_pdf_text)


def test_pdf_roundtrip_compressed_and_raw():
    pages = ["Hello world\nSecond line with (parens) and \\ backslash",
             "Page two: quarterly revenue grew 14%"]
    for compress in (True, False):
        assert extract_pdf_text(
            encode_simple_pdf(pages, compress=compress)) == pages


def test_pdf_string_escapes():
    pages = ["tab\there", "oct \xe9 end", "nested (deep (deeper)) ok"]
    assert extract_pdf_text(encode_simple_pdf(pages)) == pages


def test_pdf_error_contract():
    with pytest.raises(ValueError):
        extract_pdf_text(b"not a pdf at all")
    with pytest.raises(ValueError):
        extract_pdf_text(b"%PDF-1.4\nno pages here")
    # corrupt FlateDecode stream -> ValueError, not zlib.error
    data = bytearray(encode_simple_pdf(["abc def"]))
    i = data.find(b"stream\n") + len(b"stream\n")
    data[i:i + 4] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError):
        extract_pdf_text(bytes(data))


def test_pdf_truncations_stay_valueerror():
    data = encode_simple_pdf(["some words here", "and a second page"])
    for cut in range(4, len(data), max(1, len(data) // 40)):
        try:
            extract_pdf_text(data[:cut])
        except ValueError:
            pass


def test_pdf_15_contents_array_objstm_xref_stream():
    """PDF 1.5 container features: pages whose dictionaries live in an
    object stream, /Contents as a two-stream array, and a /Type /XRef
    cross-reference stream — same text contract as the 1.4 writer."""
    pages = ["alpha beta\ngamma delta\nepsilon", "single line page",
             "one\ntwo"]
    assert extract_pdf_text(encode_pdf_15(pages)) == pages


def test_pdf_15_truncations_stay_valueerror():
    data = encode_pdf_15(["some words here", "and a second page\nmore"])
    for cut in range(4, len(data), max(1, len(data) // 60)):
        try:
            extract_pdf_text(data[:cut])
        except ValueError:
            pass


def test_pdf_15_inconsistent_xref_stream_raises():
    """An xref stream whose /Size declares objects the payload cannot
    cover must fail loudly (truncated-xref contract), not silently."""
    data = encode_pdf_15(["abc", "def"])
    import re
    m = re.search(rb"/Type /XRef /Size (\d+)", data)
    assert m
    bigger = str(int(m.group(1)) + 90).encode().rjust(len(m.group(1)),
                                                      b"9")
    patched = data[:m.start(1)] + bigger + data[m.end(1):]
    with pytest.raises(ValueError):
        extract_pdf_text(patched)


def test_pdf_latin1_contract():
    for enc in (encode_simple_pdf, encode_pdf_15):
        with pytest.raises(ValueError):
            enc(["euro sign € breaks the Type1 scope"])
    # full latin-1 range round-trips
    pages = ["".join(chr(c) for c in range(0x20, 0x100) if c != 0x7F)]
    assert extract_pdf_text(encode_simple_pdf(pages)) == pages
    assert extract_pdf_text(encode_pdf_15(pages)) == pages


def test_pdf_name_tokens_not_operators():
    """A content-stream NAME like /Td or /Tj must be consumed whole,
    never lexed as the bare text operator (flushing pending strings or
    inserting line breaks)."""
    from fin_ocr_sdk_spark.sources.pdf import _stream_text
    assert _stream_text(b"BT /F1 12 Tf /Td /Tj (keep) Tj ET") == "keep"
    assert _stream_text(b"BT (a) Tj /TD (b) Tj ET") == "ab"


def test_html_chrome_dropped_content_kept():
    html = ("<html><head><title>meta</title><script>x&&y</script>"
            "</head><body><header>SITE</header>"
            "<nav><li>Home</li></nav>"
            "<article><h1>Title Words</h1>"
            "<p>alpha <b>beta</b>&nbsp;gamma</p>"
            "<div class='promo-banner'>BUY</div>"
            "<div><div id='sidebar-x'>links</div><p>delta</p></div>"
            "</article><footer>legal</footer></body></html>")
    out = extract_main_text(html)
    assert out.split("\n") == ["Title Words", "alpha beta gamma",
                               "delta"]


def test_html_nested_chrome_and_blocks():
    html = ("<body><aside><div><p>deep chrome text</p></div></aside>"
            "<main><p>one</p><ul><li>two</li><li>three</li></ul>"
            "<p>four<br>five</p></main></body>")
    out = extract_main_text(html)
    assert "deep chrome text" not in out
    assert out.split("\n") == ["one", "two", "three", "four", "five"]


def test_html_entities_and_whitespace():
    out = extract_main_text("<p>a&amp;b   c\n\nd &lt;tag&gt;</p>")
    assert out == "a&b c d <tag>"


def test_html_malformed_tags_do_not_crash_or_leak_chrome():
    """Sloppy HTML (unclosed <p>, stray end tags) must neither raise
    nor resurrect chrome content: depth counters saturate at zero and
    an unmatched end tag inside chrome at worst closes chrome early."""
    html = ("<body><nav><li>Home<li>About</nav>"
            "</div><p>alpha<p>beta<div>gamma</body>")
    out = extract_main_text(html)
    assert "Home" not in out and "About" not in out
    assert out.split("\n") == ["alpha", "beta", "gamma"]


def test_html_density_fallback_div_soup():
    """Pages with no semantic tags or chrome keywords anywhere fall
    back to link-density scoring: link-list divs are dropped, text
    divs (even with a single inline link) are kept."""
    html = ('<body><div><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact</a></div>'
            "<div><div>Title Words</div>"
            '<div>alpha beta <a href="/x">gamma</a> delta epsilon</div>'
            "<div>zeta eta theta iota kappa</div></div>"
            '<div><a href="/t">Terms</a> <a href="/p">Privacy</a></div>'
            "</body>")
    out = extract_main_text(html)
    assert out.split("\n") == ["Title Words",
                               "alpha beta gamma delta epsilon",
                               "zeta eta theta iota kappa"]


def test_html_density_fallback_not_applied_with_semantic_chrome():
    """A page WITH semantic chrome keeps the pure tag heuristic: a
    link-heavy block outside the chrome is content (e.g. a reference
    list) and must survive."""
    html = ("<body><nav><li>Home</li></nav>"
            '<p><a href="/r1">ref one</a> <a href="/r2">ref two</a></p>'
            "</body>")
    assert extract_main_text(html) == "ref one ref two"


def test_pdf_length_based_slicing_survives_delimiter_text():
    """Stream bytes may legally contain 'endstream'/'endobj' (always
    true of compressed output): the parser slices by /Length, so such
    content must round-trip instead of truncating the stream or
    misaligning later objects."""
    pages = ["x endstream y\nmid endobj z", "second page ok"]
    for compress in (False, True):
        assert extract_pdf_text(
            encode_simple_pdf(pages, compress=compress)) == pages


def test_html_unclosed_chrome_inside_skipped_subtree():
    """Tags opened inside template/noscript subtrees must not reach the
    content stack: an unclosed <nav> in a <template> previously left
    the parser 'in chrome' and swallowed the rest of the page."""
    html = "<body><template><nav></template><p>hello</p></body>"
    assert extract_main_text(html) == "hello"
    html2 = "<body><noscript><div class='menu-x'></noscript><p>w</p></body>"
    assert extract_main_text(html2) == "w"


def test_html_unclosed_anchor_poisons_one_block_only():
    """A forgotten </a> on a no-chrome page must not mark the whole
    rest of the document as link text: block boundaries neutralize open
    link runs, so the density fallback drops at most the anchor's own
    block."""
    html = ('<body><a href="/logo">site'
            "<div>Actual article text with many words here</div>"
            "<div>More real content text</div></body>")
    out = extract_main_text(html)
    # "site" is the anchor's own block (pure link text → dropped); both
    # content blocks survive because the <div> boundary neutralized the
    # unclosed link run
    assert out.split("\n") == [
        "Actual article text with many words here",
        "More real content text",
    ]


def test_pdf_hex_strings_and_line_continuations():
    """Real-producer string forms: hex literals <48...> (whitespace
    ignored, odd digit count padded, << stays a dict open) and
    backslash-newline continuations contributing no character."""
    from fin_ocr_sdk_spark.sources.pdf import _stream_text
    pages = ["alpha beta\ngamma (paren) \\ back", "second page"]
    for compress in (True, False):
        data = encode_simple_pdf(pages, compress=compress,
                                 hex_strings=True)
        assert extract_pdf_text(data) == pages
    assert b"> Tj" in data     # last iteration uncompressed: visible
    # whitespace inside hex + odd digit count (trailing 0 implied)
    assert _stream_text(b"BT <48 65\n6C6C 6F2> Tj ET") == "Hello "
    # line continuation: no character; \r\n counts as one newline
    assert _stream_text(b"BT (ab\\\ncd) Tj ET") == "abcd"
    assert _stream_text(b"BT (ab\\\r\ncd) Tj ET") == "abcd"


def test_pdf_content_comments_are_inert():
    """'%' starts a comment through end-of-line (PDF 7.2.4): string
    opens and operator words inside a comment must not reach the text
    replay."""
    from fin_ocr_sdk_spark.sources.pdf import _stream_text
    s = b"BT % sneaky (not text) Tj\n(real) Tj ET"
    assert _stream_text(s) == "real"
    # comment ending at \r, and a comment that opens a paren it never
    # closes (would otherwise swallow the rest of the stream)
    assert _stream_text(b"BT %(\r(a) Tj ET") == "a"


def test_pdf_incremental_update_generation_not_flagged_absent():
    """An in-use object whose only header carries generation > 0 (the
    incremental-update shape) must not fail the xref consistency check
    — the check builds its known set from headers of ANY generation."""
    import re

    from fin_ocr_sdk_spark.sources.pdf import encode_pdf_15
    blob = encode_pdf_15(["hello world", "second page"])
    assert re.search(rb"2 0 obj", blob)
    bumped = blob.replace(b"2 0 obj", b"2 1 obj", 1)  # same byte length
    assert extract_pdf_text(bumped) == ["hello world", "second page"]


def test_pdf_header_inside_stream_body_is_not_an_object():
    """An "N 0 obj" inside a stream's bytes is data: it must not satisfy
    the xref check for an object the xref stream declares but the file
    lacks (object 6 below exists only as text in a content stream)."""
    import zlib

    def obj(num: int, body: bytes) -> bytes:
        return str(num).encode() + b" 0 obj\n" + body + b"\nendobj\n"

    def stream(head: bytes, payload: bytes) -> bytes:
        return (b"<< " + head + b" /Length " + str(len(payload)).encode()
                + b" >>\nstream\n" + payload + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num, body in (
            (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
            (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
            (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
            (4, stream(b"", b"BT (hello) Tj ET % 6 0 obj"))):
        offsets[num] = len(out)
        out += obj(num, body)
    xref_at = len(out)
    entries = b"\x00" + bytes(4) + b"\xff\xff"           # 0: free
    for num in range(1, 7):                              # 6: absent
        entries += (b"\x01" + offsets.get(num, xref_at).to_bytes(4, "big")
                    + bytes(2))
    out += obj(5, stream(b"/Type /XRef /Size 7 /W [1 4 2] /Root 1 0 R "
                         b"/Filter /FlateDecode", zlib.compress(entries)))
    out += b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    with pytest.raises(ValueError, match="object 6 absent"):
        extract_pdf_text(bytes(out))
