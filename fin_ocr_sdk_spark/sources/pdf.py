"""Minimal PDF text layer — the north rule's "PDF/layout parse" leg of
main-content extraction, pure stdlib (zlib), no external PDF libs in
this environment.

``encode_simple_pdf`` writes a deterministic single-font PDF 1.4 (one
content stream per page, optionally FlateDecode-compressed),
``encode_pdf_15`` writes the same text as a PDF 1.5 file exercising the
modern container features (``/Contents`` arrays, object streams, a
cross-reference stream), and ``extract_pdf_text`` recovers per-page
text by decoding each page's content stream(s) and replaying the
text-showing operators:

- ``(string) Tj`` and ``(string) '`` — show string (the quote operator
  implies a line break first);
- ``[(a) -120 (b) ...] TJ`` — array form with kerning numbers
  (numbers are positioning, not text — skipped);
- ``Td/TD/T*`` — treated as line breaks for layout flattening;
- string escapes ``\\( \\) \\\\ \\n \\r \\t``, octal ``\\ddd``, and
  backslash-newline line continuations (no character, spec §7.3.4.2);
- hex string literals ``<48656C6C6F>`` (whitespace ignored, odd digit
  counts padded with an implicit trailing 0, ``<<`` correctly lexed as
  a dictionary open, never a string);
- ``/Name`` tokens are consumed whole, so a content-stream name like
  ``/Td`` can never be mistaken for the ``Td`` operator;
- ``/Contents`` may be a single reference or an array of references
  (streams of one page concatenated in array order, as per spec);
- objects packed in ``/Type /ObjStm`` object streams are expanded
  (PDF 1.5 files routinely put the page dictionaries there);
- a ``/Type /XRef`` cross-reference stream at ``startxref`` is
  W-field-decoded and cross-checked against the objects found by the
  linear walk (truncated or inconsistent xref streams raise
  ``ValueError``).  Object LOCATION itself always uses the linear
  walk — the repair-mode strategy every real-world parser falls back
  to — so corrupt offsets cannot silently skip content.

Text encoding contract: both encoders accept latin-1 text only (the
single built-in Type1 font has no wider encoding without CMaps, which
are out of scope) and raise ``ValueError`` on anything else; the
decoder's byte→chr mapping round-trips exactly that range.

This is the honest scope of a from-scratch extractor over the
generated corpus: real-world PDFs add fonts/CMaps/encryption that need
a native library; the Spark-side plumbing (binary column in, per-page
span rows out, goldens checked by the oracle) is the part this repo
demonstrates, mirroring how the image decoders are wired.
"""

from __future__ import annotations

import re
import zlib


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _page_stream(text: str, hex_strings: bool = False) -> str:
    lines = text.split("\n")
    parts = ["BT /F1 12 Tf 72 720 Td"]
    for i, line in enumerate(lines):
        if i:
            parts.append("0 -14 Td")
        if hex_strings:
            parts.append(
                "<" + _latin1(line).hex().upper() + "> Tj")
        else:
            parts.append(f"({_pdf_escape(line)}) Tj")
    parts.append("ET")
    return " ".join(parts)


def _latin1(text: str) -> bytes:
    """Encode page text under the documented latin-1 contract."""
    try:
        return text.encode("latin-1")
    except UnicodeEncodeError as e:
        raise ValueError(
            "PDF page text must be latin-1 (single-font Type1 scope, "
            f"no CMaps): {e}") from e


def encode_simple_pdf(pages: "list[str]", compress: bool = True,
                      hex_strings: bool = False) -> bytes:
    """One page per input string; lines within a page split on \\n and
    emitted as successive Tj runs separated by Td line moves — as
    literal ``(...)`` strings, or hex ``<...>`` strings when
    ``hex_strings`` (both forms are everywhere in real producers).
    Page text must be latin-1 (raises ValueError otherwise — see
    module docstring)."""
    objs: list[bytes] = []

    def obj(body: bytes) -> int:
        objs.append(body)
        return len(objs)  # 1-based object number

    font_num = obj(b"<< /Type /Font /Subtype /Type1 "
                   b"/BaseFont /Helvetica >>")
    content_nums = []
    for text in pages:
        stream = _latin1(_page_stream(text, hex_strings))
        if compress:
            stream = zlib.compress(stream)
            head = (b"<< /Length " + str(len(stream)).encode()
                    + b" /Filter /FlateDecode >>")
        else:
            head = b"<< /Length " + str(len(stream)).encode() + b" >>"
        content_nums.append(obj(head + b"\nstream\n" + stream
                                + b"\nendstream"))

    page_nums = []
    pages_num_placeholder = len(objs) + len(pages) + 1
    for cn in content_nums:
        page_nums.append(obj(
            b"<< /Type /Page /Parent " + str(pages_num_placeholder).encode()
            + b" 0 R /MediaBox [0 0 612 792] /Contents "
            + str(cn).encode() + b" 0 R /Resources << /Font << /F1 "
            + str(font_num).encode() + b" 0 R >> >> >>"))
    kids = b"[" + b" ".join(str(p).encode() + b" 0 R"
                            for p in page_nums) + b"]"
    pages_num = obj(b"<< /Type /Pages /Kids " + kids + b" /Count "
                    + str(len(page_nums)).encode() + b" >>")
    assert pages_num == pages_num_placeholder
    catalog_num = obj(b"<< /Type /Catalog /Pages "
                      + str(pages_num).encode() + b" 0 R >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0] * (len(objs) + 1)
    for i, body in enumerate(objs, start=1):
        offsets[i] = len(out)
        out += (str(i).encode() + b" 0 obj\n" + body + b"\nendobj\n")
    xref_at = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for i in range(1, len(objs) + 1):
        out += (("%010d 00000 n \n" % offsets[i]).encode())
    out += (b"trailer\n<< /Size " + str(len(objs) + 1).encode()
            + b" /Root " + str(catalog_num).encode() + b" 0 R >>\n"
            + b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n")
    return bytes(out)


def encode_pdf_15(pages: "list[str]") -> bytes:
    """PDF 1.5 writer for the same page-text contract as
    ``encode_simple_pdf``, exercising the container features a modern
    producer emits (spec: PDF 32000-1:2008 §7.4.7 ``/Contents``
    streams, §7.5.7 object streams, §7.5.8 cross-reference streams):

    - each page's content is SPLIT into two FlateDecode streams
      referenced by a ``/Contents [a 0 R b 0 R]`` array (spec semantics:
      concatenation in array order with intervening whitespace);
    - all non-stream dictionaries (font, page dicts, pages node,
      catalog) live inside one ``/Type /ObjStm`` object stream;
    - the only cross-reference is a ``/Type /XRef`` stream with
      ``/W [1 4 2]`` entries (type-1 offsets for top-level objects,
      type-2 (container, index) for the packed dictionaries) carrying
      the trailer fields, pointed at by ``startxref``.
    """
    # --- content streams: two per page (split at a line boundary) ---
    content_bodies: list[bytes] = []        # per top-level stream obj
    page_content_refs: list[tuple[int, int]] = []
    for text in pages:
        lines = text.split("\n")
        cut = max(1, len(lines) // 2) if len(lines) > 1 else 1
        first, second = "\n".join(lines[:cut]), "\n".join(lines[cut:])
        # stream 1 shows the first half; stream 2 continues the SAME
        # text object state per concatenation semantics, so it opens
        # with a line move before its runs (unless the page had a
        # single line, in which case it is empty filler).
        s1 = _latin1(_page_stream(first))
        if second:
            parts = ["BT 0 -14 Td"]
            for i, line in enumerate(second.split("\n")):
                if i:
                    parts.append("0 -14 Td")
                parts.append(f"({_pdf_escape(line)}) Tj")
            parts.append("ET")
            s2 = _latin1(" ".join(parts))
        else:
            s2 = b"% second stream intentionally empty"
        a = len(content_bodies) + 1
        content_bodies += [s1, s2]
        page_content_refs.append((a, a + 1))

    n_content = len(content_bodies)
    objstm_num = n_content + 1
    xref_num = n_content + 2
    font_num = n_content + 3
    pages_num = n_content + 4
    catalog_num = n_content + 5
    first_page_num = n_content + 6
    page_nums = [first_page_num + i for i in range(len(pages))]

    # --- packed dictionaries (live in the object stream) ---
    packed: list[tuple[int, bytes]] = [
        (font_num, b"<< /Type /Font /Subtype /Type1 "
                   b"/BaseFont /Helvetica >>"),
        (pages_num, b"<< /Type /Pages /Kids ["
         + b" ".join(str(p).encode() + b" 0 R" for p in page_nums)
         + b"] /Count " + str(len(pages)).encode() + b" >>"),
        (catalog_num, b"<< /Type /Catalog /Pages "
         + str(pages_num).encode() + b" 0 R >>"),
    ]
    for pn, (c1, c2) in zip(page_nums, page_content_refs):
        packed.append((pn, (
            b"<< /Type /Page /Parent " + str(pages_num).encode()
            + b" 0 R /MediaBox [0 0 612 792] /Contents ["
            + str(c1).encode() + b" 0 R " + str(c2).encode()
            + b" 0 R] /Resources << /Font << /F1 "
            + str(font_num).encode() + b" 0 R >> >> >>")))

    header_parts, bodies, off = [], [], 0
    for num, body in packed:
        header_parts.append(f"{num} {off}")
        bodies.append(body)
        off += len(body) + 1
    objstm_header = (" ".join(header_parts) + "\n").encode()
    objstm_payload = objstm_header + b"\n".join(bodies) + b"\n"
    objstm_z = zlib.compress(objstm_payload)
    objstm_obj = (b"<< /Type /ObjStm /N " + str(len(packed)).encode()
                  + b" /First " + str(len(objstm_header)).encode()
                  + b" /Length " + str(len(objstm_z)).encode()
                  + b" /Filter /FlateDecode >>\nstream\n" + objstm_z
                  + b"\nendstream")

    # --- emit top-level objects, recording offsets ---
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(str(num).encode() + b" 0 obj\n" + body + b"\nendobj\n")

    for i, raw in enumerate(content_bodies, start=1):
        z = zlib.compress(raw)
        emit(i, b"<< /Length " + str(len(z)).encode()
             + b" /Filter /FlateDecode >>\nstream\n" + z
             + b"\nendstream")
    emit(objstm_num, objstm_obj)

    # --- cross-reference stream (/W [1 4 2]) ---
    size = first_page_num + len(pages)
    entries = bytearray()
    entries += (0).to_bytes(1, "big") + (0).to_bytes(4, "big") \
        + (0xFFFF).to_bytes(2, "big")                      # obj 0: free
    in_objstm = {num: idx for idx, (num, _) in enumerate(packed)}
    xref_at = len(out)
    offsets[xref_num] = xref_at
    for num in range(1, size):
        if num in in_objstm:
            entries += (b"\x02" + objstm_num.to_bytes(4, "big")
                        + in_objstm[num].to_bytes(2, "big"))
        else:
            entries += (b"\x01" + offsets[num].to_bytes(4, "big")
                        + (0).to_bytes(2, "big"))
    xref_z = zlib.compress(bytes(entries))
    emit(xref_num, b"<< /Type /XRef /Size " + str(size).encode()
         + b" /W [1 4 2] /Root " + str(catalog_num).encode()
         + b" 0 R /Length " + str(len(xref_z)).encode()
         + b" /Filter /FlateDecode >>\nstream\n" + xref_z
         + b"\nendstream")
    out += (b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n")
    return bytes(out)


_OBJ_HEAD_RE = re.compile(rb"(\d+) 0 obj")
_OBJ_HEAD_ANY_GEN_RE = re.compile(rb"(\d+)\s+\d+\s+obj")
_LENGTH_RE = re.compile(rb"/Length (\d+)")
_CONTENTS_ONE_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_OBJSTM_N_RE = re.compile(rb"/N (\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First (\d+)")
_XREF_W_RE = re.compile(rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]")
_XREF_SIZE_RE = re.compile(rb"/Size (\d+)")
_XREF_INDEX_RE = re.compile(rb"/Index\s*\[([^\]]*)\]")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


def _decode_pdf_string(raw: bytes) -> str:
    out = []
    i = 0
    n = len(raw)
    while i < n:
        b = raw[i]
        if b == 0x5C and i + 1 < n:  # backslash
            c = raw[i + 1]
            i += 2
            if c in b"nrtbf":
                out.append({0x6E: "\n", 0x72: "\r", 0x74: "\t",
                            0x62: "\b", 0x66: "\f"}[c])
            elif 0x30 <= c <= 0x37:  # octal, up to 3 digits
                digits = chr(c)
                while (i < n and len(digits) < 3
                       and 0x30 <= raw[i] <= 0x37):
                    digits += chr(raw[i])
                    i += 1
                out.append(chr(int(digits, 8)))
            elif c in (0x0A, 0x0D):  # \<newline>: line continuation —
                # contributes NO character (spec §7.3.4.2); \r\n is one
                if c == 0x0D and i < n and raw[i] == 0x0A:
                    i += 1
            else:
                out.append(chr(c))   # \( \) \\ and unknown escapes
        else:
            out.append(chr(b))
            i += 1
    return "".join(out)


#: bytes that end a /Name token (PDF delimiters + whitespace)
_NAME_END = frozenset(b"()<>[]{}/% \t\r\n\x00\x0c")


def _tokenize_content(data: bytes):
    """Yield ('str', decoded) for string literals and ('op', name) for
    operators, skipping numbers/arrays — enough for the text layer.
    A '/' introduces a NAME: the whole token through the next delimiter
    is consumed, so ``/Td`` or ``/Tj`` in a resource name can never be
    lexed as a text operator."""
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0x28:  # (
            depth = 1
            j = i + 1
            buf = bytearray()
            while j < n and depth:
                c = data[j]
                if c == 0x5C and j + 1 < n:
                    buf += data[j:j + 2]
                    j += 2
                    continue
                if c == 0x28:
                    depth += 1
                elif c == 0x29:
                    depth -= 1
                    if not depth:
                        break
                buf.append(c)
                j += 1
            yield ("str", _decode_pdf_string(bytes(buf)))
            i = j + 1
        elif b == 0x3C:  # < — hex string, or << dictionary open
            if i + 1 < n and data[i + 1] == 0x3C:
                i += 2            # << : not a string token
                continue
            j = i + 1
            digits = []
            while j < n and data[j] != 0x3E:
                c = data[j]
                if (0x30 <= c <= 0x39 or 0x41 <= c <= 0x46
                        or 0x61 <= c <= 0x66):
                    digits.append(chr(c))
                j += 1            # whitespace inside hex ignored (spec)
            if len(digits) % 2:
                digits.append("0")   # odd count: implicit trailing 0
            yield ("str", "".join(
                chr(int(digits[k] + digits[k + 1], 16))
                for k in range(0, len(digits), 2)))
            i = j + 1
        elif b == 0x2F:  # / — consume the full name token, yield nothing
            j = i + 1
            while j < n and data[j] not in _NAME_END:
                j += 1
            i = j
        elif b == 0x25:  # % — comment runs to end of line (PDF 7.2.4);
            # without this a comment containing '(' or an operator word
            # would inject text/ops into the replay
            j = i + 1
            while j < n and data[j] not in (0x0A, 0x0D):
                j += 1
            i = j
        elif (0x41 <= b <= 0x5A) or (0x61 <= b <= 0x7A) or b in (0x27, 0x2A):
            j = i
            while j < n and ((0x41 <= data[j] <= 0x5A)
                             or (0x61 <= data[j] <= 0x7A)
                             or data[j] in (0x27, 0x2A)):
                j += 1
            yield ("op", data[i:j].decode("latin-1"))
            i = j
        else:
            i += 1


def _stream_text(stream: bytes) -> str:
    """Replay text operators of one decoded content stream."""
    lines: list[list[str]] = [[]]
    pending: list[str] = []
    for kind, val in _tokenize_content(stream):
        if kind == "str":
            pending.append(val)
        else:
            if val in ("Tj", "TJ"):
                lines[-1].extend(pending)
                pending = []
            elif val in ("Td", "TD", "T*"):
                if lines[-1]:
                    lines.append([])
                pending = []
            elif val == "'":
                if lines[-1]:
                    lines.append([])
                lines[-1].extend(pending)
                pending = []
            elif val in ("Tf", "Tc", "Tw", "Tz", "TL", "Ts", "Tr"):
                pending = []   # operands were settings, not text
    return "\n".join("".join(parts) for parts in lines if parts)


def _page_contents(body: bytes) -> "list[int] | None":
    """The /Contents reference list of a page dictionary body, honoring
    both the single-reference and array forms; None if absent."""
    am = _CONTENTS_ARR_RE.search(body)
    if am:
        return [int(g) for g in _REF_RE.findall(am.group(1))]
    cm = _CONTENTS_ONE_RE.search(body)
    if cm:
        return [int(cm.group(1))]
    return None


def _expand_objstm(head: bytes, payload: bytes) -> "list[tuple[int, bytes]]":
    """The (objnum, body) members of a decoded /Type /ObjStm payload, in
    embedded order (spec §7.5.7: N pairs of ``objnum offset`` then the
    concatenated bodies starting at /First)."""
    nm = _OBJSTM_N_RE.search(head)
    fm = _OBJSTM_FIRST_RE.search(head)
    if not nm or not fm:
        raise ValueError("object stream missing /N or /First")
    n, first = int(nm.group(1)), int(fm.group(1))
    header = payload[:first].split()
    if len(header) < 2 * n:
        raise ValueError("truncated object stream header")
    pairs = [(int(header[2 * k]), int(header[2 * k + 1]))
             for k in range(n)]
    out = []
    for k, (num, off) in enumerate(pairs):
        start = first + off
        end = first + pairs[k + 1][1] if k + 1 < n else len(payload)
        if start > len(payload):
            raise ValueError("object stream offset past payload")
        out.append((num, payload[start:end]))
    return out


def _check_xref_stream(data: bytes, streams: "dict[int, bytes]",
                       stream_heads: "dict[int, bytes]",
                       known: "set[int]") -> None:
    """Decode the /Type /XRef stream at ``startxref`` (if one is there)
    and cross-check it: W fields parsed per spec §7.5.8, every type-2
    entry's container must be a known object stream, and the payload
    must cover the declared index ranges.  Truncated or inconsistent
    xref streams raise ValueError.  Object location itself is the
    linear walk (see module docstring), so this is a consistency gate,
    not the lookup path; classic ``xref`` tables are accepted as-is."""
    sm = None
    for sm_ in _STARTXREF_RE.finditer(data):
        sm = sm_                       # last startxref wins (spec)
    if not sm:
        return
    at = int(sm.group(1))
    if at >= len(data):
        raise ValueError("startxref offset past end of file")
    if data[at:at + 4] == b"xref":
        return                         # classic table — nothing to check
    hm = _OBJ_HEAD_RE.match(data, at)
    if not hm:
        return                         # not an object: leave to repair walk
    num = int(hm.group(1))
    head = stream_heads.get(num, b"")
    if b"/XRef" not in head:
        return
    wm = _XREF_W_RE.search(head)
    zm = _XREF_SIZE_RE.search(head)
    if not wm or not zm:
        raise ValueError("xref stream missing /W or /Size")
    w = [int(g) for g in wm.groups()]
    size = int(zm.group(1))
    im = _XREF_INDEX_RE.search(head)
    if im:
        idx = [int(t) for t in im.group(1).split()]
        ranges = list(zip(idx[::2], idx[1::2]))
    else:
        ranges = [(0, size)]
    payload = streams.get(num, b"")
    row = sum(w)
    need = sum(cnt for _, cnt in ranges) * row
    if len(payload) < need:
        raise ValueError("truncated xref stream payload")
    pos = 0
    for start, cnt in ranges:
        for objnum in range(start, start + cnt):
            fields, fpos = [], pos
            for width in w:
                fields.append(int.from_bytes(
                    payload[fpos:fpos + width], "big") if width else 1)
                fpos += width
            typ = fields[0]
            pos += row
            if typ == 2 and fields[1] not in stream_heads:
                raise ValueError(
                    f"xref type-2 entry {objnum} points at missing "
                    f"object stream {fields[1]}")
            if typ in (1, 2) and objnum not in known and objnum != num:
                raise ValueError(
                    f"xref declares object {objnum} absent from file")


def extract_pdf_text(data: bytes) -> "list[str]":
    """Per-page text: page objects located by /Type /Page (top-level or
    packed in object streams), their /Contents streams — single ref or
    array — decoded (FlateDecode or raw) and replayed in order."""
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF")
    streams: dict[int, bytes] = {}
    stream_heads: dict[int, bytes] = {}
    page_content: list[list[int]] = []
    known: set[int] = set()
    skipped: list[tuple[int, int]] = []   # stream bodies the walk skips
    # object walk honoring /Length: stream BYTES are sliced by the
    # declared length, never by searching for 'endstream'/'endobj' —
    # compressed output can legally contain either byte sequence, and
    # a delimiter search would truncate the stream or misalign every
    # later object.  Delimiter search remains only as the fallback for
    # streams with a missing/indirect /Length.
    pos = 0
    while True:
        m = _OBJ_HEAD_RE.search(data, pos)
        if not m:
            break
        num = int(m.group(1))
        known.add(num)
        body_start = m.end()
        s_idx = data.find(b"stream", body_start)
        e_idx = data.find(b"endobj", body_start)
        if s_idx != -1 and (e_idx == -1 or s_idx < e_idx):
            head = data[body_start:s_idx]
            ds = s_idx + len(b"stream")
            if data[ds:ds + 2] == b"\r\n":
                ds += 2
            elif data[ds:ds + 1] == b"\n":
                ds += 1
            lm = _LENGTH_RE.search(head)
            if lm:
                ln = int(lm.group(1))
                raw = data[ds:ds + ln]
                tail = data.find(b"endstream", ds + ln)
                pos = tail + len(b"endstream") if tail != -1 else ds + ln
            else:
                tail = data.find(b"endstream", ds)
                if tail == -1:
                    raise ValueError("unterminated PDF stream")
                raw = data[ds:tail]
                pos = tail + len(b"endstream")
            skipped.append((ds, pos))
            if b"/FlateDecode" in head:
                try:
                    raw = zlib.decompress(raw)
                except zlib.error as e:
                    raise ValueError(f"corrupt PDF stream: {e}")
            streams[num] = raw
            stream_heads[num] = head
            if b"/ObjStm" in head:
                for onum, obody in _expand_objstm(head, raw):
                    known.add(onum)
                    if _TYPE_PAGE_RE.search(obody):
                        refs = _page_contents(obody)
                        if refs:
                            page_content.append(refs)
        elif e_idx != -1:
            body = data[body_start:e_idx]
            if _TYPE_PAGE_RE.search(body):
                refs = _page_contents(body)
                if refs:
                    page_content.append(refs)
            pos = e_idx + len(b"endobj")
        else:
            break
    if not page_content:
        raise ValueError("no pages in PDF")
    # `known` feeds only the xref absent-object consistency check; it
    # must see headers of ANY generation (incremental updates write
    # "N M obj" with M > 0) or a valid updated file fails as corrupt.
    # The extraction walk above still targets generation-0 headers.
    # Headers count only outside the stream bodies the walk skipped: an
    # "N 0 obj" inside a stream's bytes is data, not an object.
    start = 0
    for lo, hi in skipped + [(len(data), len(data))]:
        known.update(int(m.group(1)) for m in
                     _OBJ_HEAD_ANY_GEN_RE.finditer(data, start, lo))
        start = hi
    _check_xref_stream(data, streams, stream_heads, known)
    # /Contents array semantics: one page's streams form a single
    # content stream when concatenated with intervening whitespace
    # (spec §7.8.2) — replay the concatenation, not each part.
    return [_stream_text(b" ".join(streams.get(cn, b"") for cn in refs))
            for refs in page_content]
