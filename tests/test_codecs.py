"""JPEG/GIF codec tests (the lossless PNG/BMP/TIFF round trips are
covered implicitly by every fixture-driven test; these cover the
round-2 pure-python codecs directly)."""

import struct

import numpy as np
import pytest

from fin_ocr_sdk_spark.sources import codecs
from fin_ocr_sdk_spark.sources.gif import decode_gif, encode_gif
from fin_ocr_sdk_spark.sources.jpeg import decode_jpeg, encode_jpeg


def _check_like(rng) -> np.ndarray:
    img = np.full((200, 320), 235, np.uint8)
    img[150:170, 20:300:10] = 10          # glyph-ish bars
    img[30:60, :] = np.linspace(0, 255, 320, dtype=np.uint8)[None, :]
    img[80:120, 100:220] = rng.integers(0, 256, (40, 120), dtype=np.uint8)
    return img


def test_gif_round_trip_exact():
    rng = np.random.default_rng(7)
    for img in (_check_like(rng),
                rng.integers(0, 256, (17, 23), dtype=np.uint8),
                rng.integers(0, 256, (256, 256), dtype=np.uint8),  # forces
                np.zeros((1, 1), dtype=np.uint8)):  # LZW dict reset ^
        assert np.array_equal(decode_gif(encode_gif(img)), img)


def test_gif_interlaced_decode():
    """Decoder must reorder interlaced row passes (GIF89a appendix E)."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (37, 19), dtype=np.uint8)
    data = bytearray(encode_gif(img))
    # re-encode the pixel data in interlace order and set the flag
    ih = img.shape[0]
    rows = (list(range(0, ih, 8)) + list(range(4, ih, 8)) +
            list(range(2, ih, 4)) + list(range(1, ih, 2)))
    inter = encode_gif(img[rows])
    # splice: header+palette from `data` (identical), descriptor flag |= 0x40
    desc_off = 13 + 256 * 3
    assert data[desc_off] == 0x2C
    patched = bytearray(inter)
    patched[desc_off + 9] |= 0x40
    assert np.array_equal(decode_gif(bytes(patched)), img)


def test_gif_dispatch_and_sniff():
    img = np.random.default_rng(1).integers(0, 256, (12, 12), dtype=np.uint8)
    data = codecs.encode_image(img, "gif")
    assert np.array_equal(codecs.decode_image(data), img)  # sniffed
    assert np.array_equal(codecs.decode_image(data, "gif"), img)


def test_jpeg_round_trip_close():
    rng = np.random.default_rng(11)
    img = _check_like(rng)
    data = encode_jpeg(img, quality=92)
    out = decode_jpeg(data)
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    # sharp-edge ringing bounded; flat paper region essentially exact
    assert err[150:170].max() <= 16
    assert err[180:].max() <= 2
    assert err.mean() < 1.0
    assert err.max() <= 24


def test_jpeg_odd_sizes_and_quality():
    rng = np.random.default_rng(13)
    for shape in ((8, 8), (9, 15), (64, 1), (1, 64)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, 95))
        assert out.shape == shape
    flat = np.full((40, 56), 128, np.uint8)
    assert np.abs(decode_jpeg(encode_jpeg(flat, 50)).astype(int)
                  - 128).max() <= 1


def test_jpeg_dispatch_and_sniff():
    img = np.full((24, 24), 200, np.uint8)
    data = codecs.encode_image(img, "jpg")  # alias
    assert codecs.decode_image(data).shape == (24, 24)


def test_jpeg_restart_markers():
    """DRI/RSTn handling: re-encode with restart intervals by splicing a
    DRI segment and restart markers between MCU rows is out of scope for
    the encoder, so exercise the decoder's restart path synthetically:
    two single-MCU images whose entropy segments are joined with RST0."""
    img = np.full((8, 8), 100, np.uint8)
    base = encode_jpeg(img, 90)
    # locate SOS payload and EOI
    sos = base.index(b"\xff\xda")
    (slen,) = struct.unpack(">H", base[sos + 2:sos + 4])
    entropy = base[sos + 2 + slen:-2]
    head = base[:sos]
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 1)  # restart every MCU
    sof = head.index(b"\xff\xc0")
    # widen frame to 2 MCUs tall (16x8) so two entropy segments are read
    head2 = bytearray(head)
    head2[sof + 5:sof + 7] = struct.pack(">H", 16)
    patched = (bytes(head2) + dri + base[sos:sos + 2 + slen] +
               entropy + b"\xff\xd0" + entropy + b"\xff\xd9")
    out = decode_jpeg(patched)
    assert out.shape == (16, 8)
    assert np.abs(out.astype(int) - 100).max() <= 1


def test_unknown_format_raises():
    with pytest.raises(ValueError):
        codecs.decode_image(b"\x00\x01garbage")
    with pytest.raises(ValueError):
        codecs.encode_image(np.zeros((4, 4), np.uint8), "webp")


def test_truncated_streams_never_hang():
    """Every prefix of a valid JPEG/GIF either decodes (zero-filled
    tail) or raises — no hangs, no uncaught index errors outside
    ValueError/struct.error."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (48, 64), dtype=np.uint8)
    j = encode_jpeg(img, 90)
    g = encode_gif(img)
    for data, dec in ((j, decode_jpeg), (g, decode_gif)):
        for cut in range(10, len(data), max(1, len(data) // 40)):
            try:
                out = dec(data[:cut])
                assert out.dtype == np.uint8
            except (ValueError, struct.error, IndexError):
                pass


def test_decode_image_failure_contract_is_valueerror_only():
    """decode_image normalizes raw-decoder IndexError/struct.error to
    ValueError so one corrupt image becomes a micr:error row, never a
    failed Spark task (pipeline failure contract)."""
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (32, 40), dtype=np.uint8)
    for data, fmt in ((encode_jpeg(img, 90), "jpeg"),
                      (encode_gif(img), "gif")):
        for cut in range(4, len(data), max(1, len(data) // 25)):
            try:
                codecs.decode_image(data[:cut], fmt)
            except ValueError:
                pass   # the ONLY permitted failure type


def test_jpeg_truncation_and_corruption_never_escape_valueerror():
    """Robustness of the inlined entropy decoder: any truncation of a
    valid stream, and byte corruptions inside the entropy segment,
    either decode to SOME raster or raise ValueError through
    codecs.decode_image — never IndexError/struct.error/KeyError (which a
    Spark task would surface as a crash instead of a micr:error row)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(64, 96)).astype(np.uint8)
    data = bytearray(encode_jpeg(img, quality=80))
    for cut in range(2, len(data), max(1, len(data) // 60)):
        try:
            codecs.decode_image(bytes(data[:cut]), "jpeg")
        except ValueError:
            pass
    for _ in range(80):
        mut = bytearray(data)
        i = int(rng.integers(2, len(mut)))
        mut[i] = int(rng.integers(0, 256))
        try:
            codecs.decode_image(bytes(mut), "jpeg")
        except ValueError:
            pass


def test_jpeg_corrupt_headers_raise_valueerror():
    """Header corruptions that used to escape as ZeroDivisionError
    (zero sampling factors) or StopIteration (SOS referencing an
    unknown component) must surface as ValueError — one bad image is a
    micr:error row, not a dead Spark task."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(32, 48)).astype(np.uint8)
    data = bytearray(encode_jpeg(img, quality=80))
    sof = data.find(b"\xff\xc0")
    assert sof > 0
    # SOF0 layout after marker+len: precision(1) h(2) w(2) nc(1) then
    # per-component [id, hv, tq]
    hv_off = sof + 2 + 2 + 1 + 2 + 2 + 1 + 1
    bad = bytearray(data)
    bad[hv_off] = 0x00          # zero sampling factors
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(bad), "jpeg")
    sos = data.find(b"\xff\xda")
    bad2 = bytearray(data)
    bad2[sos + 2 + 2 + 1] = 0x77  # SOS component id -> unknown
    with pytest.raises(ValueError):
        codecs.decode_image(bytes(bad2), "jpeg")


def test_minhash_band_signatures_tolerates_non_strings():
    from fin_ocr_sdk_spark.functions.minhash import band_signatures
    texts = ["one two three four five", None, float("nan"),
             "alpha beta gamma delta"]
    keep, sig = band_signatures(texts)
    assert keep == [0, 3]
    assert sig.shape == (2, 4)


def test_jpeg_progressive_bit_identical_to_baseline():
    """Successive approximation is exact at completion (two's-complement
    DC, sign-magnitude AC), so the 6-scan progressive decode must equal
    the baseline decode of the same image pixel-for-pixel — flat images
    exercise long EOB runs (EOBn symbols with r>0), noisy regions
    exercise ZRL and AC correction bits."""
    from fin_ocr_sdk_spark.sources.jpeg import encode_jpeg_progressive
    rng = np.random.default_rng(17)
    cases = [
        _check_like(rng),
        np.full((40, 72), 200, np.uint8),                    # long EOBRUNs
        rng.integers(0, 256, (33, 41), dtype=np.uint8),      # dense AC
        np.zeros((1, 1), np.uint8),
        np.linspace(0, 255, 64, dtype=np.uint8)[None, :].repeat(24, 0),
    ]
    for img in cases:
        base = decode_jpeg(encode_jpeg(img, 92))
        prog = decode_jpeg(encode_jpeg_progressive(img, 92))
        assert np.array_equal(base, prog)


def test_jpeg_progressive_sniff_and_dispatch():
    from fin_ocr_sdk_spark.sources.jpeg import encode_jpeg_progressive
    img = np.full((24, 24), 180, np.uint8)
    data = encode_jpeg_progressive(img)
    assert data[3] != 0xC0  # actually SOF2 somewhere in the stream
    assert b"\xff\xc2" in data
    out = codecs.decode_image(data)   # magic sniff: same FFD8 signature
    assert out.shape == (24, 24)


def test_jpeg_progressive_truncation_and_corruption_contract():
    """Same failure contract as baseline: every truncation and random
    single-byte corruption of a progressive file either decodes to some
    raster or raises ValueError via codecs.decode_image — never an
    uncaught IndexError/struct.error/StopIteration."""
    from fin_ocr_sdk_spark.sources.jpeg import encode_jpeg_progressive
    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (48, 64), dtype=np.uint8)
    data = bytearray(encode_jpeg_progressive(img, 85))
    for cut in range(2, len(data), max(1, len(data) // 60)):
        try:
            codecs.decode_image(bytes(data[:cut]), "jpeg")
        except ValueError:
            pass
    for _ in range(80):
        mut = bytearray(data)
        i = int(rng.integers(2, len(mut)))
        mut[i] = int(rng.integers(0, 256))
        try:
            codecs.decode_image(bytes(mut), "jpeg")
        except ValueError:
            pass


def test_jpeg_frame_size_cap_is_valueerror():
    """A corrupted SOF dimension (e.g. height byte flip to 0xFF18)
    would otherwise allocate the full coefficient store — gigabytes of
    lists on the progressive path — before any entropy validation;
    MemoryError is not in decode_image's ValueError contract, so
    oversized frames must be rejected at the header."""
    from fin_ocr_sdk_spark.sources.jpeg import encode_jpeg_progressive
    for enc in (encode_jpeg, encode_jpeg_progressive):
        data = bytearray(enc(np.full((16, 16), 128, np.uint8)))
        sof = data.find(b"\xff\xc0")
        if sof == -1:
            sof = data.find(b"\xff\xc2")
        # SOF payload: len(2) precision(1) height(2) width(2)
        data[sof + 5:sof + 7] = b"\xff\x18"   # height 65304
        data[sof + 7:sof + 9] = b"\xff\x18"   # width 65304
        with pytest.raises(ValueError, match="33 MP"):
            decode_jpeg(bytes(data))


def _bmp24(img: np.ndarray) -> bytes:
    """Bottom-up 24-bit BMP of a gray image (B = G = R)."""
    h, w = img.shape
    row_size = (w * 3 + 3) & ~3
    pad = b"\x00" * (row_size - 3 * w)
    rows = b"".join(np.repeat(img[y], 3).tobytes() + pad
                    for y in range(h - 1, -1, -1))
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                      2835, 2835, 0, 0)
    return (struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
            + dib + rows)


@pytest.mark.parametrize("bpp", [8, 24])
@pytest.mark.parametrize("w", [5, 6, 7])
def test_bmp_without_final_row_padding(bpp, w):
    """Writers may omit the last row's padding bytes: the file still
    decodes to the padded file's pixels; one byte less is an error."""
    img = np.random.default_rng(w).integers(0, 256, (4, w), dtype=np.uint8)
    data = codecs.encode_bmp(img) if bpp == 8 else _bmp24(img)
    pad = -(w * bpp // 8) % 4
    assert pad
    stripped = data[:-pad]
    np.testing.assert_array_equal(codecs.decode_bmp(stripped),
                                  codecs.decode_bmp(data))
    np.testing.assert_array_equal(codecs.decode_bmp(data), img)
    with pytest.raises(ValueError):
        codecs.decode_bmp(stripped[:-1])


def _tiff(img: np.ndarray, order: str, strip_rows: int, offset_type: int,
          spp: int = 1, bits: int = 8) -> bytes:
    """An uncompressed TIFF of ``img`` (h, w) or (h, w, spp) written in
    strips of ``strip_rows`` rows, StripOffsets/StripByteCounts of
    ``offset_type`` (3 SHORT, 4 LONG) — the layouts third-party
    writers emit and :func:`codecs.encode_tiff` never does."""
    e = "<" if order == "II" else ">"
    h, w = img.shape[:2]
    strips = [img[y:y + strip_rows].tobytes()
              for y in range(0, h, strip_rows)]
    code = "H" if offset_type == 3 else "I"
    n_entries = 9
    ifd_at = 8
    arrays_at = ifd_at + 2 + 12 * n_entries + 4
    arr_size = struct.calcsize(code) * len(strips)
    out_of_line = arr_size > 4
    pixels_at = arrays_at + (2 * arr_size if out_of_line else 0)
    offsets, at = [], pixels_at
    for s in strips:
        offsets.append(at)
        at += len(s)

    def field(typ, values):
        c = "H" if typ == 3 else "I"
        raw = struct.pack(f"{e}{len(values)}{c}", *values)
        return raw if len(raw) > 4 else raw.ljust(4, b"\0")

    def entry(tag, typ, values, out_at=None):
        payload = (struct.pack(f"{e}I", out_at) if out_at is not None
                   else field(typ, values))
        return struct.pack(f"{e}HHI", tag, typ, len(values)) + payload

    counts = [len(s) for s in strips]
    off_at = arrays_at if out_of_line else None
    cnt_at = arrays_at + arr_size if out_of_line else None
    ifd = b"".join([
        struct.pack(f"{e}H", n_entries),
        entry(256, 3, [w]), entry(257, 3, [h]),
        entry(258, 3, [bits]), entry(259, 3, [1]),
        entry(262, 3, [1 if spp == 1 else 2]),
        entry(273, offset_type, offsets, off_at),
        entry(277, 3, [spp]), entry(278, 3, [strip_rows]),
        entry(279, offset_type, counts, cnt_at),
        struct.pack(f"{e}I", 0)])
    arrays = (struct.pack(f"{e}{len(offsets)}{code}", *offsets)
              + struct.pack(f"{e}{len(counts)}{code}", *counts)
              if out_of_line else b"")
    return (order.encode() + struct.pack(f"{e}HI", 42, ifd_at) + ifd
            + arrays + b"".join(strips))


@pytest.mark.parametrize("order", ["II", "MM"])
@pytest.mark.parametrize("offset_type", [3, 4])
@pytest.mark.parametrize("strip_rows", [3, 4, 6])
def test_tiff_strip_layouts_decode_exactly(order, offset_type, strip_rows):
    """8x6 gray in 2 strips (the offsets table is out of line, and used
    to be read as pixels), 2 uneven strips, and one strip."""
    img = np.arange(48, dtype=np.uint8).reshape(6, 8) * 5
    data = _tiff(img, order, strip_rows, offset_type)
    assert np.array_equal(codecs.decode_tiff(data), img)
    assert np.array_equal(codecs.decode_image(data, "tiff"), img)


def test_tiff_single_strip_round_trip_unchanged():
    rng = np.random.default_rng(5)
    for shape in ((1, 1), (6, 8), (37, 61)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(codecs.decode_tiff(codecs.encode_tiff(img)),
                              img)


@pytest.mark.parametrize("spp,bits", [(3, 8), (1, 16), (1, 1)])
def test_tiff_non_gray_layouts_are_decode_errors(spp, bits):
    """RGB, 16-bit and bilevel TIFFs are refused, and scan as one
    ``decode:`` error instead of a garbage gray image."""
    from fin_ocr_sdk_spark.plans.scan import scan_check
    rng = np.random.default_rng(9)
    shape = (6, 8, spp) if spp > 1 else (6, 8)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    data = _tiff(img, "II", 6, 4, spp=spp, bits=bits)
    with pytest.raises(ValueError, match="sample layout"):
        codecs.decode_tiff(data)
    res = scan_check(data, "tiff")
    assert not res.ok and res.error.startswith("decode: "), res.error
