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


@pytest.mark.parametrize("h,w", [(10, 10), (0, 10)])
def test_png_inflate_stops_at_the_declared_size(h, w):
    """A PNG whose IDAT inflates far past its IHDR raster (10x10 or an
    empty raster declared, 256 MB inflated) is a ``decode:`` error, and
    the decoder never holds the inflated stream."""
    import tracemalloc
    import zlib

    from fin_ocr_sdk_spark.plans.scan import scan_check
    deflate = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    idat = b"".join(deflate.compress(zeros) for _ in range(256))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    bomb = (codecs._PNG_SIG + codecs._png_chunk(b"IHDR", ihdr)
            + codecs._png_chunk(b"IDAT", idat + deflate.flush())
            + codecs._png_chunk(b"IEND", b""))
    tracemalloc.start()
    try:
        res = scan_check(bomb, "png")
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert not res.ok and res.error.startswith("decode:"), res.error
    assert peak < 16 << 20, f"peak {peak} bytes"


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


# ------------------------------------------- multi-component JPEG streams

def _zz_blocks(plane: np.ndarray, quant: np.ndarray) -> list:
    """[by][bx] -> 64 zigzag-ordered quantized coefficients of a plane
    whose sides are multiples of 8."""
    from fin_ocr_sdk_spark.sources import jpeg as J
    ph, pw = plane.shape
    blocks = (plane.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8).astype(np.float64) - 128.0)
    q = np.round(J._forward_dct(blocks) / quant).astype(np.int64)
    return q.reshape(ph // 8, pw // 8, 64)[:, :, J._ZIGZAG].tolist()


def _entropy(units: list, restart: int, put_unit, new_state) -> bytes:
    """Entropy-coded ``units``, a new bit writer and coder state every
    ``restart`` units (0: never), segments joined by RSTn markers."""
    from fin_ocr_sdk_spark.sources import jpeg as J
    step = restart or max(1, len(units))
    segs = []
    for k in range(0, len(units), step):
        bw = J._BitWriter()
        st = new_state(bw)
        for u in units[k:k + step]:
            put_unit(bw, st, u)
        if hasattr(st, "finish"):
            st.finish()
        segs.append(bw.flush())
    return b"".join(seg + (bytes([0xFF, 0xD0 + i % 8])
                           if i < len(segs) - 1 else b"")
                    for i, seg in enumerate(segs))


def _put_dc(bw, codes: dict, diff: int) -> None:
    size = abs(diff).bit_length()
    bw.put(*codes[size])
    if size:
        bw.put(diff if diff > 0 else diff + (1 << size) - 1, size)


def _put_ac(bw, codes: dict, blk: list) -> None:
    last = max([k for k in range(1, 64) if blk[k]], default=0)
    run = 0
    for k in range(1, last + 1):
        v = blk[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.put(*codes[0xF0])
            run -= 16
        size = abs(v).bit_length()
        bw.put(*codes[(run << 4) | size])
        bw.put(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last < 63:
        bw.put(*codes[0x00])


def _jpeg_stream(w: int, h: int, sampling: list, progressive: bool = False,
                 restart: int = 0, seed: int = 0
                 ) -> "tuple[bytes, np.ndarray]":
    """A ``w`` x ``h`` JPEG whose components have the (h, v) sampling
    factors in ``sampling`` (component 0 is luma) and seeded content,
    plus the luma plane it encodes.  Baseline: one interleaved scan.
    Progressive: an interleaved DC scan, then one full-band AC scan
    per component, so both forms carry the same coefficients."""
    from fin_ocr_sdk_spark.sources import jpeg as J
    rng = np.random.default_rng(seed)
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mx_n, my_n = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    quant = J._scaled_quant(85)
    planes = []
    for ch, cv in sampling:
        yy, xx = np.mgrid[0:my_n * cv * 8, 0:mx_n * ch * 8]
        f = rng.uniform(0.02, 0.2, 2)
        planes.append(np.clip(128 + 60 * np.sin(xx * f[0]) * np.cos(yy * f[1])
                              + rng.normal(0, 12, xx.shape),
                              0, 255).astype(np.uint8))
    comps = [_zz_blocks(p, quant) for p in planes]
    dc = J._build_codes(J._DC_LUMA_BITS, J._DC_LUMA_VALS)
    mcus = [(my, mx) for my in range(my_n) for mx in range(mx_n)]

    def mcu_blocks(c, my, mx):
        ch, cv = sampling[c]
        return [comps[c][my * cv + j][mx * ch + i]
                for j in range(cv) for i in range(ch)]

    def put_mcu(with_ac):
        def put(bw, preds, m):
            for c in range(len(sampling)):
                for blk in mcu_blocks(c, *m):
                    _put_dc(bw, dc, blk[0] - preds[c])
                    preds[c] = blk[0]
                    if with_ac:
                        _put_ac(bw, ac, blk)
        return put

    new_preds = lambda bw: [0] * len(sampling)  # noqa: E731
    every = list(range(len(sampling)))
    if progressive:
        ac_bits, ac_vals = J._PROG_AC_BITS, J._PROG_AC_VALS
        ac = J._build_codes(ac_bits, ac_vals)
        scans = [(every, (0, 0), _entropy(mcus, restart, put_mcu(False),
                                          new_preds))]
        for c, (ch, cv) in enumerate(sampling):
            cw, chh = -(-w * ch // hmax), -(-h * cv // vmax)
            units = [comps[c][by][bx] for by in range(-(-chh // 8))
                     for bx in range(-(-cw // 8))]
            scans.append(([c], (1, 63), _entropy(
                units, restart,
                lambda bw, sc, blk: sc.first_block(blk, range(1, 64), 0),
                lambda bw: J._ProgACScan(bw, ac))))
    else:
        ac_bits, ac_vals = J._AC_LUMA_BITS, J._AC_LUMA_VALS
        ac = J._build_codes(ac_bits, ac_vals)
        scans = [(every, (0, 63), _entropy(mcus, restart, put_mcu(True),
                                           new_preds))]
    parts = [b"\xff\xd8",
             b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
             + bytes(int(x) for x in quant.reshape(-1)[J._ZIGZAG]),
             (b"\xff\xc2" if progressive else b"\xff\xc0")
             + struct.pack(">HBHHB", 8 + 3 * len(sampling), 8, h, w,
                           len(sampling))
             + b"".join(bytes([c + 1, (ch << 4) | cv, 0])
                        for c, (ch, cv) in enumerate(sampling)),
             J._dht_segment(0x00, J._DC_LUMA_BITS, J._DC_LUMA_VALS),
             J._dht_segment(0x10, ac_bits, ac_vals)]
    if restart:
        parts.append(b"\xff\xdd" + struct.pack(">HH", 4, restart))
    for cs, (ss, se), entropy in scans:
        parts += [b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(cs), len(cs))
                  + b"".join(bytes([c + 1, 0x00]) for c in cs)
                  + bytes([ss, se, 0]), entropy]
    parts.append(b"\xff\xd9")
    return b"".join(parts), planes[0]


def _seeded_gray(w: int, h: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = (128 + 70 * np.sin(xx / 5.0) * np.cos(yy / 7.0)
           + rng.normal(0, 20, (h, w)))
    return np.clip(img, 0, 255).astype(np.uint8)


_S420 = [(2, 2), (1, 1), (1, 1)]      # 4:2:0
_SUB_LUMA = [(1, 1), (2, 2), (1, 1)]  # luma below the frame's max factors
_SUB_LUMA_V = [(1, 2), (2, 1)]        # luma subsampled horizontally only

# sha256[:16] of (shape, pixels) for each decode, recorded before the
# baseline and progressive decoders shared one luma tail;
# base_gray_37x53 re-recorded once the encoders' forward DCT stopped
# depending on the BLAS kernel (it pinned the Haswell kernel's bytes)
_JPEG_DIGESTS = {
    "base_gray_37x53": "30fb4a447f30ba20",
    "base_gray_64x48": "1dce90a525898272",
    "base_420_45x29": "2411f9e35f816540",
    "base_420_dri_45x29": "4dfdc8732d0df605",
    "base_sub_luma_45x29": "b53e9283e5fed4fe",
    "base_sub_luma_v_33x19": "8ee6b07def77b23d",
}


def _jpeg_case(name: str, progressive: bool) -> bytes:
    from fin_ocr_sdk_spark.sources.jpeg import encode_jpeg_progressive
    gray = {"base_gray_37x53": (37, 53, 1, 85),
            "base_gray_64x48": (64, 48, 2, 60)}
    if name in gray:
        w, h, seed, q = gray[name]
        enc = encode_jpeg_progressive if progressive else encode_jpeg
        return enc(_seeded_gray(w, h, seed), q)
    args = {"base_420_45x29": (45, 29, _S420, 0, 3),
            "base_420_dri_45x29": (45, 29, _S420, 2, 4),
            "base_sub_luma_45x29": (45, 29, _SUB_LUMA, 0, 5),
            "base_sub_luma_v_33x19": (33, 19, _SUB_LUMA_V, 0, 6)}[name]
    w, h, sampling, restart, seed = args
    if progressive and restart:
        restart += 1        # block-unit restarts, a different interval
    return _jpeg_stream(w, h, sampling, progressive, restart, seed)[0]


@pytest.mark.parametrize("progressive", [False, True])
@pytest.mark.parametrize("name", sorted(_JPEG_DIGESTS))
def test_jpeg_luma_tail_digests(name, progressive):
    """Both decoders' output is pinned: 1- and 3-component frames,
    4:2:0, subsampled luma (nearest upsampling) and DRI restarts.  The
    progressive streams carry the baseline's coefficients (a full-band
    AC scan per component, or the 6-scan grayscale script), so each
    case has one digest."""
    import hashlib
    out = decode_jpeg(_jpeg_case(name, progressive))
    digest = hashlib.sha256(repr(out.shape).encode()
                            + out.tobytes()).hexdigest()[:16]
    assert digest == _JPEG_DIGESTS[name]


_ENCODE_SCRIPT = """
import hashlib
import numpy as np
from fin_ocr_sdk_spark.sources.jpeg import encode_jpeg, encode_jpeg_progressive
rng = np.random.default_rng(11)
hsh = hashlib.sha256()
for (h, w), q in (((53, 37), 85), ((48, 64), 60), ((200, 320), 92)):
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.clip(128 + 70 * np.sin(xx / 5.0) * np.cos(yy / 7.0)
                  + rng.normal(0, 20, (h, w)), 0, 255).astype(np.uint8)
    for enc in (encode_jpeg, encode_jpeg_progressive):
        hsh.update(enc(img, q))
print(hsh.hexdigest())
"""


def test_jpeg_encoding_is_independent_of_the_blas_kernel():
    """The encoders' bytes do not depend on which OpenBLAS kernel the
    host picks (fixture digests pin them).  Skips when a forced kernel
    cannot start on this CPU."""
    import os
    import subprocess
    import sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {}
    for core in ("Haswell", "Sandybridge"):
        env = dict(os.environ, OPENBLAS_CORETYPE=core, PYTHONPATH=repo)
        res = subprocess.run([sys.executable, "-c", _ENCODE_SCRIPT],
                             env=env, cwd=repo, capture_output=True,
                             text=True, timeout=120)
        if res.returncode != 0:
            pytest.skip(f"OPENBLAS_CORETYPE={core} did not start: "
                        f"{res.stderr[-200:]}")
        out[core] = res.stdout.strip()
    assert out["Haswell"] == out["Sandybridge"]


@pytest.mark.parametrize("sampling", [_S420, _SUB_LUMA, _SUB_LUMA_V])
def test_jpeg_multi_component_luma_is_the_encoded_plane(sampling):
    """The decoded luma of a multi-component frame is the encoded luma
    plane (to quantization error), cropped or nearest-upsampled to the
    frame, for baseline and progressive streams alike."""
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    lh, lv = sampling[0]
    for restart in (0, 2):
        data, luma = _jpeg_stream(45, 29, sampling, restart=restart, seed=9)
        base = decode_jpeg(data)
        prog = decode_jpeg(_jpeg_stream(45, 29, sampling, True, restart,
                                        seed=9)[0])
        assert base.shape == (29, 45)
        assert np.array_equal(base, prog)
        want = np.repeat(np.repeat(luma, vmax // lv, 0), hmax // lh, 1)
        err = np.abs(base.astype(int) - want[:29, :45])
        assert err.mean() < 8


@pytest.mark.parametrize("w, h", [(37, 53), (320, 200)])
def test_jpeg_non_interleaved_scan_is_one_block_per_mcu(w, h):
    """A single-component scan's MCU is one 8x8 block in raster order
    over the component's own block grid (T.81 A.2.2), whatever the
    SOF's sampling factors: patching a grayscale stream's sampling byte
    from 0x11 to 0x22 must not change the decode."""
    img = _seeded_gray(w, h, 7)
    data = encode_jpeg(img, 92)
    sof = data.index(b"\xff\xc0")
    assert data[sof + 11] == 0x11     # component 1: H=1, V=1
    patched = bytearray(data)
    patched[sof + 11] = 0x22
    base = decode_jpeg(data)
    out = decode_jpeg(bytes(patched))
    assert out.shape == img.shape
    err = np.abs(base.astype(int) - img).mean()
    assert np.abs(out.astype(int) - img).mean() == err
    assert err < 4
