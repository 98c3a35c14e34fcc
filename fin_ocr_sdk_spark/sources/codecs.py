"""Image codecs — pure stdlib/NumPy grayscale PNG, BMP, TIFF (here),
plus baseline JPEG (jpeg.py) and GIF-LZW (gif.py) — all five formats
the reference decodes via Jimp (/root/reference/src/image.ts:63-87,
src/util.ts:60-77), with no imaging library in this environment.

All encoders/decoders produce/consume single-channel 8-bit grayscale,
the only pixel format the OCR pipeline consumes (it grayscales first
thing); color inputs are reduced with the 0.299/0.587/0.114 weights.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ------------------------------------------------------------------ PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload +
            struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png(img: np.ndarray) -> bytes:
    """8-bit grayscale PNG, filter type 0 per scanline."""
    assert img.dtype == np.uint8 and img.ndim == 2
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # gray, no interlace
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr) +
            _png_chunk(b"IDAT", zlib.compress(raw, 6)) +
            _png_chunk(b"IEND", b""))


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    width = height = bit_depth = color_type = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack(
                ">IIBB", payload[:10])
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if width is None or bit_depth != 8:
        raise ValueError("unsupported PNG (need 8-bit)")
    if not (width and height):
        raise ValueError(f"empty PNG raster {width}x{height}")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    # inflate no further than the declared raster (a size of 0 would
    # mean no bound): a small IDAT that inflates to gigabytes is
    # rejected before it is held in memory
    size = height * (stride + 1)
    inflate = zlib.decompressobj()
    raw = inflate.decompress(idat, size)
    if len(raw) != size or inflate.unconsumed_tail:
        raise ValueError(f"PNG data does not match its {width}x{height} "
                         "header")
    # fast path: all scanline filters are 0 (our encoder's output) →
    # one bulk reshape instead of the per-row filter loop
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    if not arr[:, 0].any():
        img = arr[:, 1:].reshape(height, width, channels)
        if channels == 1:
            return img[:, :, 0].copy()
        if channels >= 3:
            w8 = np.array([0.299, 0.587, 0.114])
            return np.clip(np.round(img[:, :, :3] @ w8), 0, 255).astype(np.uint8)
        return img[:, :, 0].copy()
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos:pos + stride], dtype=np.uint8).copy()
        pos += stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            line = (line.astype(np.int16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((int(left) + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - channels]) if i >= channels else 0
                b = int(prev[i])
                c = int(prev[i - channels]) if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {ftype}")
        out[y] = line
        prev = line
    img = out.reshape(height, width, channels)
    if channels == 1:
        return img[:, :, 0]
    if channels >= 3:
        # RGB(A) → gray
        w8 = np.array([0.299, 0.587, 0.114])
        return np.clip(np.round(img[:, :, :3] @ w8), 0, 255).astype(np.uint8)
    return img[:, :, 0]  # gray+alpha → gray


# ------------------------------------------------------------------ BMP

def encode_bmp(img: np.ndarray) -> bytes:
    """8-bit palette (grayscale ramp) BMP, bottom-up rows, 4-byte padded."""
    assert img.dtype == np.uint8 and img.ndim == 2
    h, w = img.shape
    row_size = (w + 3) & ~3
    palette = b"".join(bytes([i, i, i, 0]) for i in range(256))
    pixel_offset = 14 + 40 + len(palette)
    size = pixel_offset + row_size * h
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_offset)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, row_size * h,
                      2835, 2835, 256, 0)
    rows = b"".join(
        img[y].tobytes() + b"\x00" * (row_size - w)
        for y in range(h - 1, -1, -1))
    return header + dib + palette + rows


def _bmp_rows(data: bytes, offset: int, h: int, row_size: int,
              row_bytes: int) -> np.ndarray:
    """The (h, row_size) padded pixel rows at ``offset``.  Some writers
    omit the final row's padding, so only ``(h-1)*row_size + row_bytes``
    bytes are required; the missing padding is zero-filled.  A shorter
    buffer raises ValueError on the reshape."""
    full = row_size * h
    buf = data[offset:offset + full]
    if h and (h - 1) * row_size + row_bytes <= len(buf) < full:
        buf = bytes(buf) + bytes(full - len(buf))
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, row_size)


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (pixel_offset,) = struct.unpack("<I", data[10:14])
    dib_size, w, h, _planes, bpp = struct.unpack("<IiiHH", data[14:30])
    top_down = h < 0
    h = abs(h)
    if bpp == 8:
        palette_off = 14 + dib_size
        palette = np.frombuffer(
            data[palette_off:palette_off + 256 * 4], dtype=np.uint8
        ).reshape(-1, 4)[:, :3]
        gray_palette = np.clip(
            np.round(palette @ np.array([0.114, 0.587, 0.299])), 0, 255
        ).astype(np.uint8)
        # one frombuffer over the whole pixel region, strip the 4-byte
        # row padding, then one palette gather; bottom-up files are a
        # view flip
        px = _bmp_rows(data, pixel_offset, h, (w + 3) & ~3, w)[:, :w]
        out = gray_palette[px if top_down else px[::-1]]
        return np.ascontiguousarray(out)
    if bpp == 24:
        wts = np.array([0.114, 0.587, 0.299])  # BGR order
        px = _bmp_rows(data, pixel_offset, h, (w * 3 + 3) & ~3,
                       w * 3)[:, :w * 3]
        px = (px if top_down else px[::-1]).reshape(-1, 3)
        # (N, 3) @ (3,) keeps the per-pixel dot shape (and summation
        # order) of the old per-row (w, 3) @ (3,) exactly
        gray = np.clip(np.round(px @ wts), 0, 255).astype(np.uint8)
        return gray.reshape(h, w)
    raise ValueError(f"unsupported BMP bpp={bpp}")


# ----------------------------------------------------------------- TIFF

def encode_tiff(img: np.ndarray) -> bytes:
    """Uncompressed little-endian grayscale TIFF, single strip."""
    assert img.dtype == np.uint8 and img.ndim == 2
    h, w = img.shape
    pixels = img.tobytes()
    # header (8) + pixels, then IFD
    ifd_offset = 8 + len(pixels)
    header = struct.pack("<2sHI", b"II", 42, ifd_offset)

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tag, typ, count, value)

    entries = [
        entry(256, 3, 1, w),            # ImageWidth
        entry(257, 3, 1, h),            # ImageLength
        entry(258, 3, 1, 8),            # BitsPerSample
        entry(259, 3, 1, 1),            # Compression: none
        entry(262, 3, 1, 1),            # Photometric: BlackIsZero
        entry(273, 4, 1, 8),            # StripOffsets → pixels at 8
        entry(277, 3, 1, 1),            # SamplesPerPixel
        entry(278, 3, 1, h),            # RowsPerStrip
        entry(279, 4, 1, len(pixels)),  # StripByteCounts
    ]
    ifd = (struct.pack("<H", len(entries)) + b"".join(entries) +
           struct.pack("<I", 0))
    return header + pixels + ifd


_TIFF_TYPES = {1: "B", 3: "H", 4: "I"}  # BYTE, SHORT, LONG


def decode_tiff(data: bytes) -> np.ndarray:
    """Uncompressed 8-bit grayscale TIFF, any strip layout, either byte
    order.  Multi-strip files read the StripOffsets/StripByteCounts
    arrays (stored out of line once they exceed 4 bytes) and join the
    strips; other sample layouts (RGB, 16-bit, bilevel) raise
    ValueError rather than decode to a wrong gray image."""
    if data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF")
    e = "<" if data[:2] == b"II" else ">"
    (ifd_offset,) = struct.unpack(f"{e}I", data[4:8])
    (n,) = struct.unpack(f"{e}H", data[ifd_offset:ifd_offset + 2])
    entries: dict[int, tuple[int, int, int]] = {}
    for i in range(n):
        off = ifd_offset + 2 + i * 12
        tag, typ, count = struct.unpack(f"{e}HHI", data[off:off + 8])
        entries[tag] = (typ, count, off + 8)

    def values(tag: int, default: int | None = None) -> list[int]:
        if tag not in entries:
            if default is None:
                raise ValueError(f"TIFF tag {tag} missing")
            return [default]
        typ, count, at = entries[tag]
        code = _TIFF_TYPES.get(typ)
        if code is None:
            raise ValueError(f"TIFF tag {tag} has unsupported type {typ}")
        size = struct.calcsize(code) * count
        if size > 4:  # stored out of line at the offset in the field
            (at,) = struct.unpack(f"{e}I", data[at:at + 4])
        if at + size > len(data):
            raise ValueError(f"TIFF tag {tag} runs past the file")
        return list(struct.unpack(f"{e}{count}{code}", data[at:at + size]))

    w, h = values(256)[0], values(257)[0]
    if values(259, 1)[0] != 1:
        raise ValueError("compressed TIFF unsupported")
    spp = values(277, 1)[0]
    bits = values(258, 1)
    if spp != 1 or bits != [8]:
        raise ValueError(f"unsupported TIFF sample layout: {spp} samples "
                         f"of {bits} bits (8-bit gray only)")
    offsets = values(273)
    if len(offsets) == 1:
        pixels = data[offsets[0]:offsets[0] + w * h]
    else:
        counts = values(279)
        pixels = b"".join(data[o:o + c] for o, c in zip(offsets, counts))
    img = np.frombuffer(pixels[:w * h], dtype=np.uint8).reshape(h, w)
    if values(262, 1)[0] == 0:  # WhiteIsZero
        img = 255 - img
    return img.copy()


# ------------------------------------------------------------- dispatch

FORMATS = ("png", "bmp", "tiff", "jpeg", "gif")

_MIME_ALIASES = {
    "image/png": "png", "image/bmp": "bmp", "image/tiff": "tiff",
    "image/jpeg": "jpeg", "image/gif": "gif",
    "tif": "tiff", "jpg": "jpeg",
}


def normalize_format(fmt: str) -> str:
    fmt = fmt.lower()
    return _MIME_ALIASES.get(fmt, fmt)


def encode_image(img: np.ndarray, fmt: str) -> bytes:
    fmt = normalize_format(fmt)
    if fmt == "png":
        return encode_png(img)
    if fmt == "bmp":
        return encode_bmp(img)
    if fmt == "tiff":
        return encode_tiff(img)
    if fmt == "jpeg":
        from .jpeg import encode_jpeg
        return encode_jpeg(img)
    if fmt == "gif":
        from .gif import encode_gif
        return encode_gif(img)
    raise ValueError(f"unknown image format '{fmt}'; supported: {FORMATS}")


def decode_image(data: "bytes | None", fmt: str | None = None
                 ) -> np.ndarray:
    """Decode binary image bytes to 2-D uint8 grayscale.  Format
    sniffed from magic bytes when not given (the reference trusts the
    caller's format string).  Base64 / data-URL media decode in
    Catalyst before the scan (``sources/base64_source``).  A missing
    payload (a NULL ``image`` cell) or a non-binary one is a ValueError
    like any other undecodable input."""
    if data is None:
        raise ValueError("missing image payload")
    if not isinstance(data, (bytes, bytearray, memoryview)):
        raise ValueError(
            f"image payload must be binary, not {type(data).__name__}")
    if fmt is not None:
        fmt = normalize_format(fmt)
    if fmt is None:
        if data[:8] == _PNG_SIG:
            fmt = "png"
        elif data[:2] == b"BM":
            fmt = "bmp"
        elif data[:2] in (b"II", b"MM"):
            fmt = "tiff"
        elif data[:2] == b"\xff\xd8":
            fmt = "jpeg"
        elif data[:6] in (b"GIF87a", b"GIF89a"):
            fmt = "gif"
        else:
            raise ValueError("cannot sniff image format")
    try:
        if fmt == "png":
            return decode_png(data)
        if fmt == "bmp":
            return decode_bmp(data)
        if fmt == "tiff":
            return decode_tiff(data)
        if fmt == "jpeg":
            from .jpeg import decode_jpeg
            return decode_jpeg(data)
        if fmt == "gif":
            from .gif import decode_gif
            return decode_gif(data)
    except ValueError:
        raise
    except (IndexError, KeyError, EOFError, struct.error, zlib.error) as e:
        # Truncated/corrupt streams surface as these from the raw
        # decoders.  One bad image in a media table must become a
        # micr:error row, not a failed Spark task, so decode_image's
        # failure contract is ValueError only.  Anything else
        # (MemoryError, genuine bugs) propagates — masking it as
        # "corrupt stream" would hide real defects as bad input.
        raise ValueError(f"corrupt {fmt} stream: {type(e).__name__}: {e}")
    raise ValueError(f"unknown image format '{fmt}'")
