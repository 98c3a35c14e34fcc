"""JPEG codec (baseline + progressive) — pure stdlib + NumPy (no
imaging libraries).

The reference decodes JPEG via Jimp (src/image.ts:63-87 format enum,
src/util.ts:60-77 decode), which accepts both sequential and
progressive files; this environment has no PIL/cv2, so the DCT
processes of ITU-T.81 are implemented here:

- encoders: grayscale only (what fixtures synthesize) — level shift,
  8x8 block DCT (fixed-order multiply-adds, no BLAS), quality-scaled
  Annex-K luminance quantization, zigzag; ``encode_jpeg`` writes
  baseline SOF0 with the standard Annex-K Huffman tables,
  ``encode_jpeg_progressive`` writes a 6-scan SOF2 file (libjpeg's
  standard luma scan script: DC at Al=1, two AC spectral bands at
  Al=2, an AC refinement to Al=1, the DC refinement, and the final AC
  pass to Al=0) so the fixture corpus exercises spectral selection,
  successive approximation, EOB runs, and AC correction bits.
- decoder: any baseline (SOF0/1) or progressive (SOF2) JPEG — 1 or 3
  components, arbitrary sampling factors, DRI/RSTn, tables from the
  file's own DQT/DHT.  Output is grayscale: for YCbCr JPEGs that is
  exactly the Y plane (JPEG defines Y = 0.299R+0.587G+0.114B — the
  same weights the rest of this repo uses for gray), so chroma blocks
  are entropy-decoded only where interleaving requires it (DC scans)
  and chroma-only progressive scans are skipped wholesale (their
  entropy data ends at the next marker, so nothing downstream needs
  them decoded).

Entropy coding is the one inherently serial part; the decoder uses a
16-bit prefix lookup table (libjpeg's trick) so every symbol costs one
list index.  All block math is vectorized NumPy.  Successive
approximation reconstructs coefficients exactly (two's-complement DC,
sign-magnitude AC), so a completed progressive decode is bit-identical
to the baseline decode of the same quantized coefficients — pinned by
the round-trip tests.
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K.1 luminance quantization table, raster order.
_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)

# Annex K.3 standard Huffman tables: (bits[1..16], huffval)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]


def _zigzag() -> np.ndarray:
    """Raster index for each zigzag position (length 64)."""
    out = []
    for s in range(15):
        diag = [(i, s - i) for i in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2 == 0:
            diag = diag[::-1]
        out.extend(r * 8 + c for r, c in diag)
    return np.array(out, dtype=np.int64)


_ZIGZAG = _zigzag()

_DCT_T = np.array([[
    (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8)) *
    np.cos((2 * n + 1) * k * np.pi / 16)
    for n in range(8)] for k in range(8)])


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical order."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _scaled_quant(quality: int) -> np.ndarray:
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (_QUANT_LUMA * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3
        return bytes(self.buf)


def _dht_segment(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _forward_dct(blocks: np.ndarray) -> np.ndarray:
    """D @ B @ D.T of (n, 8, 8) level-shifted blocks, as fixed-order
    multiply-adds: the left product first, each sum over k = 0..7 in
    index order.  A BLAS matmul picks its kernel (and so its rounding)
    by CPU, which made the encoded bytes depend on the host."""
    t = _DCT_T[:, 0, None] * blocks[:, None, 0, :]
    for k in range(1, 8):
        t += _DCT_T[:, k, None] * blocks[:, None, k, :]
    coef = t[:, :, 0, None] * _DCT_T[:, 0]
    for k in range(1, 8):
        coef += t[:, :, k, None] * _DCT_T[:, k]
    return coef


def _encode_front(img: np.ndarray, quality: int, sof: int
                  ) -> tuple[np.ndarray, bytes]:
    """Both encoders' front end: edge-pad to whole blocks → blockify →
    DCT → quantize → zigzag, giving the (n_blocks, 64) int64
    coefficients, plus the SOI/DQT/SOFn/DC-DHT header bytes."""
    assert img.dtype == np.uint8 and img.ndim == 2
    h, w = img.shape
    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    padded = np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge")
    quant = _scaled_quant(quality)
    blocks = (padded.reshape(ph // 8, 8, pw // 8, 8)
              .transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8).astype(np.float64) - 128.0)
    q = np.round(_forward_dct(blocks) / quant).astype(np.int64)
    qz = quant.reshape(-1)[_ZIGZAG]
    header = b"".join([
        b"\xff\xd8",                                       # SOI
        b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" +    # DQT (8-bit, id 0)
        bytes(int(x) for x in qz),
        bytes([0xFF, sof]) + struct.pack(">HBHHB", 11, 8, h, w, 1) +
        bytes([1, 0x11, 0]),                               # comp 1, 1x1, q0
        _dht_segment(0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
    ])
    return q.reshape(-1, 64)[:, _ZIGZAG], header


def encode_jpeg(img: np.ndarray, quality: int = 92) -> bytes:
    """Grayscale baseline JPEG."""
    zz, header = _encode_front(img, quality, 0xC0)        # SOF0

    dc_codes = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_codes = _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
    bw = _BitWriter()
    prev_dc = 0
    for blk in zz:
        diff = int(blk[0]) - prev_dc
        prev_dc = int(blk[0])
        size = int(abs(diff)).bit_length()
        c, ln = dc_codes[size]
        bw.put(c, ln)
        if size:
            bw.put(diff if diff > 0 else diff + (1 << size) - 1, size)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]  # ZRL
                bw.put(c, ln)
                run -= 16
            size = abs(v).bit_length()
            c, ln = ac_codes[(run << 4) | size]
            bw.put(c, ln)
            bw.put(v if v > 0 else v + (1 << size) - 1, size)
            run = 0
        if last < 63:
            c, ln = ac_codes[0x00]  # EOB
            bw.put(c, ln)
    entropy = bw.flush()

    parts = [
        header,
        _dht_segment(0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
        b"\xff\xda" + struct.pack(">HB", 8, 1) +           # SOS
        bytes([1, 0x00, 0, 63, 0]),
        entropy,
        b"\xff\xd9",                                       # EOI
    ]
    return b"".join(parts)


# ------------------------------------------------- progressive encoder

#: AC Huffman table for progressive scans: the Annex-K table lacks the
#: EOBn symbols (r<<4 for r=1..14) that EOB runs need, and libjpeg
#: builds per-scan optimal tables instead.  A fixed canonical table
#: with every symbol a progressive luma scan can emit — EOBn (15),
#: ZRL (1), and (run<<4)|size for run 0..15 × size 1..10 (160) — all
#: at 9 bits satisfies Kraft (176/512) and keeps the writer stateless;
#: fixtures trade a few percent of compression for determinism.
_PROG_AC_VALS = ([r << 4 for r in range(15)] + [0xF0]
                 + [(r << 4) | s for r in range(16)
                    for s in range(1, 11)])
_PROG_AC_BITS = [0] * 16
_PROG_AC_BITS[8] = len(_PROG_AC_VALS)   # all codes 9 bits long


class _ProgACScan:
    """Stateful AC-scan writer (ITU-T.81 G.1.2.2-3, structured after
    libjpeg's jcphuff.c): EOB runs accumulate across blocks, and
    refinement correction bits buffer until the next emitted symbol —
    run-level bits (previous blocks of the EOB run) flush right after
    the EOBn symbol, current-block bits right after the ZRL or
    newly-nonzero symbol that ends their zero run."""

    def __init__(self, bw: _BitWriter, ac_codes: dict) -> None:
        self.bw = bw
        self.ac = ac_codes
        self.eobrun = 0
        self.run_buf: list[int] = []

    def _flush_eobrun(self) -> None:
        if self.eobrun > 0:
            rr = self.eobrun.bit_length() - 1
            c, ln = self.ac[rr << 4]
            self.bw.put(c, ln)
            if rr:
                self.bw.put(self.eobrun - (1 << rr), rr)
            self.eobrun = 0
            for b in self.run_buf:
                self.bw.put(b, 1)
            self.run_buf = []

    def first_block(self, blk, band: range, al: int) -> None:
        r = 0
        for k in band:
            v = int(blk[k])
            a = (v if v >= 0 else -v) >> al
            if a == 0:
                r += 1
                continue
            self._flush_eobrun()
            while r > 15:
                c, ln = self.ac[0xF0]
                self.bw.put(c, ln)
                r -= 16
            s = a.bit_length()
            c, ln = self.ac[(r << 4) | s]
            self.bw.put(c, ln)
            t = a if v > 0 else -a
            self.bw.put(t if t > 0 else t + (1 << s) - 1, s)
            r = 0
        if r > 0:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self._flush_eobrun()

    def refine_block(self, blk, band: range, al: int) -> None:
        absv = []
        eob = -1
        for idx, k in enumerate(band):
            v = int(blk[k])
            a = (v if v >= 0 else -v) >> al
            absv.append(a)
            if a == 1:
                eob = idx
        r = 0
        blk_buf: list[int] = []
        for idx, k in enumerate(band):
            a = absv[idx]
            if a == 0:
                r += 1
                continue
            while r > 15 and idx <= eob:
                self._flush_eobrun()
                c, ln = self.ac[0xF0]
                self.bw.put(c, ln)
                r -= 16
                for b in blk_buf:
                    self.bw.put(b, 1)
                blk_buf = []
            if a > 1:
                blk_buf.append(a & 1)   # correction bit for old coeff
                continue
            self._flush_eobrun()
            c, ln = self.ac[(r << 4) | 1]
            self.bw.put(c, ln)
            self.bw.put(0 if int(blk[k]) < 0 else 1, 1)
            for b in blk_buf:
                self.bw.put(b, 1)
            blk_buf = []
            r = 0
        if r > 0 or blk_buf:
            self.eobrun += 1
            self.run_buf.extend(blk_buf)
            if self.eobrun == 0x7FFF or len(self.run_buf) > 937:
                self._flush_eobrun()   # MAX_CORR_BITS-style cap

    def finish(self) -> None:
        self._flush_eobrun()


def encode_jpeg_progressive(img: np.ndarray, quality: int = 92) -> bytes:
    """Grayscale progressive (SOF2) JPEG, libjpeg's standard luma scan
    script: DC first at Al=1; AC bands 1-5 and 6-63 first at Al=2; AC
    1-63 refinement to Al=1; DC refinement; AC 1-63 final to Al=0.
    Quantized coefficients are identical to ``encode_jpeg`` at the same
    quality, so a full decode is bit-identical to the baseline file's."""
    zz, header = _encode_front(img, quality, 0xC2)        # SOF2
    zz_list = zz.tolist()                   # python ints for bit ops

    dc_codes = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
    ac_codes = _build_codes(_PROG_AC_BITS, _PROG_AC_VALS)

    def dc_first(al: int) -> bytes:
        bw = _BitWriter()
        prev = 0
        for blk in zz_list:
            val = blk[0] >> al              # arithmetic shift (T.81 G.1.2.1)
            diff = val - prev
            prev = val
            s = abs(diff).bit_length()
            c, ln = dc_codes[s]
            bw.put(c, ln)
            if s:
                bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        return bw.flush()

    def dc_refine(al: int) -> bytes:
        bw = _BitWriter()
        for blk in zz_list:
            bw.put((blk[0] >> al) & 1, 1)
        return bw.flush()

    def ac_scan(band: range, ah: int, al: int) -> bytes:
        bw = _BitWriter()
        sc = _ProgACScan(bw, ac_codes)
        for blk in zz_list:
            if ah == 0:
                sc.first_block(blk, band, al)
            else:
                sc.refine_block(blk, band, al)
        sc.finish()
        return bw.flush()

    band_lo, band_hi, band_all = range(1, 6), range(6, 64), range(1, 64)
    scans = [
        ((0, 0, 0, 1), dc_first(1)),
        ((1, 5, 0, 2), ac_scan(band_lo, 0, 2)),
        ((6, 63, 0, 2), ac_scan(band_hi, 0, 2)),
        ((1, 63, 2, 1), ac_scan(band_all, 2, 1)),
        ((0, 0, 1, 0), dc_refine(0)),
        ((1, 63, 1, 0), ac_scan(band_all, 1, 0)),
    ]

    parts = [header, _dht_segment(0x10, _PROG_AC_BITS, _PROG_AC_VALS)]
    for (ss, se, ah, al), entropy in scans:
        parts.append(b"\xff\xda" + struct.pack(">HB", 8, 1)
                     + bytes([1, 0x00, ss, se, (ah << 4) | al]))
        parts.append(entropy)
    parts.append(b"\xff\xd9")                              # EOI
    return b"".join(parts)


# --------------------------------------------------------------- decoder

class _HuffTable:
    """Full 16-bit-prefix decode LUT: any canonical code (≤16 bits,
    ITU-T.81 C.2) resolves with one list index — no per-length scan.
    65,536 entries are filled per table with vectorized numpy slices
    (a few hundred µs), then kept as plain python lists because scalar
    list indexing beats ndarray indexing in the per-symbol loop.
    Length 0 marks an invalid prefix."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        sym = np.zeros(1 << 16, dtype=np.int16)
        ln = np.zeros(1 << 16, dtype=np.int16)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                start = code << (16 - length)
                span = 1 << (16 - length)
                sym[start:start + span] = vals[k]
                ln[start:start + span] = length
                code += 1
                k += 1
            code <<= 1
        self.sym16 = sym.tolist()
        self.len16 = ln.tolist()


_TABLE_CACHE: dict[tuple, _HuffTable] = {}


def _huff_table(bits: list[int], vals: list[int]) -> _HuffTable:
    """Memoized table build: the 65,536-entry LUT costs ~1 ms and a
    corpus's images overwhelmingly share their DHT segments (every
    image from one encoder does), so per-process caching amortizes it
    to zero.  Bounded: distinct tables are tiny in practice; cap guards
    an adversarial stream of unique tables."""
    key = (tuple(bits), tuple(vals))
    t = _TABLE_CACHE.get(key)
    if t is None:
        if len(_TABLE_CACHE) >= 64:
            _TABLE_CACHE.clear()
        t = _TABLE_CACHE[key] = _HuffTable(bits, vals)
    return t


def decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    quants: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None
    prog = None          # progressive coefficient state (see _init_prog)
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack(">H", data[pos:pos + 2])
        seg = data[pos + 2:pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq:
                    t = np.frombuffer(seg[p:p + 128],
                                      dtype=">u2").astype(np.int32)
                    p += 128
                else:
                    t = np.frombuffer(seg[p:p + 64],
                                      dtype=np.uint8).astype(np.int32)
                    p += 64
                raster = np.zeros(64, dtype=np.int32)
                raster[_ZIGZAG] = t
                quants[tq] = raster.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            precision, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if precision != 8:
                raise ValueError("only 8-bit JPEG supported")
            if fh < 1 or fw < 1:
                raise ValueError("bad JPEG frame dimensions")
            # allocation guard: the decoder materializes the full luma
            # coefficient store up front (numpy floats on the baseline
            # path, python lists on the progressive path), so a single
            # corrupted dimension byte could demand gigabytes before
            # any entropy data is validated — and MemoryError is not in
            # decode_image's ValueError contract.  33 MP (2^25 px) is
            # ~16x any plausible check scan; reject beyond it.
            if fh * fw > (1 << 25):
                raise ValueError(
                    f"JPEG frame {fw}x{fh} exceeds the 33 MP decode "
                    "limit")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + c * 3:9 + c * 3]
                h, v = hv >> 4, hv & 0xF
                # zero sampling factors would make the MCU size 0 and
                # crash the scan with ZeroDivisionError — corrupt
                # headers must surface as ValueError (micr:error row)
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise ValueError(f"bad JPEG sampling factors {hv:#x}")
                comps.append({"id": cid, "h": h, "v": v, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1:p + 17])
                n = sum(bits)
                vals = list(seg[p + 17:p + 17 + n])
                (huff_ac if tc else huff_dc)[th] = _huff_table(bits,
                                                               vals)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tables = seg[1 + c * 2], seg[2 + c * 2]
                matches = [x for x in frame["comps"] if x["id"] == cs]
                if not matches:
                    # bare next() would raise StopIteration here and
                    # escape decode_image's ValueError contract
                    raise ValueError(f"SOS references unknown "
                                     f"component {cs}")
                scan.append((matches[0], tables >> 4, tables & 0xF))
            entropy_start = pos + seg_len
            if not frame["progressive"]:
                return _decode_scan(data, entropy_start, frame, scan,
                                    quants, huff_dc, huff_ac,
                                    restart_interval)
            if len(seg) < 4 + 2 * ns:
                raise ValueError("truncated progressive SOS header")
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
            if prog is None:
                prog = _init_prog(frame)
            pos = _decode_prog_scan(data, entropy_start, frame, scan,
                                    ss, se, ah, al, huff_dc, huff_ac,
                                    restart_interval, prog)
            continue
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                "only baseline (SOF0/1) or progressive (SOF2) JPEG "
                "supported")
        pos += seg_len
    if prog is not None:
        return _finish_progressive(frame, quants, prog)
    raise ValueError("no scan data in JPEG")


def _split_entropy(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Split entropy-coded data starting at ``pos`` into restart
    segments (unstuffing 0xFF00), returning (segments, end) where
    ``end`` is the offset of the next real marker's 0xFF (or EOF)."""
    segments: list[bytes] = []
    cur = bytearray()
    i = pos
    n = len(data)
    # bulk-copy the stretches between 0xFF bytes (find() is C-speed;
    # the previous per-byte append loop dominated entropy splitting)
    while i < n:
        j = data.find(b"\xff", i)
        if j == -1:
            cur += data[i:n]
            i = n
            break
        cur += data[i:j]
        i = j
        nxt = data[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:
            break  # EOI or next marker
    segments.append(bytes(cur))
    return segments, i


def _decode_scan(data: bytes, pos: int, frame: dict, scan: list,
                 quants: dict, huff_dc: dict, huff_ac: dict,
                 restart_interval: int) -> np.ndarray:
    segments, _ = _split_entropy(data, pos)

    # luminance = first scan component; chroma blocks are entropy-decoded
    # to stay in sync but their coefficients are discarded
    luma_comp, luma_dc_id, luma_ac_id = scan[0]
    interleaved = len(scan) > 1
    if not interleaved:
        # non-interleaved scan (T.81 A.2.2): every MCU is ONE block, in
        # raster order over the component's own block grid, whatever
        # its sampling factors
        mcus_x, mcus_y = _comp_block_dims(frame, luma_comp)
        lh = lv = 1
    else:
        hmax = max(c["h"] for c in frame["comps"])
        vmax = max(c["v"] for c in frame["comps"])
        mcus_x = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
        lh, lv = luma_comp["h"], luma_comp["v"]
    n_mcus = mcus_x * mcus_y
    luma_blocks = np.zeros((n_mcus * lh * lv, 64), dtype=np.float64)
    lb = 0

    # scan plan hoisted out of the MCU loop: (LUT lists, per-MCU block
    # count, luma?) per component, preds as a list — the dict lookups
    # and per-MCU re-derivation measurably dominate at 10k+ MCUs
    plan = [(huff_dc[dc_id].len16, huff_dc[dc_id].sym16,
             huff_ac[ac_id].len16, huff_ac[ac_id].sym16,
             comp["h"] * comp["v"] if interleaved else 1,
             comp is luma_comp)
            for comp, dc_id, ac_id in scan]
    zigzag = _ZIGZAG
    # MSB-first bit reader over 0xFF00-unstuffed entropy data, inlined
    # into locals (acc/nbits/bpos): a method-based reader costs ~45
    # calls per 8x8 block and profiling shows call overhead, not
    # arithmetic, bounds the whole decode.  Refills top the accumulator
    # up to >=32 bits at most once per Huffman symbol; one symbol
    # consumes <=16 (code) + <=11 (magnitude) = 27 bits, so a single
    # top-up covers both reads.  Reads past the segment end see zero
    # bits (truncated-stream behavior unchanged).
    seg_data = segments[0]
    seg_n = len(seg_data)
    bpos = acc = nbits = 0
    seg_idx = 0
    preds = [0] * len(plan)
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            seg_idx += 1
            seg_data = segments[seg_idx]
            seg_n = len(seg_data)
            bpos = acc = nbits = 0
            preds = [0] * len(plan)
        for si, (dc_len, dc_sym, ac_len, ac_sym, nblocks,
                 is_luma) in enumerate(plan):
            pred = preds[si]
            for _ in range(nblocks):
                if nbits < 27:
                    while nbits < 32:
                        acc = ((acc << 8)
                               | (seg_data[bpos] if bpos < seg_n else 0))
                        bpos += 1
                        nbits += 8
                    acc &= (1 << nbits) - 1
                code = (acc >> (nbits - 16)) & 0xFFFF
                length = dc_len[code]
                if not length:
                    raise ValueError("bad Huffman code")
                nbits -= length
                size = dc_sym[code]
                if size:
                    nbits -= size
                    v = (acc >> nbits) & ((1 << size) - 1)
                    pred += (v if v >= (1 << (size - 1))
                             else v - (1 << size) + 1)
                if is_luma:
                    luma_blocks[lb, 0] = pred
                k = 1
                while k < 64:
                    if nbits < 27:
                        while nbits < 32:
                            acc = ((acc << 8)
                                   | (seg_data[bpos] if bpos < seg_n
                                      else 0))
                            bpos += 1
                            nbits += 8
                        acc &= (1 << nbits) - 1
                    code = (acc >> (nbits - 16)) & 0xFFFF
                    length = ac_len[code]
                    if not length:
                        raise ValueError("bad Huffman code")
                    nbits -= length
                    rs = ac_sym[code]
                    s = rs & 0xF
                    if s == 0:
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += rs >> 4
                    nbits -= s
                    v = (acc >> nbits) & ((1 << s) - 1)
                    if is_luma and k < 64:
                        luma_blocks[lb, zigzag[k]] = (
                            v if v >= (1 << (s - 1))
                            else v - (1 << s) + 1)
                    k += 1
                if is_luma:
                    lb += 1
            preds[si] = pred

    # MCU-ordered blocks (my, mx, by, bx) → row-major block grid
    raster = (luma_blocks.reshape(mcus_y, mcus_x, lv, lh, 64)
              .transpose(0, 2, 1, 3, 4).reshape(-1, 64))
    return _luma_plane(frame, luma_comp, quants, raster,
                       mcus_y * lv, mcus_x * lh)


def _luma_plane(frame: dict, luma: dict, quants: dict, raster: np.ndarray,
                bh: int, bw: int) -> np.ndarray:
    """The decoded luma plane from its coefficient blocks — the tail
    of both decoders.  ``raster`` holds the ``bh`` x ``bw`` block grid
    (MCU-aligned) in row-major block order, each block's 64
    coefficients in natural (not zigzag) order.  Dequantize + IDCT all
    blocks at once, reassemble the plane with one transpose, crop to
    the component's ceil-scaled dims and nearest-upsample subsampled
    luma to the frame."""
    if luma["tq"] not in quants:
        raise ValueError("missing quantization table")
    quant = quants[luma["tq"]].reshape(-1).astype(np.float64)
    coef = (raster * quant).reshape(-1, 8, 8)
    # D.T @ C @ D as two batched matmuls: einsum's 3-operand path is
    # interpreted and dominated the whole decode, and the encoder's
    # fixed-order _forward_dct form is ~5x slower than the matmuls
    spatial = _DCT_T.T @ coef @ _DCT_T
    pix = np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8)
    plane = (pix.reshape(bh, bw, 8, 8)
             .transpose(0, 2, 1, 3)
             .reshape(bh * 8, bw * 8))
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    # luma plane covers the CEIL-scaled frame dims (T.81 A.1.1: comp
    # dims are ceil(x * h_i / hmax)); floor here silently shorted the
    # plane by one row/col for subsampled-luma frames
    out_h = (frame["h"] * luma["v"] + vmax - 1) // vmax
    out_w = (frame["w"] * luma["h"] + hmax - 1) // hmax
    out = plane[:out_h, :out_w]
    if luma["h"] != hmax or luma["v"] != vmax:  # subsampled luma (rare)
        out = np.repeat(np.repeat(out, vmax // luma["v"], axis=0),
                        hmax // luma["h"], axis=1)[:frame["h"],
                                                   :frame["w"]]
    return out.copy()


# --------------------------------------------- progressive decoder path

class _ScanReader:
    """MSB-first bit reader over one 0xFF00-unstuffed restart segment —
    the method-based reader the baseline hot path inlines away; kept as
    a class here because progressive scans touch each coefficient once
    per pass (the per-scan symbol counts are a fraction of baseline's)
    and the refinement control flow would be unreadable inlined.  Reads
    past the segment end yield zero bits, matching the baseline
    truncated-stream behavior."""

    __slots__ = ("d", "n", "pos", "acc", "nbits")

    def __init__(self, seg: bytes) -> None:
        self.d = seg
        self.n = len(seg)
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits < 32:
            self.acc = ((self.acc << 8)
                        | (self.d[self.pos] if self.pos < self.n else 0))
            self.pos += 1
            self.nbits += 8
        self.acc &= (1 << self.nbits) - 1

    def huff(self, len16: list, sym16: list) -> int:
        if self.nbits < 16:
            self._fill()
        code = (self.acc >> (self.nbits - 16)) & 0xFFFF
        length = len16[code]
        if not length:
            raise ValueError("bad Huffman code")
        self.nbits -= length
        return sym16[code]

    def bits(self, k: int) -> int:
        if not k:
            return 0
        if self.nbits < k:
            self._fill()
        self.nbits -= k
        return (self.acc >> self.nbits) & ((1 << k) - 1)

    def receive_extend(self, s: int) -> int:
        v = self.bits(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _init_prog(frame: dict) -> dict:
    """Coefficient store for the progressive decode: the luma component
    (frame component 0 — JPEG convention, same as the baseline path's
    first-scan-component rule) gets an MCU-aligned block grid of
    zigzag-ordered python lists; chroma coefficients are never stored
    (chroma-only scans are skipped, interleaved chroma DC is decoded
    for bitstream sync only)."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    luma = frame["comps"][0]
    mcus_x = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    bw = mcus_x * luma["h"]
    bh = mcus_y * luma["v"]
    return {
        "mcus_x": mcus_x, "mcus_y": mcus_y, "bw": bw, "bh": bh,
        "luma_id": luma["id"],
        "blocks": [[0] * 64 for _ in range(bw * bh)],
        # per-block count of nonzero AC coefficients set so far: lets
        # the refinement EOB sweep skip all-zero blocks in O(1) — they
        # consume no correction bits (T.81 G.1.2.3), so skipping them
        # is bit-exact
        "nz": [0] * (bw * bh),
    }


def _comp_block_dims(frame: dict, comp: dict) -> tuple[int, int]:
    """(blocks_wide, blocks_high) of one component in a NON-interleaved
    scan (T.81 A.2.2: ceil of the scaled sample dims over 8)."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    cw = (frame["w"] * comp["h"] + hmax - 1) // hmax
    ch = (frame["h"] * comp["v"] + vmax - 1) // vmax
    return (cw + 7) // 8, (ch + 7) // 8


def _ac_first_run(r: _ScanReader, blocks: list, nz: list, idxs: list,
                  u0: int, u1: int, ss: int, se: int, al: int,
                  len16: list, sym16: list) -> None:
    """AC first pass (T.81 G.1.2.2) over blocks idxs[u0:u1]: run-length
    + magnitude at Al precision, with EOB runs spanning blocks.

    The bit reader is INLINED on local variables and the whole restart
    segment's block loop lives inside one call (the same trick the
    baseline ``_decode_scan`` uses): the per-(block, scan) method-call
    and state-sync overhead dominated the progressive decode.  The bit
    arithmetic is copied verbatim from _ScanReader, so the decoded
    stream is bit-identical (progressive-vs-baseline pixel-equality
    tests pin this).  ``nz`` counts the nonzero AC coefficients each
    block has accumulated (every magnitude decoded here is nonzero —
    receive/extend of s >= 1 bits never yields 0)."""
    d, n = r.d, r.n
    pos, acc, nbits = r.pos, r.acc, r.nbits
    eobrun = 0
    for u in range(u0, u1):
        if eobrun:
            eobrun -= 1
            continue
        bi = idxs[u]
        block = blocks[bi]
        nzc = nz[bi]
        k = ss
        while k <= se:
            if nbits < 16:
                while nbits < 32:
                    acc = (acc << 8) | (d[pos] if pos < n else 0)
                    pos += 1
                    nbits += 8
                acc &= (1 << nbits) - 1
            code = (acc >> (nbits - 16)) & 0xFFFF
            length = len16[code]
            if not length:
                raise ValueError("bad Huffman code")
            nbits -= length
            rs = sym16[code]
            rr = rs >> 4
            s = rs & 15
            if s:
                k += rr
                if k > se:
                    raise ValueError("AC coefficient past band end")
                if nbits < s:
                    while nbits < 32:
                        acc = (acc << 8) | (d[pos] if pos < n else 0)
                        pos += 1
                        nbits += 8
                    acc &= (1 << nbits) - 1
                nbits -= s
                v = (acc >> nbits) & ((1 << s) - 1)
                if v < (1 << (s - 1)):
                    v = v - (1 << s) + 1
                block[k] = v << al
                nzc += 1
                k += 1
            else:
                if rr < 15:
                    eobrun = (1 << rr) - 1
                    if rr:
                        if nbits < rr:
                            while nbits < 32:
                                acc = ((acc << 8)
                                       | (d[pos] if pos < n else 0))
                                pos += 1
                                nbits += 8
                            acc &= (1 << nbits) - 1
                        nbits -= rr
                        eobrun += (acc >> nbits) & ((1 << rr) - 1)
                    break
                k += 16   # ZRL
        nz[bi] = nzc
    r.pos, r.acc, r.nbits = pos, acc, nbits


def _ac_refine_run(r: _ScanReader, blocks: list, nz: list, idxs: list,
                   u0: int, u1: int, ss: int, se: int, al: int,
                   len16: list, sym16: list) -> None:
    """AC refinement pass (T.81 G.1.2.3, control flow after libjpeg's
    decode_mcu_AC_refine) over blocks idxs[u0:u1]: newly-nonzero
    coefficients arrive as ±1<<Al, already-nonzero coefficients absorb
    one correction bit each as the zero-run / EOB-run passes over them.
    Python's infinite-precision ints share C's two's-complement ``&``
    semantics, so the ``coef & p1`` history test matches bit-for-bit.
    Bit reader inlined on locals — see _ac_first_run.  Blocks with no
    nonzero AC coefficients are skipped in O(1) under an EOB run: the
    correction sweep only consumes bits at nonzero coefficients, so
    the skip is bit-exact."""
    p1 = 1 << al
    m1 = -p1
    d, n = r.d, r.n
    pos, acc, nbits = r.pos, r.acc, r.nbits
    eobrun = 0
    for u in range(u0, u1):
        bi = idxs[u]
        if eobrun and not nz[bi]:
            eobrun -= 1
            continue
        block = blocks[bi]
        nzc = nz[bi]
        k = ss
        if eobrun == 0:
            while k <= se:
                if nbits < 16:
                    while nbits < 32:
                        acc = (acc << 8) | (d[pos] if pos < n else 0)
                        pos += 1
                        nbits += 8
                    acc &= (1 << nbits) - 1
                code = (acc >> (nbits - 16)) & 0xFFFF
                length = len16[code]
                if not length:
                    raise ValueError("bad Huffman code")
                nbits -= length
                rs = sym16[code]
                rr = rs >> 4
                s = rs & 15
                newval = 0
                if s:
                    if s != 1:
                        raise ValueError("bad AC refinement symbol")
                    if nbits < 1:
                        while nbits < 32:
                            acc = (acc << 8) | (d[pos] if pos < n else 0)
                            pos += 1
                            nbits += 8
                        acc &= (1 << nbits) - 1
                    nbits -= 1
                    newval = p1 if (acc >> nbits) & 1 else m1
                elif rr != 15:
                    eobrun = 1 << rr
                    if rr:
                        if nbits < rr:
                            while nbits < 32:
                                acc = ((acc << 8)
                                       | (d[pos] if pos < n else 0))
                                pos += 1
                                nbits += 8
                            acc &= (1 << nbits) - 1
                        nbits -= rr
                        eobrun += (acc >> nbits) & ((1 << rr) - 1)
                    break
                while k <= se:
                    cur = block[k]
                    if cur:
                        if nbits < 1:
                            while nbits < 32:
                                acc = ((acc << 8)
                                       | (d[pos] if pos < n else 0))
                                pos += 1
                                nbits += 8
                            acc &= (1 << nbits) - 1
                        nbits -= 1
                        if ((acc >> nbits) & 1) and not (cur & p1):
                            block[k] = cur + (p1 if cur >= 0 else m1)
                    else:
                        if rr == 0:
                            break
                        rr -= 1
                    k += 1
                if newval and k <= se:
                    block[k] = newval
                    nzc += 1
                k += 1
        if eobrun:
            if nzc:
                while k <= se:
                    cur = block[k]
                    if cur:
                        if nbits < 1:
                            while nbits < 32:
                                acc = ((acc << 8)
                                       | (d[pos] if pos < n else 0))
                                pos += 1
                                nbits += 8
                            acc &= (1 << nbits) - 1
                        nbits -= 1
                        if ((acc >> nbits) & 1) and not (cur & p1):
                            block[k] = cur + (p1 if cur >= 0 else m1)
                    k += 1
            eobrun -= 1
        nz[bi] = nzc
    r.pos, r.acc, r.nbits = pos, acc, nbits


def _decode_prog_scan(data: bytes, pos: int, frame: dict, scan: list,
                      ss: int, se: int, ah: int, al: int,
                      huff_dc: dict, huff_ac: dict,
                      restart_interval: int, prog: dict) -> int:
    """Decode one progressive scan into the coefficient store and
    return the offset of the marker after its entropy data.  Scans
    containing no stored component (chroma-only) are skipped without
    entropy decoding — their data ends at the next marker regardless."""
    involves_luma = any(c["id"] == prog["luma_id"] for c, _, _ in scan)
    if not involves_luma:
        _, end = _split_entropy(data, pos)
        return end
    segments, end = _split_entropy(data, pos)
    seg_iter = iter(segments)
    reader = _ScanReader(next(seg_iter))
    blocks = prog["blocks"]
    grid_w = prog["bw"]

    if ss == 0:   # DC scan (interleaved or single-component)
        if se != 0:
            raise ValueError("DC scan with nonzero Se")
        interleaved = len(scan) > 1
        if interleaved:
            units = prog["mcus_x"] * prog["mcus_y"]
        else:
            cbw, cbh = _comp_block_dims(frame, scan[0][0])
            units = cbw * cbh
        preds = [0] * len(scan)
        plan = []
        for comp, dc_id, ac_id in scan:
            if ah == 0:
                if dc_id not in huff_dc:
                    raise ValueError("missing DC Huffman table")
                t = huff_dc[dc_id]
                plan.append((comp, t.len16, t.sym16))
            else:
                plan.append((comp, None, None))
        for u in range(units):
            if restart_interval and u and u % restart_interval == 0:
                nxt = next(seg_iter, None)
                if nxt is None:
                    raise ValueError("missing restart segment")
                reader = _ScanReader(nxt)
                preds = [0] * len(scan)
            if interleaved:
                my, mx = divmod(u, prog["mcus_x"])
                for si, (comp, dlen, dsym) in enumerate(plan):
                    is_luma = comp["id"] == prog["luma_id"]
                    for j in range(comp["v"]):
                        for kk in range(comp["h"]):
                            if ah == 0:
                                size = reader.huff(dlen, dsym)
                                diff = (reader.receive_extend(size)
                                        if size else 0)
                                preds[si] += diff
                                if is_luma:
                                    bi = ((my * comp["v"] + j) * grid_w
                                          + mx * comp["h"] + kk)
                                    blocks[bi][0] = preds[si] << al
                            else:
                                bit = reader.bits(1)
                                if is_luma and bit:
                                    bi = ((my * comp["v"] + j) * grid_w
                                          + mx * comp["h"] + kk)
                                    blocks[bi][0] |= 1 << al
            else:
                comp, dlen, dsym = plan[0]
                by, bx = divmod(u, cbw)
                bi = by * grid_w + bx
                if ah == 0:
                    size = reader.huff(dlen, dsym)
                    diff = reader.receive_extend(size) if size else 0
                    preds[0] += diff
                    blocks[bi][0] = preds[0] << al
                else:
                    if reader.bits(1):
                        blocks[bi][0] |= 1 << al
        return end

    # AC scan: always single-component (T.81 B.2.3)
    if len(scan) != 1:
        raise ValueError("interleaved AC scan in progressive JPEG")
    if not (1 <= ss <= se <= 63):
        raise ValueError("bad progressive spectral band")
    comp, _, ac_id = scan[0]
    if ac_id not in huff_ac:
        raise ValueError("missing AC Huffman table")
    t = huff_ac[ac_id]
    len16, sym16 = t.len16, t.sym16
    cbw, cbh = _comp_block_dims(frame, comp)
    nunits = cbw * cbh
    idxs = [(u // cbw) * grid_w + (u % cbw) for u in range(nunits)]
    nz = prog["nz"]
    run_fn = _ac_first_run if ah == 0 else _ac_refine_run
    # restart segments reset both the entropy state and the EOB run;
    # each chunk is one run-function call with the bit reader held in
    # locals across its blocks
    step = restart_interval if restart_interval else nunits
    u0 = 0
    while u0 < nunits:
        if u0:
            nxt = next(seg_iter, None)
            if nxt is None:
                raise ValueError("missing restart segment")
            reader = _ScanReader(nxt)
        run_fn(reader, blocks, nz, idxs, u0, min(u0 + step, nunits),
               ss, se, al, len16, sym16)
        u0 += step
    return end


def _finish_progressive(frame: dict, quants: dict,
                        prog: dict) -> np.ndarray:
    """The accumulated luma coefficients (row-major blocks, zigzag
    order) through the shared :func:`_luma_plane` tail."""
    from itertools import chain
    blocks = prog["blocks"]
    # fromiter over a chained flat iterator is ~3x np.array on a nested
    # list (same values — zigzag order preserved)
    zz_arr = np.fromiter(chain.from_iterable(blocks), dtype=np.float64,
                         count=len(blocks) * 64).reshape(-1, 64)
    raster = np.empty_like(zz_arr)
    raster[:, _ZIGZAG] = zz_arr
    return _luma_plane(frame, frame["comps"][0], quants, raster,
                       prog["bh"], prog["bw"])
