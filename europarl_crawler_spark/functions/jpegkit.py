"""Baseline JPEG (ITU T.81 / JFIF) codec — pure numpy + stdlib.

The web's dominant image format, implemented for real: 8×8 DCT-II,
quality-scaled Annex-K quantization tables, zigzag + DC-differential +
run-length entropy coding with the standard Huffman tables, JFIF container
with byte stuffing. The encoder emits 4:4:4 by default (lossless chroma —
the serving lane's PSNR invariant) or 4:2:0 (2×2 box-averaged chroma, the
dominant web layout: 4 luma + 2 chroma blocks per MCU); 8-bit,
interleaved; any mainstream decoder reads the output.

The decoder parses the real marker structure (DQT/DHT/SOF/DRI/SOS) and
decodes with the tables FROM THE STREAM, so it also reads
externally-produced 4:4:4 JPEGs — BOTH baseline (SOF0) and progressive
(SOF2: spectral selection, successive approximation with DC/AC
first+refinement scans, EOB runs, restart markers, T.81 Annex G);
``jpeg_encode_progressive`` emits a real successive-approximation scan
script so the progressive paths round-trip against our own streams too.
The decoder handles subsampled layouts with per-component block grids and
replication upsampling — 4:2:0 and 4:2:2 round-trip-tested against our own
encoder; other integer-ratio layouts (e.g. 4:4:0) ride the same grid
logic; sampling factors beyond 2 raise cleanly.

Entropy decoding is table-driven, and one reader serves sequential and
progressive scans alike. Each restart segment is unstuffed once and turned
into a list of 24-bit windows, one per byte, so the 16 bits at any bit
position are one list index, a shift and a mask. Each DHT table becomes a
512-entry list indexed by the next 9 bits, which resolves every code of up
to 9 bits in one lookup; longer codes fall back to the canonical
MAXCODE/VALPTR search (T.81 F.2.2.3). The tables are built per decode (a
few microseconds). A block that reads past its segment's last bit raises
``ValueError`` ("entropy data exhausted"). The coefficients, and so the
pixels, equal those of a bit-at-a-time reader; tests/jpeg_reference.py
keeps that reader and tests/test_jpeg_reference.py compares the two.

Quality ≥ ~97 keeps PSNR ≥ 40 dB even on noise payloads (quant steps → 1,
residual error is DCT/color-transform rounding) — the serving quality for
the crawl's lossy-invariant lane; typical web quality (75-90) is supported
and tested on smooth content.

Reference analog: the per-filetype extract dispatch
(/root/reference/europarl/rules/extraction.py:27-52) — here the html lane's
payloads become genuine JPEG/PNG streams instead of toy formats.
"""

from __future__ import annotations

import struct

import numpy as np

from .kitguard import rejects_malformed

# ---------------------------------------------------------------------------
# constant tables (ITU T.81 Annex K — public standard)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)

QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

QUANT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))

AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_DCT8 = None


def _dct_matrix8() -> np.ndarray:
    global _DCT8
    if _DCT8 is None:
        k = np.arange(8)[:, None]
        i = np.arange(8)[None, :]
        m = np.sqrt(2.0 / 8) * np.cos(np.pi * (2 * i + 1) * k / 16.0)
        m[0, :] = np.sqrt(1.0 / 8)
        _DCT8 = m
    return _DCT8


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    sf = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * sf + 50) // 100, 1, 255).astype(np.int64)


def _build_huffman(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """(BITS, HUFFVAL) → {symbol: (code, length)} per T.81 C.2."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _amplitude_bits(v: int, cat: int) -> int:
    return v if v >= 0 else v + (1 << cat) - 1


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    p = px.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def jpeg_encode(
    px: np.ndarray,
    quality: int = 85,
    comment: str | None = None,
    exif: bytes | None = None,
    subsampling: str = "444",
) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes (standard tables).

    ``subsampling``: "444" (default — lossless chroma, the serving lane's
    PSNR invariant) or "420" (2×2 box-averaged chroma, the dominant web
    layout: each MCU carries 4 luma + 1 Cb + 1 Cr block).
    ``comment`` (optional) embeds a COM segment (marker 0xFFFE, T.81 §B.2.4.5)
    after APP0, UTF-8 encoded — the field crawlers mine for captions/credits.
    ``exif`` (optional) embeds a prebuilt APP1 payload (exifkit.exif_build)
    as marker 0xFFE1 right after APP0 — Exif 2.3's placement. Omitted, the
    output stays byte-identical. A comment beyond one segment's 65533-byte
    payload raises (splitting would shear UTF-8 sequences across segments;
    captions don't approach 64 KB)."""
    if subsampling not in ("444", "422", "420"):
        raise ValueError(f"jpeg: unsupported subsampling {subsampling!r}")
    sub420 = subsampling == "420"
    sub422 = subsampling == "422"
    h, w, _ = px.shape
    qy = _quality_scale(QUANT_LUM, quality)
    qc = _quality_scale(QUANT_CHROM, quality)
    d = _dct_matrix8()

    # pad to MCU multiples by edge replication
    # (8×8 at 4:4:4, 16-wide×8 at 4:2:2, 16×16 at 4:2:0)
    mcu_w = 8 if subsampling == "444" else 16
    mcu_h = 16 if sub420 else 8
    ph, pw = -(-h // mcu_h) * mcu_h, -(-w // mcu_w) * mcu_w
    ycc = _rgb_to_ycbcr(px)
    padded = np.pad(ycc, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    if sub420:
        chroma = (
            padded[0::2, 0::2, 1:] + padded[1::2, 0::2, 1:]
            + padded[0::2, 1::2, 1:] + padded[1::2, 1::2, 1:]
        ) / 4.0
    elif sub422:
        chroma = (padded[:, 0::2, 1:] + padded[:, 1::2, 1:]) / 2.0

    dc_y = _build_huffman(DC_LUM_BITS, DC_LUM_VALS)
    ac_y = _build_huffman(AC_LUM_BITS, AC_LUM_VALS)
    dc_c = _build_huffman(DC_CHROM_BITS, DC_CHROM_VALS)
    ac_c = _build_huffman(AC_CHROM_BITS, AC_CHROM_VALS)

    bw = _BitWriter()
    prev_dc = [0, 0, 0]

    def put_block(tile: np.ndarray, comp: int) -> None:
        q = qy if comp == 0 else qc
        dct = d @ (tile - 128.0) @ d.T
        coef = np.round(dct / q).astype(np.int64).flatten()[ZIGZAG]
        dch, ach = (dc_y, ac_y) if comp == 0 else (dc_c, ac_c)
        diff = int(coef[0]) - prev_dc[comp]
        prev_dc[comp] = int(coef[0])
        cat = _category(diff)
        code, length = dch[cat]
        bw.write(code, length)
        if cat:
            bw.write(_amplitude_bits(diff, cat), cat)
        run = 0
        nz = np.nonzero(coef[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(coef[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ach[0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            cat = _category(v)
            code, length = ach[(run << 4) | cat]
            bw.write(code, length)
            bw.write(_amplitude_bits(v, cat), cat)
            run = 0
        if last < 63:
            code, length = ach[0x00]  # EOB
            bw.write(code, length)

    if sub420:
        for my in range(0, ph, 16):
            for mx in range(0, pw, 16):
                for v in range(2):
                    for hh in range(2):
                        y0, x0 = my + v * 8, mx + hh * 8
                        put_block(padded[y0 : y0 + 8, x0 : x0 + 8, 0], 0)
                cy, cx = my // 2, mx // 2
                put_block(chroma[cy : cy + 8, cx : cx + 8, 0], 1)
                put_block(chroma[cy : cy + 8, cx : cx + 8, 1], 2)
    elif sub422:
        for my in range(0, ph, 8):
            for mx in range(0, pw, 16):
                put_block(padded[my : my + 8, mx : mx + 8, 0], 0)
                put_block(padded[my : my + 8, mx + 8 : mx + 16, 0], 0)
                cx = mx // 2
                put_block(chroma[my : my + 8, cx : cx + 8, 0], 1)
                put_block(chroma[my : my + 8, cx : cx + 8, 1], 2)
    else:
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                for comp in range(3):
                    put_block(padded[by : by + 8, bx : bx + 8, comp], comp)
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dht(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([tc_th]) + bytes(bits) + bytes(vals)

    apps = []
    if exif is not None:
        if len(exif) > 65533:
            raise ValueError("jpeg: exif exceeds one APP1 segment (65533 bytes)")
        apps.append(seg(0xFFE1, exif))
    if comment is not None:
        cb = comment.encode("utf-8")
        if len(cb) > 65533:
            raise ValueError("jpeg: comment exceeds one COM segment (65533 bytes)")
        apps.append(seg(0xFFFE, cb))
    out = [
        b"\xff\xd8",  # SOI
        seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
        *apps,
        seg(0xFFDB, b"\x00" + bytes(qy.flatten()[ZIGZAG].astype(np.uint8))),
        seg(0xFFDB, b"\x01" + bytes(qc.flatten()[ZIGZAG].astype(np.uint8))),
        seg(
            0xFFC0,  # SOF0 baseline
            struct.pack(">BHHB", 8, h, w, 3)
            + bytes([1, 0x22 if sub420 else (0x21 if sub422 else 0x11),
                     0, 2, 0x11, 1, 3, 0x11, 1]),
        ),
        seg(0xFFC4, dht(0x00, DC_LUM_BITS, DC_LUM_VALS)),
        seg(0xFFC4, dht(0x10, AC_LUM_BITS, AC_LUM_VALS)),
        seg(0xFFC4, dht(0x01, DC_CHROM_BITS, DC_CHROM_VALS)),
        seg(0xFFC4, dht(0x11, AC_CHROM_BITS, AC_CHROM_VALS)),
        seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])),
        entropy,
        b"\xff\xd9",  # EOI
    ]
    return b"".join(out)


def jpeg_encode_progressive(
    px: np.ndarray, quality: int = 85, restart_interval: int = 0
) -> bytes:
    """(h, w, 3) uint8 RGB → progressive JFIF bytes (SOF2, 4:4:4, standard
    tables) with a successive-approximation scan script that exercises all
    four progressive entropy modes (T.81 Annex G): an interleaved DC-first
    scan at Al=1, per-component AC-first scans at Al=1, an interleaved
    DC-refinement scan, and per-component AC-refinement scans — i.e. the
    same machinery real web encoders (libjpeg scan scripts) emit. EOB runs
    are emitted as single-block EOBs (always spec-valid; the decoder
    handles arbitrary EOBn from other encoders)."""
    h, w, _ = px.shape
    qy = _quality_scale(QUANT_LUM, quality)
    qc = _quality_scale(QUANT_CHROM, quality)
    d = _dct_matrix8()
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    ycc = _rgb_to_ycbcr(px)
    padded = np.pad(ycc, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    nby, nbx = ph // 8, pw // 8
    coefs = np.zeros((3, nby, nbx, 64), dtype=np.int64)
    for ci in range(3):
        q = qy if ci == 0 else qc
        for by in range(nby):
            for bx in range(nbx):
                dct = d @ (
                    padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, ci] - 128.0
                ) @ d.T
                coefs[ci, by, bx] = np.round(dct / q).astype(np.int64).flatten()[
                    ZIGZAG
                ]

    dc_tabs = [
        _build_huffman(DC_LUM_BITS, DC_LUM_VALS),
        _build_huffman(DC_CHROM_BITS, DC_CHROM_VALS),
    ]
    ac_tabs = [
        _build_huffman(AC_LUM_BITS, AC_LUM_VALS),
        _build_huffman(AC_CHROM_BITS, AC_CHROM_VALS),
    ]

    def sos(scan_comps: list[tuple[int, int, int]], ss, se, ah, al) -> bytes:
        p = bytes([len(scan_comps)])
        for cid, td, ta in scan_comps:
            p += bytes([cid, (td << 4) | ta])
        p += bytes([ss, se, (ah << 4) | al])
        return struct.pack(">HH", 0xFFDA, len(p) + 2) + p

    def emit(sym: int, tab, bw: _BitWriter) -> None:
        code, length = tab[sym]
        bw.write(code, length)

    def dc_first_scan(al: int, ri: int = 0) -> bytes:
        out = bytearray()
        bw = _BitWriter()
        prev = [0, 0, 0]
        rst = 0
        for mcu in range(nby * nbx):
            if ri and mcu and mcu % ri == 0:
                out += bw.flush() + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                prev = [0, 0, 0]
            by, bx = divmod(mcu, nbx)
            for ci in range(3):
                tab = dc_tabs[0 if ci == 0 else 1]
                v = int(coefs[ci, by, bx, 0]) >> al
                diff = v - prev[ci]
                prev[ci] = v
                cat = _category(diff)
                emit(cat, tab, bw)
                if cat:
                    bw.write(_amplitude_bits(diff, cat), cat)
        return bytes(out + bw.flush())

    def dc_refine_scan(al: int) -> bytes:
        bw = _BitWriter()
        for by in range(nby):
            for bx in range(nbx):
                for ci in range(3):
                    bw.write((int(coefs[ci, by, bx, 0]) >> al) & 1, 1)
        return bw.flush()

    def ac_first_scan(ci: int, al: int) -> bytes:
        bw = _BitWriter()
        tab = ac_tabs[0 if ci == 0 else 1]
        for by in range(nby):
            for bx in range(nbx):
                blk = coefs[ci, by, bx]
                t = [
                    (1 if v > 0 else -1) * (abs(int(v)) >> al)
                    for v in blk[1:64]
                ]
                nz = [i for i, v in enumerate(t) if v]
                last = nz[-1] + 1 if nz else 0
                run = 0
                for i in range(last):
                    v = t[i]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        emit(0xF0, tab, bw)
                        run -= 16
                    cat = _category(v)
                    emit((run << 4) | cat, tab, bw)
                    bw.write(_amplitude_bits(v, cat), cat)
                    run = 0
                if last < 63:
                    emit(0x00, tab, bw)  # EOB (run length 1)
        return bw.flush()

    def ac_refine_scan(ci: int, al: int) -> bytes:
        bw = _BitWriter()
        tab = ac_tabs[0 if ci == 0 else 1]
        for by in range(nby):
            for bx in range(nbx):
                blk = coefs[ci, by, bx]
                # last newly-nonzero position: ZRLs beyond it fold into EOB
                kex = 0
                for k in range(1, 64):
                    if abs(int(blk[k])) >> al == 1 and abs(int(blk[k])) >> (
                        al + 1
                    ) == 0:
                        kex = k
                run = 0
                pending: list[int] = []  # correction bits ride the next symbol
                for k in range(1, 64):
                    v = int(blk[k])
                    t = abs(v) >> al
                    if t == 0:
                        run += 1
                        continue
                    # the ZRL check runs at EVERY nonzero encounter (T.81
                    # G.1.2.3 / libjpeg ordering) — checking only at newly-
                    # nonzero coefficients lets correction bits from beyond
                    # the decoder's 16-zero window flush too early and
                    # desynchronizes the stream
                    while run > 15 and k <= kex:
                        emit(0xF0, tab, bw)
                        for b in pending:
                            bw.write(b, 1)
                        pending = []
                        run -= 16
                    if t == 1 and (abs(v) >> (al + 1)) == 0:  # newly nonzero
                        emit((run << 4) | 1, tab, bw)
                        bw.write(1 if v > 0 else 0, 1)
                        for b in pending:
                            bw.write(b, 1)
                        pending = []
                        run = 0
                    else:  # history coefficient: one correction bit
                        pending.append((abs(v) >> al) & 1)
                if run > 0 or pending:
                    emit(0x00, tab, bw)  # EOB run of 1
                    for b in pending:
                        bw.write(b, 1)
        return bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dht(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([tc_th]) + bytes(bits) + bytes(vals)

    all3 = [(1, 0, 0), (2, 1, 1), (3, 1, 1)]
    out = [
        b"\xff\xd8",
        seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
        seg(0xFFDB, b"\x00" + bytes(qy.flatten()[ZIGZAG].astype(np.uint8))),
        seg(0xFFDB, b"\x01" + bytes(qc.flatten()[ZIGZAG].astype(np.uint8))),
        seg(
            0xFFC2,  # SOF2 progressive
            struct.pack(">BHHB", 8, h, w, 3)
            + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
        ),
        seg(0xFFC4, dht(0x00, DC_LUM_BITS, DC_LUM_VALS)),
        seg(0xFFC4, dht(0x10, AC_LUM_BITS, AC_LUM_VALS)),
        seg(0xFFC4, dht(0x01, DC_CHROM_BITS, DC_CHROM_VALS)),
        seg(0xFFC4, dht(0x11, AC_CHROM_BITS, AC_CHROM_VALS)),
    ]
    if restart_interval:
        out.append(seg(0xFFDD, struct.pack(">H", restart_interval)))
    out += [sos(all3, 0, 0, 0, 1), dc_first_scan(1, restart_interval)]
    if restart_interval:  # disable restarts for the remaining scans
        out.append(seg(0xFFDD, struct.pack(">H", 0)))
    for ci, cid in ((0, 1), (1, 2), (2, 3)):
        out += [sos([(cid, 0, 0 if ci == 0 else 1)], 1, 63, 0, 1),
                ac_first_scan(ci, 1)]
    out += [sos(all3, 0, 0, 1, 0), dc_refine_scan(0)]
    for ci, cid in ((0, 1), (1, 2), (2, 3)):
        out += [sos([(cid, 0, 0 if ci == 0 else 1)], 1, 63, 1, 0),
                ac_refine_scan(ci, 0)]
    out.append(b"\xff\xd9")
    return b"".join(out)


# ---------------------------------------------------------------------------
# table-driven entropy reader (shared by sequential and progressive scans)
# ---------------------------------------------------------------------------

# Zero bytes appended to every restart segment. One block reads at most
# 16 + 16 DC bits and 63 × (16 + 15) AC bits (~250 bytes), so a block that
# runs past the segment's end stays inside the padding, and the
# ``pos > nbits`` check after every block in ``_decode_scan`` reports it.
_PAD = 256


def _huffman_lookup(
    bits: list[int], vals: list[int]
) -> tuple[list[int], list[int], list[int], list[int]]:
    """(BITS, HUFFVAL) → (fast, maxcode, valptr, vals) for one DHT table.

    ``fast`` has one entry per 9-bit lookahead: ``(length << 8) | symbol``
    when a code of at most 9 bits starts there, else 0. Longer codes take
    the canonical path of T.81 F.2.2.3: the first length ``l`` whose
    ``l``-bit prefix is ≤ ``maxcode[l]`` ends the code, and its symbol is
    ``vals[valptr[l] + prefix]`` (``valptr`` already has MINCODE folded
    in). A table whose counts overflow the code space, or that has fewer
    values than codes, raises."""
    if len(vals) < sum(bits):
        raise ValueError("jpeg: truncated Huffman table")
    fast = [0] * 512
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = k = 0
    for length in range(1, 17):
        n = bits[length - 1]
        if code + n > 1 << length:
            raise ValueError("jpeg: bad Huffman table")
        valptr[length] = k - code
        for _ in range(n):
            if length <= 9:
                span = 1 << (9 - length)
                lo = code << (9 - length)
                fast[lo : lo + span] = [(length << 8) | vals[k]] * span
            code += 1
            k += 1
        if n:
            maxcode[length] = code - 1
        code <<= 1
    return fast, maxcode, valptr, vals


def _segment_windows(segment: bytes) -> tuple[list[int], int]:
    """Unstuff one restart segment → (windows, nbits). ``windows[i]`` holds
    bytes i, i+1 and i+2 as one 24-bit int, so the 16 bits at bit position
    ``p`` are ``(windows[p >> 3] >> (8 - (p & 7))) & 0xFFFF``; ``nbits``
    counts the segment's real bits (the rest is zero padding)."""
    data = segment.replace(b"\xff\x00", b"\xff")
    b = np.frombuffer(data + bytes(_PAD), dtype=np.uint8).astype(np.int64)
    return ((b[:-2] << 16) | (b[1:-1] << 8) | b[2:]).tolist(), 8 * len(data)


def _symbol(win: list[int], pos: int, table) -> tuple[int, int]:
    """One Huffman symbol at bit ``pos`` → (symbol, bit position after it)."""
    peek = (win[pos >> 3] >> (8 - (pos & 7))) & 0xFFFF
    e = table[0][peek >> 7]
    if e:
        return e & 0xFF, pos + (e >> 8)
    _, maxcode, valptr, vals = table
    for length in range(10, 17):
        code = peek >> (16 - length)
        if code <= maxcode[length]:
            return vals[valptr[length] + code], pos + length
    raise ValueError("jpeg: invalid Huffman code")


def _receive(win: list[int], pos: int, n: int) -> int:
    """The ``n`` ≤ 16 raw bits at bit ``pos``, unsigned."""
    return (win[pos >> 3] >> (24 - (pos & 7) - n)) & ((1 << n) - 1)


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


@rejects_malformed("jpeg")
def jpeg_comments(body: bytes) -> list[str]:
    """All COM segments (marker 0xFFFE) before the scan, UTF-8 decoded in
    stream order — the crawl-side caption/credit mining surface. Walks the
    same marker structure as the decoder (bad alignment raises); stops at
    SOS/EOI since COM cannot occur inside entropy data."""
    if body[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    out: list[str] = []
    while pos + 4 <= len(body):
        if body[pos] != 0xFF:
            raise ValueError(f"jpeg: bad marker alignment at {pos}")
        marker = body[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS
            break
        seg_len = struct.unpack(">H", body[pos + 2 : pos + 4])[0]
        if marker == 0xFE:
            out.append(body[pos + 4 : pos + 2 + seg_len].decode("utf-8"))
        pos += 2 + seg_len
    return out


def _entropy_segments(body: bytes, pos: int) -> tuple[list[bytes], int]:
    """Slice one scan's entropy-coded data starting at ``pos`` into
    restart-interval segments (split on RST0-7; 0xFF00 stuffing stays for
    ``_segment_windows`` to unstuff). Returns (segments, index of the
    terminating marker's 0xFF)."""
    segs: list[bytes] = []
    start = i = pos
    while True:
        i = body.find(b"\xff", i)
        if i < 0 or i >= len(body) - 1:
            raise ValueError(
                "jpeg: entropy data has no terminating marker (truncated)"
            )
        nxt = body[i + 1]
        if nxt == 0x00:
            i += 2
            continue
        segs.append(body[start:i])
        if 0xD0 <= nxt <= 0xD7:  # RSTn
            i += 2
            start = i
            continue
        return segs, i


def _decode_scan(
    segments: list[bytes],
    scan: list[tuple[int, int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    comps: list[tuple[int, int, int, int]],
    coefs: list[np.ndarray],
    real_grids: list[tuple[int, int]],
    mcu_dims: tuple[int, int],
    huff: dict[tuple[int, int], tuple],
    restart_interval: int,
    progressive: bool,
) -> None:
    """Decode one scan into the per-component zigzag coefficient stores
    ``coefs[ci][by, bx, k]`` (T.81 §F.2 sequential, §G.2 progressive: DC
    first/refine, AC first/refine with EOB runs). Interleaved scans walk
    MCUs emitting hi×vi blocks per component (4:2:0's 4×Y+Cb+Cr);
    non-interleaved scans walk the component's OWN block grid. Restart
    markers reset the DC predictors and the EOB run and realign to the
    next segment. Each block is decoded in a Python list and written back
    to its store once."""
    interleaved = len(scan) > 1
    if progressive and se and interleaved:
        raise ValueError("jpeg: interleaved progressive AC scan")
    mcuy, mcux = mcu_dims
    if interleaved:
        n_units = mcuy * mcux
    else:
        rows0, cols0 = real_grids[scan[0][0]]
        n_units = rows0 * cols0
    dc_tabs = {ci: huff[(0, td)] for ci, td, _ in scan} if ss == 0 and ah == 0 else {}
    ac_tabs = {ci: huff[(1, ta)] for ci, _, ta in scan} if se else {}
    geom = [(ci, comps[ci][1], comps[ci][2]) for ci, _, _ in scan]
    seg_i = 0
    win, nbits = _segment_windows(segments[0])
    pos = 0
    prev_dc = [0, 0, 0]
    eobrun = 0
    p1, m1 = 1 << al, -1 << al

    for unit in range(n_units):
        if restart_interval and unit and unit % restart_interval == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("jpeg: missing restart segment")
            win, nbits = _segment_windows(segments[seg_i])
            pos = 0
            prev_dc = [0, 0, 0]
            eobrun = 0
        if interleaved:
            my, mx = divmod(unit, mcux)
            blocks = [
                (ci, my * vi + v, mx * hi + hh)
                for ci, hi, vi in geom
                for v in range(vi)
                for hh in range(hi)
            ]
        else:
            ci = scan[0][0]
            blocks = [(ci, *divmod(unit, real_grids[ci][1]))]
        for ci, by, bx in blocks:
            blk = coefs[ci][by, bx].tolist()
            if ss == 0 and ah == 0:
                # DC first (progressive) or the DC half of a sequential scan
                cat, pos = _symbol(win, pos, dc_tabs[ci])
                if cat > 16:
                    raise ValueError("jpeg: bad DC category")
                if cat:
                    prev_dc[ci] += _extend(_receive(win, pos, cat), cat)
                    pos += cat
                blk[0] = prev_dc[ci] << al
            elif ss == 0:  # DC refinement: one raw bit per block
                if _receive(win, pos, 1):
                    blk[0] |= p1
                pos += 1
            if se == 0:
                pass  # a DC-only scan: the block is done
            elif not progressive:
                # sequential AC: full band follows the DC in the same ECS
                ac = ac_tabs[ci]
                fast = ac[0]
                k = 1
                while k <= se:
                    # _symbol and _receive inlined: this loop decodes nearly
                    # every coefficient of a baseline stream
                    e = fast[(win[pos >> 3] >> (15 - (pos & 7))) & 0x1FF]
                    if e:
                        rs = e & 0xFF
                        pos += e >> 8
                    else:
                        rs, pos = _symbol(win, pos, ac)
                    size = rs & 0xF
                    if size:
                        k += rs >> 4
                        if k > se:
                            raise ValueError("jpeg: AC index overflow")
                        v = (win[pos >> 3] >> (24 - (pos & 7) - size)) & ((1 << size) - 1)
                        blk[k] = v if v >> (size - 1) else v - (1 << size) + 1
                        pos += size
                        k += 1
                    elif rs == 0xF0:
                        k += 16
                    elif rs == 0x00:
                        break
                    else:
                        raise ValueError("jpeg: bad AC symbol")
            elif ah == 0:  # AC first (§G.2.2): values at bit precision al
                if eobrun > 0:  # the block lies in an EOB run: no bits
                    eobrun -= 1
                    continue
                ac = ac_tabs[ci]
                k = ss
                while k <= se:
                    rs, pos = _symbol(win, pos, ac)
                    run, size = rs >> 4, rs & 0xF
                    if size == 0:
                        if run != 15:
                            eobrun = (1 << run) - 1 + _receive(win, pos, run)
                            pos += run
                            break
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > se:
                        raise ValueError("jpeg: AC index overflow")
                    blk[k] = _extend(_receive(win, pos, size), size) << al
                    pos += size
                    k += 1
            else:  # AC refinement (§G.2.3): corrections + new ±1<<al coeffs
                ac = ac_tabs[ci]
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs, pos = _symbol(win, pos, ac)
                        run, size = rs >> 4, rs & 0xF
                        val = 0
                        if size == 0:
                            if run != 15:
                                eobrun = (1 << run) + _receive(win, pos, run)
                                pos += run
                                break  # this block finishes in the EOB pass
                            # ZRL: run of 16 zero-history positions
                        elif size != 1:
                            raise ValueError("jpeg: bad AC-refinement symbol")
                        else:
                            val = p1 if _receive(win, pos, 1) else m1
                            pos += 1
                        while k <= se:
                            c = blk[k]
                            if c:  # history coefficient: one correction bit
                                if _receive(win, pos, 1) and c & p1 == 0:
                                    blk[k] = c + (p1 if c > 0 else m1)
                                pos += 1
                            elif run == 0:
                                break
                            else:
                                run -= 1
                            k += 1
                        if val and k <= se:
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        c = blk[k]
                        if c:
                            if _receive(win, pos, 1) and c & p1 == 0:
                                blk[k] = c + (p1 if c > 0 else m1)
                            pos += 1
                        k += 1
                    eobrun -= 1
            coefs[ci][by, bx] = blk
            if pos > nbits:
                raise ValueError("jpeg: entropy data exhausted")


@rejects_malformed("jpeg")
def jpeg_decode(body: bytes) -> np.ndarray:
    """JFIF bytes → (h, w, 3) uint8 RGB, decoded with the tables embedded in
    the stream: baseline (SOF0) AND progressive (SOF2 — spectral selection,
    successive approximation with DC/AC first+refinement scans, EOB runs,
    restart markers), 8-bit, 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0 sampling (chroma
    upsampled by pixel replication)."""
    if body[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple] = {}
    h = w = 0
    comps: list[tuple[int, int, int, int]] = []  # (id, hi, vi, tq)
    real_grids: list[tuple[int, int]] = []
    mcu_dims = (0, 0)
    hmax = vmax = 1
    coefs = None
    progressive = False
    restart_interval = 0
    saw_eoi = saw_scan = False
    while pos < len(body) - 1:
        if body[pos] != 0xFF:
            raise ValueError(f"jpeg: bad marker alignment at {pos}")
        marker = body[pos + 1]
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RST
            pos += 2
            continue
        seg_len = struct.unpack(">H", body[pos + 2 : pos + 4])[0]
        payload = body[pos + 4 : pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT (possibly several tables per marker)
            o = 0
            while o < len(payload):
                pq, tq = payload[o] >> 4, payload[o] & 0xF
                if pq != 0:
                    raise ValueError("jpeg: only 8-bit quant tables supported")
                tbl = np.frombuffer(payload[o + 1 : o + 65], dtype=np.uint8)
                qt[tq] = tbl.astype(np.int64)[UNZIGZAG].reshape(8, 8)
                o += 65
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(payload):
                tc, th = payload[o] >> 4, payload[o] & 0xF
                bits = list(payload[o + 1 : o + 17])
                nv = sum(bits)
                vals = list(payload[o + 17 : o + 17 + nv])
                huff[(tc, th)] = _huffman_lookup(bits, vals)
                o += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8 or nc != 3:
                raise ValueError("jpeg: only 8-bit 3-component supported")
            for ci in range(nc):
                cid, samp, tq = payload[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, samp >> 4, samp & 0xF, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if (
                any(not c[1] or not c[2] or hmax % c[1] or vmax % c[2] for c in comps)
                or hmax > 2
                or vmax > 2
            ):
                raise ValueError("jpeg: unsupported sampling-factor layout")
            mcu_dims = (-(-h // (8 * vmax)), -(-w // (8 * hmax)))
            coefs, real_grids = [], []
            for _, hi, vi, _ in comps:
                wc, hc = -(-w * hi // hmax), -(-h * vi // vmax)
                real_grids.append((-(-hc // 8), -(-wc // 8)))
                # MCU-padded store: interleaved scans may touch dummy blocks
                coefs.append(
                    np.zeros(
                        (mcu_dims[0] * vi, mcu_dims[1] * hi, 64), dtype=np.int64
                    )
                )
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA):
            raise ValueError("jpeg: only baseline (SOF0) / progressive (SOF2)")
        elif marker == 0xDA:  # SOS
            if coefs is None:
                raise ValueError("jpeg: SOS before SOF")
            ns = payload[0]
            scan = []
            for si in range(ns):
                cid = payload[1 + 2 * si]
                td, ta = payload[2 + 2 * si] >> 4, payload[2 + 2 * si] & 0xF
                idx = next(i for i, c in enumerate(comps) if c[0] == cid)
                scan.append((idx, td, ta))
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ah, al = payload[3 + 2 * ns] >> 4, payload[3 + 2 * ns] & 0xF
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            segments, pos = _entropy_segments(body, pos)
            _decode_scan(
                segments, scan, ss, se, ah, al, comps, coefs, real_grids,
                mcu_dims, huff, restart_interval, progressive,
            )
            saw_scan = True
        # APPn / COM: skipped
    if coefs is None or not saw_scan:
        raise ValueError("jpeg: no scan data")
    if not saw_eoi:
        # a body with no EOI marker is a truncated download even when every
        # entropy bit decoded
        raise ValueError("jpeg: missing EOI (truncated stream)")
    d = _dct_matrix8()
    planes = []
    for ci, (_, hi, vi, tq) in enumerate(comps):
        q = qt[tq]
        rows, cols = real_grids[ci]
        plane = np.zeros((rows * 8, cols * 8), dtype=np.float64)
        for by in range(rows):
            for bx in range(cols):
                block = (
                    coefs[ci][by, bx][UNZIGZAG].reshape(8, 8) * q
                ).astype(np.float64)
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    d.T @ block @ d
                ) + 128.0
        wc, hc = -(-w * hi // hmax), -(-h * vi // vmax)
        plane = plane[:hc, :wc]
        if hi != hmax or vi != vmax:  # chroma upsample by replication
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
            )
        planes.append(plane[:h, :w])
    ycc = np.stack(planes, axis=-1)
    return _ycbcr_to_rgb(ycc)
