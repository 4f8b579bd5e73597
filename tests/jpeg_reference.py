"""Bit-serial reference JPEG decoder for the equality tests.

This is the decoder ``functions/jpegkit.py`` shipped before its entropy
reader became table-driven: one method call per bit (``_BitReader``), and a
Huffman symbol found by growing the code one bit at a time and probing a
``{(length, code): symbol}`` dict. It is about 20 times slower than the
table-driven reader and is kept only so ``tests/test_jpeg_reference.py``
can require ``jpegkit.jpeg_decode`` to be pixel-identical to it. Marker
parsing, dequantization, the IDCT and the color transform are copies of the
production decoder's, so on well-formed streams the two differ only in how
they read the entropy-coded data. Malformed headers can still part them:
the production decoder raises ``ValueError`` on a Huffman table whose
counts overflow its code space and on a zero sampling factor (this copy
accepts the first and raises ``ZeroDivisionError`` on the second), and it
keeps every code of a table that repeats a value, where this copy keeps
only the last.
"""

from __future__ import annotations

import struct

import numpy as np

from europarl_crawler_spark.functions.jpegkit import (
    UNZIGZAG,
    _build_huffman,
    _dct_matrix8,
    _ycbcr_to_rgb,
)
from europarl_crawler_spark.functions.kitguard import rejects_malformed


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(BITS, HUFFVAL) → {(length, code): symbol}."""
    return {
        (length, code): sym
        for sym, (code, length) in _build_huffman(bits, vals).items()
    }


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("jpeg: entropy data exhausted")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                self.pos += 1  # unstuff
            else:
                raise ValueError("jpeg: unexpected marker in entropy data")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _read_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid Huffman code")


def _entropy_segments(body: bytes, pos: int) -> tuple[list[bytes], int]:
    """Slice one scan's entropy-coded data starting at ``pos`` into
    restart-interval segments (split on RST0-7; 0xFF00 stuffing stays for
    the bit reader to unstuff). Returns (segments, index of the terminating
    marker's 0xFF)."""
    segs: list[bytes] = []
    start = i = pos
    while i < len(body) - 1:
        if body[i] != 0xFF:
            i += 1
            continue
        nxt = body[i + 1]
        if nxt == 0x00:
            i += 2
            continue
        if 0xD0 <= nxt <= 0xD7:  # RSTn
            segs.append(body[start:i])
            i += 2
            start = i
            continue
        segs.append(body[start:i])
        return segs, i
    raise ValueError("jpeg: entropy data has no terminating marker (truncated)")


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
    huff: dict[tuple[int, int], dict[tuple[int, int], int]],
    restart_interval: int,
    progressive: bool,
) -> None:
    """Decode one scan into the per-component zigzag coefficient stores
    ``coefs[ci][by, bx, k]`` (T.81 §F.2 sequential, §G.2 progressive: DC
    first/refine, AC first/refine with EOB runs). Interleaved scans walk
    MCUs emitting hi×vi blocks per component (4:2:0's 4×Y+Cb+Cr);
    non-interleaved scans walk the component's OWN block grid. Restart
    markers reset the DC predictors and the EOB run and realign to the
    next segment."""
    interleaved = len(scan) > 1
    mcuy, mcux = mcu_dims
    if interleaved:
        n_units = mcuy * mcux
    else:
        rows0, cols0 = real_grids[scan[0][0]]
        n_units = rows0 * cols0
    seg_i = 0
    br = _BitReader(segments[0])
    prev_dc = [0, 0, 0]
    eobrun = 0
    p1, m1 = 1 << al, -1 << al

    def refine_nonzero(block: np.ndarray, k: int) -> None:
        if br.read_bit() and (int(block[k]) & p1) == 0:
            block[k] += p1 if block[k] > 0 else m1

    for unit in range(n_units):
        if restart_interval and unit and unit % restart_interval == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("jpeg: missing restart segment")
            br = _BitReader(segments[seg_i])
            prev_dc = [0, 0, 0]
            eobrun = 0
        blocks: list[tuple[np.ndarray, int, int, int]] = []
        if interleaved:
            my, mx = divmod(unit, mcux)
            for ci, td, ta in scan:
                _, hi, vi, _ = comps[ci]
                for v in range(vi):
                    for hh in range(hi):
                        blocks.append(
                            (coefs[ci][my * vi + v, mx * hi + hh], ci, td, ta)
                        )
        else:
            ci, td, ta = scan[0]
            by, bx = divmod(unit, real_grids[ci][1])
            blocks.append((coefs[ci][by, bx], ci, td, ta))
        for block, ci, td, ta in blocks:
            if ss == 0 and ah == 0:
                # DC first (progressive) or the DC half of a sequential scan
                cat = _read_symbol(br, huff[(0, td)])
                diff = _extend(br.read_bits(cat), cat) if cat else 0
                prev_dc[ci] += diff
                block[0] = prev_dc[ci] << al
            elif ss == 0:  # DC refinement: one raw bit per block
                if br.read_bit():
                    block[0] = int(block[0]) | p1
            if se == 0:
                continue
            if not progressive:
                # sequential AC: full band follows the DC in the same ECS
                ac = huff[(1, ta)]
                k = 1
                while k <= se:
                    rs = _read_symbol(br, ac)
                    run, size = rs >> 4, rs & 0xF
                    if rs == 0x00:
                        break
                    if rs == 0xF0:
                        k += 16
                        continue
                    k += run
                    if k > se:
                        raise ValueError("jpeg: AC index overflow")
                    block[k] = _extend(br.read_bits(size), size)
                    k += 1
                continue
            if interleaved:
                raise ValueError("jpeg: interleaved progressive AC scan")
            ac = huff[(1, ta)]
            if ah == 0:  # AC first (§G.2.2): values at bit precision al
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = _read_symbol(br, ac)
                    run, size = rs >> 4, rs & 0xF
                    if size == 0:
                        if run != 15:
                            eobrun = (1 << run) - 1 + (
                                br.read_bits(run) if run else 0
                            )
                            break
                        k += 16  # ZRL
                        continue
                    k += run
                    if k > se:
                        raise ValueError("jpeg: AC index overflow")
                    block[k] = _extend(br.read_bits(size), size) << al
                    k += 1
            else:  # AC refinement (§G.2.3): corrections + new ±1<<al coeffs
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _read_symbol(br, ac)
                        run, size = rs >> 4, rs & 0xF
                        val = 0
                        if size == 0:
                            if run != 15:
                                eobrun = (1 << run) + (
                                    br.read_bits(run) if run else 0
                                )
                                break  # this block finishes in the EOB pass
                            # ZRL: run of 16 zero-history positions
                        else:
                            if size != 1:
                                raise ValueError(
                                    "jpeg: bad AC-refinement symbol"
                                )
                            val = p1 if br.read_bit() else m1
                        while k <= se:
                            if block[k] != 0:
                                refine_nonzero(block, k)
                            else:
                                if run == 0:
                                    break
                                run -= 1
                            k += 1
                        if val and k <= se:
                            block[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if block[k] != 0:
                            refine_nonzero(block, k)
                        k += 1
                    eobrun -= 1


@rejects_malformed("jpeg")
def reference_decode(body: bytes) -> np.ndarray:
    """JFIF bytes → (h, w, 3) uint8 RGB, decoded with the tables embedded in
    the stream: baseline (SOF0) AND progressive (SOF2 — spectral selection,
    successive approximation with DC/AC first+refinement scans, EOB runs,
    restart markers), 8-bit, 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0 sampling (chroma
    upsampled by pixel replication)."""
    if body[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
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
                huff[(tc, th)] = _build_decode_table(bits, vals)
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
            if any(hmax % c[1] or vmax % c[2] for c in comps) or hmax > 2 or vmax > 2:
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
