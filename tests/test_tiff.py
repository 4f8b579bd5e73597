"""TIFF 6.0 codec: LZW early-change bitstream, strips, predictor, byte
orders, malformed inputs, imaging-dispatch integration."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from europarl_crawler_spark.functions import imaging, tiffkit


def _px(h, w, seed=0):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3)).astype(np.uint8)


# ---------------------------------------------------------------------------
# LZW bitstream
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"\x00" * 1000,
        b"abcabcabcabc" * 10,
        bytes(np.random.RandomState(1).randint(0, 256, 50_000)),
        b"pattern123" * 8000,  # crosses every width bump AND the table reset
    ],
)
def test_lzw_roundtrip(data):
    assert tiffkit.lzw_decode(tiffkit.lzw_encode(data)) == data


def test_lzw_width_boundary_exact():
    """Data engineered to stride straight through the 9→10 bit early-change
    point: 300 distinct 2-byte pairs create >511 table entries."""
    data = bytes(
        b for i in range(600) for b in (i % 251, (i * 7) % 251)
    )
    assert tiffkit.lzw_decode(tiffkit.lzw_encode(data)) == data


def test_lzw_truncation_raises():
    enc = tiffkit.lzw_encode(b"some data worth encoding" * 10)
    with pytest.raises(ValueError):
        tiffkit.lzw_decode(enc[: len(enc) // 2])


def test_lzw_kwkwk_case():
    # aaaa... forces the code-equals-table-size (KwKwK) decode branch
    data = b"a" * 100
    assert tiffkit.lzw_decode(tiffkit.lzw_encode(data)) == data


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("byte_order", ["II", "MM"])
@pytest.mark.parametrize("compression", ["none", "lzw"])
@pytest.mark.parametrize("predictor", [False, True])
def test_tiff_roundtrip_variants(byte_order, compression, predictor):
    for h, w in [(1, 1), (8, 8), (13, 7), (32, 20)]:
        px = _px(h, w, seed=h * 100 + w)
        enc = tiffkit.tiff_encode(
            px, compression=compression, byte_order=byte_order,
            rows_per_strip=5, predictor=predictor,
        )
        assert np.array_equal(tiffkit.tiff_decode(enc), px)


def test_single_strip_inline_offsets():
    """rows_per_strip ≥ h ⇒ one strip, offsets/counts inline in the IFD —
    the other value-field layout path."""
    px = _px(6, 6, seed=3)
    enc = tiffkit.tiff_encode(px, rows_per_strip=64)
    assert np.array_equal(tiffkit.tiff_decode(enc), px)


def test_lzw_predictor_compresses_smooth_content():
    smooth = np.tile(np.arange(64, dtype=np.uint8).reshape(1, 64, 1), (64, 1, 3))
    plain = tiffkit.tiff_encode(smooth, compression="none")
    packed = tiffkit.tiff_encode(smooth, compression="lzw", predictor=True)
    assert len(packed) < len(plain) // 4


def test_foreign_layout_decodes():
    """A minimal hand-built MM TIFF (uncompressed, single strip, no
    RowsPerStrip tag — reader must default it to the image height, per
    spec) decodes — the shape other encoders commonly emit."""
    px = _px(4, 5, seed=9)
    e = ">"
    raw = px.tobytes()
    # header(8) | IFD: 8 tags | bits array(6) | pixel data
    n_tags = 8
    ifd_off = 8
    bits_off = ifd_off + 2 + n_tags * 12 + 4
    data_off = bits_off + 6

    def entry(tag, typ, count, field):
        return struct.pack(e + "HHI", tag, typ, count) + field

    L = lambda v: struct.pack(e + "I", v)  # noqa: E731
    S = lambda v: struct.pack(e + "H", v) + b"\x00\x00"  # noqa: E731
    ifd = struct.pack(e + "H", n_tags)
    ifd += entry(256, 4, 1, L(5))
    ifd += entry(257, 4, 1, L(4))
    ifd += entry(258, 3, 3, L(bits_off))
    ifd += entry(259, 3, 1, S(1))
    ifd += entry(262, 3, 1, S(2))
    ifd += entry(273, 4, 1, L(data_off))
    ifd += entry(277, 3, 1, S(3))
    ifd += entry(279, 4, 1, L(len(raw)))
    ifd += struct.pack(e + "I", 0)
    blob = b"MM" + struct.pack(e + "H", 42) + struct.pack(e + "I", ifd_off)
    blob += ifd + struct.pack(e + "HHH", 8, 8, 8) + raw
    assert np.array_equal(tiffkit.tiff_decode(blob), px)


@pytest.mark.parametrize(
    "mangle",
    [
        lambda b: b"XX" + b[2:],                      # bad byte order
        lambda b: b[:2] + b"\x00\x2b" + b[4:],        # magic 43
        lambda b: b[: len(b) // 2],                   # truncated strips
        lambda b: b[:16],                             # truncated IFD
        lambda b: b.replace(b"\x05\x00", b"\x07\x00", 1),  # unknown compression
    ],
)
def test_malformed_tiff_raises(mangle):
    px = _px(8, 8, seed=4)
    enc = tiffkit.tiff_encode(px, compression="lzw", byte_order="II")
    with pytest.raises(ValueError):
        tiffkit.tiff_decode(mangle(bytes(enc)))


def test_imaging_dispatch_tiff():
    px = _px(16, 16, seed=5)
    body = imaging.encode(px, "tiff")
    assert np.array_equal(imaging.decode(body, 16, 16, "tiff"), px)
    assert "tiff" in imaging.LOSSLESS
    with pytest.raises(ValueError, match="mismatch"):
        imaging.decode(body, 8, 8, "tiff")  # metadata mismatch guard
