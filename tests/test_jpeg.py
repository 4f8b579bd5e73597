"""Baseline JPEG codec invariants (functions/jpegkit.py): JFIF structure,
round-trip PSNR at web and serving qualities, quality/size monotonicity,
odd-size padding, and graceful rejection of non-baseline streams."""

from __future__ import annotations

import numpy as np
import pytest

from europarl_crawler_spark.functions import imaging, jpegkit


def _smooth(h=24, w=40):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            (64 + xx * 3).clip(0, 255),
            (32 + yy * 4).clip(0, 255),
            (128 + 40 * np.sin(xx / 6)).clip(0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)


def _noise(h=16, w=16, key=3):
    rng = np.random.Generator(np.random.Philox(key=key))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_jfif_structure():
    body = jpegkit.jpeg_encode(_smooth(), quality=85)
    assert body[:2] == b"\xff\xd8" and body[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in body[:32]
    # the four marker kinds a baseline stream needs
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in body


def test_roundtrip_smooth_web_quality():
    px = _smooth()
    body = jpegkit.jpeg_encode(px, quality=85)
    dec = jpegkit.jpeg_decode(body)
    assert dec.shape == px.shape
    assert imaging.psnr(px, dec) >= 40.0
    # genuinely compressed, not a renamed raw dump
    assert len(body) < px.nbytes // 2


def test_noise_at_serving_quality_holds_psnr_invariant():
    # the crawl serves at imaging.JPEG_QUALITY; even worst-case content
    # (uniform noise) must hold the input_hint's PSNR >= 40 dB
    px = _noise()
    dec = jpegkit.jpeg_decode(jpegkit.jpeg_encode(px, quality=imaging.JPEG_QUALITY))
    assert imaging.psnr(px, dec) >= 40.0


def test_quality_ladder_monotone():
    px = _noise(h=24, w=24, key=9)
    sizes, psnrs = [], []
    for q in (50, 75, 90, 100):
        body = jpegkit.jpeg_encode(px, quality=q)
        sizes.append(len(body))
        psnrs.append(imaging.psnr(px, jpegkit.jpeg_decode(body)))
    assert sizes == sorted(sizes)
    assert psnrs == sorted(psnrs)


def test_odd_sizes_pad_and_crop():
    px = _smooth()[:17, :23]
    dec = jpegkit.jpeg_decode(jpegkit.jpeg_encode(px, quality=90))
    assert dec.shape == (17, 23, 3)
    assert imaging.psnr(px, dec) >= 38.0  # block padding at edges, still close


def test_imaging_dispatch_jpeg():
    px = _smooth(h=16, w=16)
    body = imaging.encode(px, "jpeg")
    assert body[:2] == b"\xff\xd8"
    dec = imaging.decode(body, 16, 16, "jpeg")
    assert imaging.psnr(px, dec) >= 40.0
    with pytest.raises(ValueError, match="mismatch"):
        imaging.decode(body, 8, 8, "jpeg")  # metadata mismatch is loud


def test_rejects_unsupported_sof_kinds():
    body = bytearray(jpegkit.jpeg_encode(_smooth(h=8, w=8), quality=85))
    i = bytes(body).find(b"\xff\xc0")
    body[i + 1] = 0xC3  # lossless SOF3: genuinely unsupported
    with pytest.raises(ValueError, match="SOF0"):
        jpegkit.jpeg_decode(bytes(body))
    # SOF2 relabeled onto a baseline-structured scan is MALFORMED progressive
    # (interleaved full-band scan) — must still raise cleanly, not decode
    body[i + 1] = 0xC2
    with pytest.raises(ValueError):
        jpegkit.jpeg_decode(bytes(body))
    with pytest.raises(ValueError, match="SOI"):
        jpegkit.jpeg_decode(b"notajpeg")


def test_rejects_zero_sampling_factor_and_overfull_huffman_table():
    body = jpegkit.jpeg_encode(_smooth(h=8, w=8), quality=85)
    sof = body.find(b"\xff\xc0")
    zero = bytearray(body)
    zero[sof + 11] = 0x10  # luma sampling 1×0 (the MCU grid divides by it)
    with pytest.raises(ValueError, match="sampling"):
        jpegkit.jpeg_decode(bytes(zero))
    dht = body.find(b"\xff\xc4")
    over = bytearray(body)
    # three 1-bit DC codes (two fit), same value count: BITS[1] 0→3, BITS[3] 5→2
    over[dht + 5], over[dht + 7] = 3, 2
    with pytest.raises(ValueError, match="bad Huffman table"):
        jpegkit.jpeg_decode(bytes(over))


def test_dc_differential_across_blocks():
    # >1 MCU in both dimensions with distinct per-block DC levels: exercises
    # the DC prediction chain and ZRL/EOB paths
    px = np.zeros((24, 24, 3), dtype=np.uint8)
    px[:8] = 30
    px[8:16] = 140
    px[16:] = 240
    dec = jpegkit.jpeg_decode(jpegkit.jpeg_encode(px, quality=92))
    assert imaging.psnr(px, dec) >= 40.0


def test_jpeg_com_comment_roundtrip():
    import numpy as np

    from europarl_crawler_spark.functions import jpegkit as jk

    rng = np.random.Generator(np.random.Philox(key=9))
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    b0 = jk.jpeg_encode(px)
    b1 = jk.jpeg_encode(px, comment="a café caption 日本語")
    assert jk.jpeg_comments(b0) == []
    assert jk.jpeg_comments(b1) == ["a café caption 日本語"]
    # COM must not disturb pixel decode; no-comment output byte-identical
    assert (jk.jpeg_decode(b1) == jk.jpeg_decode(b0)).all()
    assert jk.jpeg_encode(px) == b0


def test_jpeg_com_rejects_oversize_and_bad_stream():
    import numpy as np
    import pytest as _pytest

    from europarl_crawler_spark.functions import jpegkit as jk

    px = np.zeros((8, 8, 3), np.uint8)
    with _pytest.raises(ValueError, match="COM"):
        jk.jpeg_encode(px, comment="x" * 70000)
    with _pytest.raises(ValueError, match="SOI"):
        jk.jpeg_comments(b"not a jpeg")


# ---------------------------------------------------------------------------
# progressive (SOF2)
# ---------------------------------------------------------------------------


def test_progressive_decodes_identical_to_baseline():
    """Same quantized coefficients ⇒ progressive reassembly must reproduce
    the baseline decode EXACTLY, for every scan type in the script (DC
    first/refine interleaved, AC first/refine per component, EOB runs)."""
    rng = np.random.default_rng(9)
    for h, w in [(16, 16), (24, 17), (8, 8), (9, 13)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        base = jpegkit.jpeg_decode(jpegkit.jpeg_encode(px, quality=90))
        prog = jpegkit.jpeg_decode(jpegkit.jpeg_encode_progressive(px, quality=90))
        assert np.array_equal(base, prog), (h, w)


def test_progressive_holds_serving_psnr_invariant():
    rng = np.random.default_rng(21)
    px = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    dec = jpegkit.jpeg_decode(jpegkit.jpeg_encode_progressive(px, quality=97))
    assert imaging.psnr(px, dec) >= 40.0


def test_progressive_restart_markers():
    """DRI + RST0-7 in the interleaved DC scan (predictors reset per
    interval, markers cycle), then DRI=0 for the later scans."""
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (24, 24, 3)).astype(np.uint8)
    base = jpegkit.jpeg_decode(jpegkit.jpeg_encode(px, quality=90))
    for ri in (1, 2, 5):
        body = jpegkit.jpeg_encode_progressive(px, quality=90, restart_interval=ri)
        assert np.array_equal(jpegkit.jpeg_decode(body), base), ri
        assert b"\xff\xd0" in body  # a real RST marker was emitted


def test_progressive_truncation_raises():
    px = np.full((16, 16, 3), 77, dtype=np.uint8)
    body = jpegkit.jpeg_encode_progressive(px, quality=90)
    with pytest.raises(ValueError):
        jpegkit.jpeg_decode(body[: len(body) - 2])  # EOI gone
    with pytest.raises(ValueError):
        jpegkit.jpeg_decode(body[: len(body) // 2])


# ---------------------------------------------------------------------------
# 4:2:0 chroma subsampling (the dominant web layout)
# ---------------------------------------------------------------------------


def test_420_quadrant_geometry_exact():
    """Flat quadrant colors survive 2×2 chroma averaging exactly — any MCU
    block-order or chroma-plane indexing defect scrambles this."""
    px = np.zeros((32, 32, 3), np.uint8)
    px[:16, :16] = (200, 30, 30)
    px[:16, 16:] = (30, 200, 30)
    px[16:, :16] = (30, 30, 200)
    px[16:, 16:] = (200, 200, 30)
    dec = jpegkit.jpeg_decode(jpegkit.jpeg_encode(px, quality=97, subsampling="420"))
    assert np.array_equal(dec, px)


def test_420_smooth_psnr_and_odd_sizes():
    t = np.linspace(30, 220, 40)
    px = np.stack([np.add.outer(t, t / 2) % 255] * 3, -1).astype(np.uint8)
    dec = jpegkit.jpeg_decode(jpegkit.jpeg_encode(px, quality=97, subsampling="420"))
    assert imaging.psnr(px, dec) >= 40.0
    for h, w in [(23, 17), (8, 8), (9, 16), (17, 9)]:
        noisy = np.random.default_rng(h * w).integers(0, 256, (h, w, 3)).astype(
            np.uint8
        )
        out = jpegkit.jpeg_decode(
            jpegkit.jpeg_encode(noisy, quality=90, subsampling="420")
        )
        assert out.shape == noisy.shape


def test_420_sof_declares_sampling_factors():
    px = np.full((16, 16, 3), 99, np.uint8)
    body = jpegkit.jpeg_encode(px, quality=90, subsampling="420")
    i = body.find(b"\xff\xc0")
    assert body[i + 11] == 0x22  # Y sampling 2×2
    with pytest.raises(ValueError, match="subsampling"):
        jpegkit.jpeg_encode(px, subsampling="422x")


def test_422_quadrant_geometry_and_shapes():
    px = np.zeros((16, 32, 3), np.uint8)
    px[:, :16] = (200, 30, 30)
    px[:, 16:] = (30, 30, 200)
    dec = jpegkit.jpeg_decode(jpegkit.jpeg_encode(px, quality=97, subsampling="422"))
    assert np.array_equal(dec, px)
    noisy = np.random.default_rng(5).integers(0, 256, (11, 21, 3)).astype(np.uint8)
    out = jpegkit.jpeg_decode(jpegkit.jpeg_encode(noisy, quality=90, subsampling="422"))
    assert out.shape == noisy.shape
