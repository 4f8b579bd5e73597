"""Codec invariants: lossless roundtrip, qraw PSNR ≥ 40 dB (input_hint), phash."""

from __future__ import annotations

import numpy as np
import pytest

from europarl_crawler_spark.functions import imaging


def _img(seed: int, w: int = 32, h: int = 16) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=seed))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("fmt", ["raw", "ppm", "png"])
def test_lossless_roundtrip(fmt):
    px = _img(1)
    out = imaging.decode(imaging.encode(px, fmt), 32, 16, fmt)
    assert np.array_equal(px, out)
    assert imaging.psnr(px, out) == float("inf")


@pytest.mark.parametrize("w,h", [(1, 1), (3, 5), (64, 64), (17, 2)])
def test_png_roundtrip_sizes(w, h):
    px = _img(w * 100 + h, w, h)
    assert np.array_equal(imaging.decode(imaging.encode(px, "png"), w, h, "png"), px)


def test_png_roundtrip_smooth_content_uses_filters():
    """Smooth gradients make the Sub/Up filters win the heuristic — the
    filtered lanes must still round-trip exactly and compress below raw."""
    w, h = 48, 48
    gx = np.tile(np.arange(w, dtype=np.uint8) * 5, (h, 1))
    px = np.stack([gx, gx.T.copy(), np.full((h, w), 7, np.uint8)], axis=2)
    payload = imaging.encode(px, "png")
    assert np.array_equal(imaging.decode(payload, w, h, "png"), px)
    assert len(payload) < w * h * 3  # genuinely compressed
    filters = _collect_row_filters(payload, w, h)
    assert set(filters) - {0}, "filter heuristic never chose a real filter"


def _collect_row_filters(payload, w, h):
    import struct
    import zlib

    pos, idat = 8, bytearray()
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        if typ == b"IDAT":
            idat += payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(bytes(idat))
    return [raw[y * (w * 3 + 1)] for y in range(h)]


def _handcraft_png(rows_with_filters, w, h):
    """Assemble a PNG chunk-by-chunk INDEPENDENTLY of the encoder: caller
    provides (filter_type, residual_bytes) per row."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    scan = b"".join(bytes([f]) + bytes(res) for f, res in rows_with_filters)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


def test_png_decodes_all_five_filter_types():
    """Spec compliance: a handcrafted PNG using None/Sub/Up/Average/Paeth
    rows (built without the encoder) decodes to the reference reconstruction
    computed per-pixel in this test."""
    w, h = 4, 5
    rng = np.random.Generator(np.random.Philox(key=9))
    residuals = rng.integers(0, 256, size=(h, w * 3), dtype=np.uint8)
    rows = [(f, residuals[f].tobytes()) for f in range(5)]
    payload = _handcraft_png(rows, w, h)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    # reference reconstruction straight from RFC 2083 §6, byte at a time
    bpp = 3
    want = np.zeros((h, w * 3), dtype=np.int64)
    for y in range(5):
        f = y  # row y uses filter type y
        for i in range(w * 3):
            x = int(residuals[y][i])
            left = want[y][i - bpp] if i >= bpp else 0
            up = want[y - 1][i] if y > 0 else 0
            upleft = want[y - 1][i - bpp] if (y > 0 and i >= bpp) else 0
            if f == 1:
                x += left
            elif f == 2:
                x += up
            elif f == 3:
                x += (left + up) // 2
            elif f == 4:
                x += paeth(left, up, upleft)
            want[y][i] = x % 256
    got = imaging.decode(payload, w, h, "png")
    assert np.array_equal(got, want.reshape(h, w, 3).astype(np.uint8))


def test_png_rejects_corruption_and_unsupported():
    px = _img(5, 8, 8)
    payload = bytearray(imaging.encode(px, "png"))
    payload[40] ^= 0xFF  # flip a byte inside a chunk → CRC failure
    with pytest.raises(ValueError, match="CRC"):
        imaging.decode(bytes(payload), 8, 8, "png")
    with pytest.raises(ValueError, match="mismatch"):
        imaging.decode(imaging.encode(px, "png"), 9, 8, "png")  # dim mismatch
    gray = _handcraft_png([(0, bytes(8))], 8, 1)  # claims RGB but we rebuild
    # an IHDR claiming grayscale (color type 0) must be refused
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 1, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(9)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="only 8-bit RGB"):
        imaging.decode(bad, 8, 1, "png")


def test_qraw_psnr_at_least_40db():
    # worst-case-ish content: uniform noise across the full range
    for seed in range(10):
        px = _img(seed, 64, 64)
        out = imaging.decode(imaging.encode(px, "qraw"), 64, 64, "qraw")
        assert imaging.psnr(px, out) >= 40.0
        assert np.max(np.abs(px.astype(int) - out.astype(int))) <= 3


def test_qraw_extremes_preserved():
    px = np.zeros((8, 8, 3), dtype=np.uint8)
    px[0] = 255
    out = imaging.decode(imaging.encode(px, "qraw"), 8, 8, "qraw")
    assert out[0, 0, 0] == 255 and out[1, 0, 0] == 0


def test_ppm_header():
    px = _img(2, 8, 4)
    payload = imaging.encode(px, "ppm")
    assert payload.startswith(b"P6\n8 4\n255\n")
    with pytest.raises(ValueError, match="mismatch"):
        imaging.decode(payload, 9, 4, "ppm")  # metadata mismatch caught


@pytest.mark.parametrize("fmt", imaging.FORMATS)
def test_metadata_mismatch_raises_valueerror(fmt):
    # a (w, h) that disagrees with the payload is a bad payload: ValueError,
    # which ``python -O`` keeps (it strips asserts) and the extract
    # dispatchers classify as malformed
    px = _img(7, 8, 6)
    body = imaging.encode(px, fmt)
    assert imaging.decode(body, 8, 6, fmt).shape == (6, 8, 3)
    with pytest.raises(ValueError):
        imaging.decode(body, 9, 6, fmt)


def test_phash_properties():
    px = _img(3, 64, 64)
    h1 = imaging.phash64(px)
    assert -(2**63) <= h1 < 2**63  # fits a Spark long
    assert h1 == imaging.phash64(px.copy())  # deterministic
    # small perturbation → small hamming distance; different image → large
    perturbed = px.copy()
    perturbed[::2] = np.clip(perturbed[::2].astype(int) + 2, 0, 255).astype(np.uint8)
    other = _img(4, 64, 64)
    assert imaging.hamming64(h1, imaging.phash64(perturbed)) <= 16
    assert imaging.hamming64(h1, imaging.phash64(other)) >= 10


def test_png_text_chunks_roundtrip():
    """tEXt for Latin-1 values, iTXt for UTF-8; absent text -> {}; pixel
    decode is undisturbed and the no-text output is byte-identical."""
    import numpy as np

    from europarl_crawler_spark.functions import imaging

    rng = np.random.Generator(np.random.Philox(key=5))
    px = rng.integers(0, 256, size=(16, 20, 3), dtype=np.uint8)
    plain = imaging._png_encode(px, text={"Comment": "plain", "Software": "x"})
    uni = imaging._png_encode(px, text={"Comment": "café 日本語"})
    bare = imaging._png_encode(px)
    assert imaging.png_text_chunks(plain) == {"Comment": "plain", "Software": "x"}
    assert imaging.png_text_chunks(uni) == {"Comment": "café 日本語"}
    assert imaging.png_text_chunks(bare) == {}
    assert b"tEXt" in plain and b"iTXt" in uni
    assert (imaging._png_decode(plain, 20, 16) == px).all()
    assert (imaging._png_decode(uni, 20, 16) == px).all()
    assert imaging._png_encode(px) == bare


def test_png_text_chunks_external_forms():
    """zTXt and compressed iTXt as an external writer would emit them."""
    import struct
    import zlib

    import numpy as np

    from europarl_crawler_spark.functions import imaging

    px = np.zeros((4, 4, 3), np.uint8)
    base = imaging._png_encode(px)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    zt = base[:8] + chunk(b"zTXt", b"Title\x00\x00" + zlib.compress(b"deep title")) + base[8:]
    assert imaging.png_text_chunks(zt)["Title"] == "deep title"
    it = base[:8] + chunk(
        b"iTXt", b"Note\x00\x01\x00en\x00\x00" + zlib.compress("ünïcode".encode())
    ) + base[8:]
    assert imaging.png_text_chunks(it)["Note"] == "ünïcode"


def test_png_text_chunks_rejects_corruption():
    import numpy as np
    import pytest as _pytest

    from europarl_crawler_spark.functions import imaging

    px = np.zeros((4, 4, 3), np.uint8)
    b = bytearray(imaging._png_encode(px, text={"Comment": "v"}))
    i = bytes(b).index(b"tEXt") + 6
    b[i] ^= 0xFF  # flip a byte inside the chunk data -> CRC must catch it
    with _pytest.raises(ValueError, match="CRC"):
        imaging.png_text_chunks(bytes(b))
    with _pytest.raises(ValueError, match="signature"):
        imaging.png_text_chunks(b"nope")
    with _pytest.raises(ValueError, match="keyword"):
        imaging._png_encode(px, text={"": "empty keyword"})


def test_adam7_interlaced_png_decodes():
    """Hand-built Adam7 stream (ISO 15948 §8.2): seven independently
    filtered sub-images must scatter back to the original lattice —
    externally-produced interlaced PNGs are common on the web."""
    import struct
    import zlib

    rng = np.random.default_rng(17)
    for h, w in [(13, 9), (8, 8), (3, 2), (1, 1), (2, 5)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        raw = bytearray()
        for x0, dx, y0, dy in (
            (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
            (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
        ):
            sub = px[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                raw.append(0)  # filter None
                raw += row.tobytes()
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)  # interlace=1
        body = (
            imaging._PNG_SIG
            + imaging._png_chunk(b"IHDR", ihdr)
            + imaging._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + imaging._png_chunk(b"IEND", b"")
        )
        assert np.array_equal(imaging._png_decode(body, w, h), px), (h, w)


def test_bmp_roundtrip_and_variants():
    """24-bit BMP: bottom-up round trip through the dispatch, the top-down
    (negative height) variant, 4-byte row padding at odd widths, and the
    truncation contract."""
    import struct

    rng = np.random.default_rng(23)
    for h, w in [(7, 5), (8, 8), (1, 1), (3, 10)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        body = imaging.encode(px, "bmp")
        assert body[:2] == b"BM"
        assert np.array_equal(imaging.decode(body, w, h, "bmp"), px)
    px = rng.integers(0, 256, (6, 5, 3)).astype(np.uint8)
    body = bytearray(imaging.encode(px, "bmp"))
    # flip to top-down: negate height and reverse the stored row order
    struct.pack_into("<i", body, 22, -6)
    stride = (5 * 3 + 3) & ~3
    off = 54
    rows = [bytes(body[off + i * stride : off + (i + 1) * stride]) for i in range(6)]
    body[off:] = b"".join(reversed(rows))
    assert np.array_equal(imaging._bmp_decode(bytes(body)), px)
    with pytest.raises(ValueError):
        imaging._bmp_decode(bytes(body[: len(body) - 4]))
    with pytest.raises(ValueError):
        imaging._bmp_decode(b"XX" + bytes(body[2:]))


def test_phash64_i_integer_dct_properties():
    """Integer fixed-point pHash (imaging.phash64_i): deterministic; AC
    coefficients (hence all 63 AC bits) exactly invariant under a constant
    luma shift, because every AC row of the quantized basis sums to exactly
    zero (next test); distinct textures land far apart."""
    rng = np.random.default_rng(7)
    px = rng.integers(0, 200, (16, 16, 3)).astype(np.uint8)
    h1 = imaging.phash64_i(px)
    assert h1 == imaging.phash64_i(px.copy())
    # global brightness shift: +40 on every channel moves only DC
    brighter = np.clip(px.astype(np.int64) + 40, 0, 255).astype(np.uint8)
    assert imaging.hamming64(h1, imaging.phash64_i(brighter)) <= 1
    other = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    assert imaging.hamming64(h1, imaging.phash64_i(other)) >= 10


def test_phash64_i_ac_rows_sum_to_zero():
    """The quantized DCT basis keeps every AC row summing to EXACTLY zero
    (pairwise cos cancellation survives the shared rounding), which is what
    makes the constant-shift invariance above exact integer algebra."""
    m = imaging._dctq_matrix(16)
    assert m.shape == (8, 16)
    for k in range(1, 8):
        assert int(m[k].sum()) == 0
    # and the k=0 row is the constant 2^14
    assert (m[0] == imaging.DCTQ_SCALE).all()


def test_apply_orientation_all_eight():
    """Every EXIF orientation case against the explicit index formulas
    (the same arithmetic the multimodal_exif_orient oracle replays)."""
    import numpy as np

    from europarl_crawler_spark.functions.imaging import apply_orientation

    N = 8
    src = np.arange(N * N * 3, dtype=np.int64).reshape(N, N, 3)
    sr_f = [None,
            lambda r, c: r, lambda r, c: r,
            lambda r, c: N - 1 - r, lambda r, c: N - 1 - r,
            lambda r, c: c, lambda r, c: N - 1 - c,
            lambda r, c: N - 1 - c, lambda r, c: c]
    sc_f = [None,
            lambda r, c: c, lambda r, c: N - 1 - c,
            lambda r, c: N - 1 - c, lambda r, c: c,
            lambda r, c: r, lambda r, c: r,
            lambda r, c: N - 1 - r, lambda r, c: N - 1 - r]
    for o in range(1, 9):
        out = apply_orientation(src, o)
        for r in range(N):
            for c in range(N):
                assert (out[r, c] == src[sr_f[o](r, c), sc_f[o](r, c)]).all()
    # group structure: 2/3/4/5/7 are involutions; 6 and 8 invert each other
    for o in (2, 3, 4, 5, 7):
        assert np.array_equal(apply_orientation(apply_orientation(src, o), o), src)
    assert np.array_equal(apply_orientation(apply_orientation(src, 6), 8), src)
    import pytest

    with pytest.raises(ValueError):
        apply_orientation(src, 9)


def test_orientation_defeats_then_restores_phash():
    """The operational point: a rotated copy hashes differently until the
    orientation is normalized, then identically."""
    import numpy as np

    from europarl_crawler_spark.functions.imaging import (
        apply_orientation,
        phash64,
    )

    rng = np.random.RandomState(8)
    px = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    rotated = apply_orientation(px, 6)  # scene stored rotated 90 CW
    assert phash64(px) != phash64(rotated)
    # a file storing these pixels would carry Orientation=8 (rotate 90 CCW
    # to display upright); applying that tag's transform restores the scene
    assert phash64(apply_orientation(rotated, 8)) == phash64(px)
