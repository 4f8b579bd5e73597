"""QOI codec: all five ops, foreign RGBA streams, malformed inputs."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from europarl_crawler_spark.functions import imaging, qoikit


def _px(h, w, seed=0):
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3)).astype(np.uint8)


@pytest.mark.parametrize(
    "maker",
    [
        lambda: _px(1, 1),
        lambda: _px(8, 8),
        lambda: _px(13, 7, seed=2),
        lambda: np.full((9, 9, 3), 77, np.uint8),                     # pure RUN
        lambda: np.add.outer(np.arange(16), np.arange(16))[:, :, None]
        .repeat(3, 2).astype(np.uint8),                               # DIFF/LUMA
        lambda: np.tile(
            np.array([[10, 20, 30], [200, 100, 50]], np.uint8), (32, 1)
        ).reshape(8, 8, 3),                                           # INDEX hits
        lambda: np.zeros((5, 5, 3), np.uint8),                        # first-pixel run
    ],
)
def test_roundtrip(maker):
    px = maker()
    assert np.array_equal(qoikit.qoi_decode(qoikit.qoi_encode(px)), px)


def test_long_run_chunks():
    # runs > 62 must split into multiple RUN ops
    px = np.full((100, 100, 3), 5, np.uint8)
    enc = qoikit.qoi_encode(px)
    assert np.array_equal(qoikit.qoi_decode(enc), px)
    assert len(enc) < 300


def test_foreign_rgba_stream_decodes():
    head = qoikit.MAGIC + struct.pack(">IIBB", 2, 1, 4, 0)
    data = bytes((0xFF, 10, 20, 30, 40)) + bytes((0xC0,))  # RGBA, run 1
    out = qoikit.qoi_decode(head + data + qoikit.END)
    assert out.tolist() == [[[10, 20, 30], [10, 20, 30]]]


def test_alpha_participates_in_index_hash():
    """An RGBA pixel with alpha != 255 must occupy a different index slot
    than the same RGB with alpha 255 (spec hash includes alpha)."""
    assert qoikit._hash(1, 2, 3, 255) != qoikit._hash(1, 2, 3, 40)


@pytest.mark.parametrize(
    "mangle",
    [
        lambda b: b"QOIF" + b[4:],          # bad magic
        lambda b: b[:-8],                    # missing end marker
        lambda b: b[:-8] + b"\x00" + b[-8:],  # inserted junk before marker
        lambda b: b[: len(b) - 12],          # truncated ops
    ],
)
def test_malformed_raises(mangle):
    enc = qoikit.qoi_encode(_px(8, 8, seed=4))
    with pytest.raises(ValueError):
        qoikit.qoi_decode(mangle(bytes(enc)))


def test_run_overrun_raises():
    head = qoikit.MAGIC + struct.pack(">IIBB", 1, 1, 3, 0)
    data = bytes((0xC0 | 5,))  # run of 6 into a 1-pixel image
    with pytest.raises(ValueError):
        qoikit.qoi_decode(head + data + qoikit.END)


def test_imaging_dispatch_qoi():
    px = _px(16, 16, seed=5)
    body = imaging.encode(px, "qoi")
    assert np.array_equal(imaging.decode(body, 16, 16, "qoi"), px)
    assert "qoi" in imaging.LOSSLESS
    with pytest.raises(ValueError, match="mismatch"):
        imaging.decode(body, 8, 8, "qoi")
