"""The table-driven JPEG entropy reader against the bit-serial reference.

``jpegkit.jpeg_decode`` peeks Huffman codes through 9-bit lookup lists over
per-byte 24-bit windows; ``jpeg_reference.reference_decode`` is the decoder
it replaced, which reads one bit per method call. Both share the integer
coefficient arithmetic, so the decoded pixels must be equal, not close.
"""

from __future__ import annotations

from datetime import date

import numpy as np
import pytest

from europarl_crawler_spark.functions import jpegkit
from jpeg_reference import reference_decode


def _noise(h: int, w: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


def _smooth(h: int, w: int) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [x * 255 // max(w - 1, 1), y * 255 // max(h - 1, 1), (x + y) * 3 % 256],
        axis=-1,
    ).astype(np.uint8)


def _same(body: bytes) -> None:
    assert np.array_equal(jpegkit.jpeg_decode(body), reference_decode(body))


CONTENT = {
    "noise": _noise(24, 32, 1),
    "smooth": _smooth(24, 32),
    "noise_odd": _noise(17, 23, 2),
    "smooth_odd": _smooth(9, 13),
}


@pytest.mark.parametrize("content", sorted(CONTENT))
@pytest.mark.parametrize("quality", [50, 90, 97])
def test_baseline_444_matches_reference(content, quality):
    _same(jpegkit.jpeg_encode(CONTENT[content], quality=quality))


@pytest.mark.parametrize("content", sorted(CONTENT))
@pytest.mark.parametrize("subsampling", ["420", "422"])
def test_subsampled_matches_reference(content, subsampling):
    _same(jpegkit.jpeg_encode(CONTENT[content], quality=90, subsampling=subsampling))


@pytest.mark.parametrize("content", sorted(CONTENT))
@pytest.mark.parametrize("restart_interval", [0, 1, 3])
def test_progressive_matches_reference(content, restart_interval):
    _same(
        jpegkit.jpeg_encode_progressive(
            CONTENT[content], quality=90, restart_interval=restart_interval
        )
    )


def test_simulated_web_jpegs_match_reference(spark):
    from europarl_crawler_spark.sources.synthetic import (
        session_days_df,
        simulated_web,
    )

    days = session_days_df(spark, start=date(2019, 7, 2), n_days=60)
    bodies = [
        bytes(r.bytes)
        for r in simulated_web(spark, days)
        .filter("fmt = 'jpeg'")
        .select("bytes")
        .collect()
    ]
    assert len(bodies) > 50
    for body in bodies:
        _same(body)


SHORT = {
    "baseline": jpegkit.jpeg_encode(CONTENT["noise"], quality=90),
    "progressive_rst": jpegkit.jpeg_encode_progressive(
        CONTENT["noise"], quality=90, restart_interval=2
    ),
}


@pytest.mark.parametrize(
    "kind,marker,cut",
    [
        ("baseline", b"\xff\xd9", 1),  # EOI
        ("baseline", b"\xff\xd9", 20),
        ("progressive_rst", b"\xff\xd0", 1),  # RST0 of the DC scan
        ("progressive_rst", b"\xff\xd0", 2),
        ("progressive_rst", b"\xff\xd9", 5),
    ],
)
def test_short_segment_raises_like_reference(kind, marker, cut):
    # bytes lost just before the marker that ends a segment: the reader runs
    # into its zero padding, which must raise as the bit-serial reader did
    # when it ran out of bytes
    body = SHORT[kind]
    end = body.index(marker)
    short = body[: end - cut] + body[end:]
    with pytest.raises(ValueError, match="entropy data exhausted"):
        reference_decode(short)
    with pytest.raises(ValueError, match="entropy data exhausted"):
        jpegkit.jpeg_decode(short)
