"""Exhaustive per-byte truncation robustness for every codec kit.

A web-scale fetch stage feeds raw downloaded bytes into these decoders; a
connection can drop after ANY byte. The contract (enforced by
functions/kitguard.py plus explicit container checks): a truncated payload
raises ``ValueError`` — never IndexError/struct.error/KeyError (which would
kill the Spark task instead of being classified as a bad download by the
extract dispatchers in operators/multimodal.py).

Two formats carry no total-length field, so some truncations are
*undetectable by the format itself* and must instead produce a VALID shorter
stream — never corrupt data:

- y4m: a cut at an exact frame boundary is a shorter video; any other cut
  raises ("truncated mid-frame").
- mp3: a cut at a frame boundary (plus <4 trailing junk bytes, which the
  prober's real-world tag tolerance skips) is a shorter stream; any cut
  inside the FIRST frame raises.
"""

from __future__ import annotations

import numpy as np
import pytest

from europarl_crawler_spark.functions import (
    adpcmkit,
    avikit,
    gifkit,
    imaging,
    jpegkit,
    mp3kit,
    mp4kit,
    videokit,
    webpkit,
)
from europarl_crawler_spark.operators.multimodal import wav_decode, wav_encode

RNG = np.random.default_rng(5)
IMG = RNG.integers(0, 256, size=(12, 10, 3), dtype=np.uint8)
PCM = RNG.integers(-3000, 3000, size=(800,), dtype=np.int16)
FRAMES = RNG.integers(0, 256, size=(4, 8, 8, 3), dtype=np.uint8)

STRICT = [
    ("png", imaging.encode(IMG, "png"), lambda b: imaging.decode(b, 10, 12, "png")),
    ("ppm", imaging.encode(IMG, "ppm"), lambda b: imaging.decode(b, 10, 12, "ppm")),
    ("raw", imaging.encode(IMG, "raw"), lambda b: imaging.decode(b, 10, 12, "raw")),
    ("qraw", imaging.encode(IMG, "qraw"), lambda b: imaging.decode(b, 10, 12, "qraw")),
    ("jpeg", jpegkit.jpeg_encode(IMG, quality=90), jpegkit.jpeg_decode),
    (
        "jpeg_420",
        jpegkit.jpeg_encode(IMG, quality=90, subsampling="420"),
        jpegkit.jpeg_decode,
    ),
    ("jpeg_prog", jpegkit.jpeg_encode_progressive(IMG, quality=90), jpegkit.jpeg_decode),
    (
        "jpeg_prog_rst",
        jpegkit.jpeg_encode_progressive(IMG, quality=90, restart_interval=2),
        jpegkit.jpeg_decode,
    ),
    ("gif", gifkit.gif_encode(IMG), gifkit.gif_decode),
    ("webp", webpkit.webp_encode(IMG), webpkit.webp_decode),
    ("avi", avikit.avi_encode(FRAMES, fps=10), avikit.avi_decode),
    ("avi_hdr", avikit.avi_encode(FRAMES, fps=10), avikit.avi_header_info),
    ("adpcm", adpcmkit.adpcm_wav_encode(PCM, 8000), adpcmkit.adpcm_wav_decode),
    ("wav", wav_encode(PCM, 8000), wav_decode),
    (
        "mp4_probe",
        mp4kit.mp4_write(
            16, 12, 5, 10,
            [bytes(RNG.integers(0, 256, size=40, dtype=np.uint8)) for _ in range(5)],
        ),
        mp4kit.mp4_probe,
    ),
    # every cut lands inside a box (or drops moov/mdat), so the box-tiling
    # checks fire before the codec gate — ValueError, never a jpeg error
    ("mp4_dec", mp4kit.mp4_encode_mjpeg(FRAMES[:2], fps=10), mp4kit.mp4_decode),
]


@pytest.mark.parametrize("name,body,dec", STRICT, ids=[c[0] for c in STRICT])
def test_every_truncation_raises_valueerror(name, body, dec):
    dec(body)  # the full payload must decode
    for cut in range(len(body)):
        with pytest.raises(ValueError):
            dec(body[:cut])


def test_y4m_truncation_valueerror_or_exact_frame_boundary():
    body = videokit.y4m_encode(FRAMES)
    header_len = body.index(b"\n") + 1
    fsz = len(b"FRAME\n") + 8 * 8 + 2 * 4 * 4
    full, fps = videokit.y4m_decode(body)
    assert full.shape[0] == 4
    for cut in range(len(body)):
        try:
            frames, _ = videokit.y4m_decode(body[:cut])
        except ValueError:
            continue
        # silent success allowed ONLY at an exact frame boundary, and the
        # decoded prefix must match the full decode frame-for-frame
        assert (cut - header_len) % fsz == 0
        k = (cut - header_len) // fsz
        assert frames.shape[0] == k
        assert np.array_equal(frames, full[:k])


def test_mp3_truncation_valueerror_or_whole_frames():
    body = mp3kit.mp3_synthesize(6)
    info = mp3kit.mp3_probe(body)
    assert info["n_frames"] == 6
    frame_len = len(body) // 6
    for cut in range(len(body)):
        try:
            got = mp3kit.mp3_probe(body[:cut])
        except ValueError:
            continue
        # silent success only past a whole number of frames (plus <4 bytes
        # of tail the prober treats as trailing junk / tag)
        assert cut >= frame_len
        assert got["n_frames"] == cut // frame_len
        assert cut - got["n_frames"] * frame_len < 4


def test_flipped_byte_never_escapes_valueerror():
    # single-byte corruption (not just truncation) must also surface as
    # ValueError or a clean decode — never a raw parser error
    for fmt in ("png", "jpeg"):
        body = imaging.encode(IMG, fmt)
        for pos in range(0, len(body), 7):
            mutated = bytearray(body)
            mutated[pos] ^= 0xFF
            try:
                imaging.decode(bytes(mutated), 10, 12, fmt)
            except ValueError:
                pass
