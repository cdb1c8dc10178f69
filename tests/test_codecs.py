"""Pure-numpy codecs: golden-byte vectors (hand-assembled from the
published format specs, NOT produced by our own encoder — so encoder
and decoder are checked independently) and round-trips."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_builder_spark.llm import codecs

# ------------------------------------------------------------------ golden
# 2x1 P6 image: red pixel then green pixel
GOLDEN_PPM = b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0])

# 1x1 24-bit BMP, single blue pixel (BGR on disk, row padded to 4 bytes)
GOLDEN_BMP = (
    struct.pack("<2sIHHI", b"BM", 14 + 40 + 4, 0, 0, 54)
    + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 2835, 2835, 0, 0)
    + bytes([255, 0, 0, 0])  # BGR blue + 1 pad byte
)

# 3-sample PCM-16 mono WAV at 8 kHz: 0, 1000, -1000
GOLDEN_WAV = (
    b"RIFF"
    + struct.pack("<I", 4 + 8 + 16 + 8 + 6)
    + b"WAVE"
    + b"fmt "
    + struct.pack("<I", 16)
    + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    + b"data"
    + struct.pack("<I", 6)
    + struct.pack("<3h", 0, 1000, -1000)
)


def test_decode_golden_ppm():
    px = codecs.decode_ppm(GOLDEN_PPM)
    assert px.shape == (1, 2, 3)
    assert px[0, 0].tolist() == [255, 0, 0]
    assert px[0, 1].tolist() == [0, 255, 0]


def test_decode_ppm_with_comments():
    data = b"P6\n# a comment\n2 1\n# another\n255\n" + bytes([1, 2, 3, 4, 5, 6])
    px = codecs.decode_ppm(data)
    assert px.shape == (1, 2, 3)
    assert px[0, 1].tolist() == [4, 5, 6]


def test_decode_golden_bmp():
    px = codecs.decode_bmp(GOLDEN_BMP)
    assert px.shape == (1, 1, 3)
    assert px[0, 0].tolist() == [0, 0, 255]  # RGB blue


def test_decode_golden_wav():
    samples, rate = codecs.decode_wav(GOLDEN_WAV)
    assert rate == 8000
    assert samples.tolist() == [0, 1000, -1000]


def test_encoders_reproduce_golden_bytes():
    assert codecs.encode_ppm(codecs.decode_ppm(GOLDEN_PPM)) == GOLDEN_PPM
    assert codecs.encode_bmp(codecs.decode_bmp(GOLDEN_BMP)) == GOLDEN_BMP
    assert codecs.encode_wav(np.array([0, 1000, -1000], np.int16), 8000) == GOLDEN_WAV


@pytest.mark.parametrize("w,h", [(1, 1), (3, 2), (16, 8), (5, 7)])
def test_ppm_bmp_roundtrip(w, h):
    rng = np.random.default_rng(w * 100 + h)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(codecs.decode_ppm(codecs.encode_ppm(px)), px)
    # BMP row padding kicks in whenever 3*w % 4 != 0
    assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(px)), px)


def test_wav_roundtrip():
    rng = np.random.default_rng(7)
    samples = rng.integers(-32768, 32768, size=1601, dtype=np.int16)
    out, rate = codecs.decode_wav(codecs.encode_wav(samples, 44100))
    assert rate == 44100
    assert np.array_equal(out, samples)


def test_unsupported_codecs_raise():
    with pytest.raises(codecs.UnsupportedCodecError):
        codecs.decode_wav(b"RIFFxxxxAVI LIST")
    with pytest.raises(codecs.UnsupportedCodecError):
        codecs.decode_ppm(b"P3\n1 1\n255\n1 2 3")  # ASCII PPM unsupported
