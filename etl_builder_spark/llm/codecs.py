"""Pure-numpy codecs for the multimodal decode seam (no PIL/libjpeg/
libsndfile in this environment — these formats are simple enough to
parse from published format specs with numpy alone):

* PPM (P6, binary RGB, maxval ≤ 255) — netpbm spec
* BMP (Windows BITMAPINFOHEADER, 24-bit uncompressed BI_RGB) — bottom-up
  rows, 4-byte row padding, BGR byte order
* WAV (RIFF, PCM 16-bit) — fmt/data chunk walk

Each has an encoder too, so tests are golden-byte round-trips and every
multimodal key decodes REAL bytes in its own mapInPandas body
(llm/multimodal.py). A payload of another format (JPEG/PNG/MP3) raises
`UnsupportedCodecError`.
"""

from __future__ import annotations

import struct

import numpy as np


class UnsupportedCodecError(NotImplementedError):
    """Payload is a format this environment cannot decode (no codec libs)."""


# ----------------------------------------------------------------- PPM (P6)
def encode_ppm(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → binary P6 PPM bytes."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) array, got {pixels.shape}")
    h, w = pixels.shape[:2]
    header = f"P6\n{w} {h}\n255\n".encode("ascii")
    return header + np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()


def _ppm_tokens(data: bytes, n: int, start: int) -> tuple[list[int], int]:
    """Read n whitespace-separated integer tokens after `start`,
    skipping '#' comments (netpbm allows them anywhere in the header)."""
    vals: list[int] = []
    i = start
    while len(vals) < n:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if i < len(data) and data[i : i + 1] == b"#":
            while i < len(data) and data[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated PPM header")
        vals.append(int(data[i:j]))
        i = j
    return vals, i + 1  # single whitespace after maxval, then raster


def decode_ppm(data: bytes) -> np.ndarray:
    """Binary P6 PPM bytes → (H, W, 3) uint8."""
    if data[:2] != b"P6":
        raise UnsupportedCodecError("not a P6 PPM payload")
    (w, h, maxval), raster = _ppm_tokens(data, 3, 2)
    if maxval > 255:
        raise UnsupportedCodecError("16-bit PPM not supported")
    need = w * h * 3
    raw = np.frombuffer(data, dtype=np.uint8, count=need, offset=raster)
    return raw.reshape(h, w, 3)


# ------------------------------------------------------- BMP (24-bit BI_RGB)
def encode_bmp(pixels: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → 24-bit uncompressed BMP bytes."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) array, got {pixels.shape}")
    h, w = pixels.shape[:2]
    row_size = (w * 3 + 3) & ~3  # rows pad to 4-byte multiples
    image_size = row_size * h
    offset = 14 + 40
    file_header = struct.pack("<2sIHHI", b"BM", offset + image_size, 0, 0, offset)
    info_header = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, image_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_size), dtype=np.uint8)
    bgr = np.ascontiguousarray(pixels[::-1, :, ::-1], dtype=np.uint8)  # bottom-up, BGR
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return file_header + info_header + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes → (H, W, 3) uint8 RGB."""
    if data[:2] != b"BM":
        raise UnsupportedCodecError("not a BMP payload")
    offset = struct.unpack_from("<I", data, 10)[0]
    header_size = struct.unpack_from("<I", data, 14)[0]
    if header_size < 40:
        raise UnsupportedCodecError("BITMAPCOREHEADER BMP not supported")
    w, h_signed = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise UnsupportedCodecError(f"only 24-bit BI_RGB supported (bpp={bpp}, comp={compression})")
    h = abs(h_signed)
    row_size = (w * 3 + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset)
    rows = raw.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if h_signed > 0:  # bottom-up storage (the common case)
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


# ------------------------------------------------------------ WAV (PCM 16)
def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """1-D int16 mono samples → RIFF/WAVE PCM bytes."""
    pcm = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM-16 bytes → (1-D int16 samples, sample_rate)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise UnsupportedCodecError("not a RIFF/WAVE payload")
    i, rate, samples = 12, None, None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        size = struct.unpack_from("<I", data, i + 4)[0]
        body = i + 8
        if cid == b"fmt ":
            audio_fmt, channels = struct.unpack_from("<HH", data, body)
            rate = struct.unpack_from("<I", data, body + 4)[0]
            bits = struct.unpack_from("<H", data, body + 14)[0]
            if audio_fmt != 1 or bits != 16 or channels != 1:
                raise UnsupportedCodecError(
                    f"only mono PCM-16 supported (fmt={audio_fmt}, bits={bits}, ch={channels})"
                )
        elif cid == b"data":
            samples = np.frombuffer(data, dtype="<i2", count=size // 2, offset=body)
        i = body + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise UnsupportedCodecError("missing fmt/data chunk")
    return samples, rate
