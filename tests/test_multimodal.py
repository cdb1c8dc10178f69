"""Multimodal codec plumbing: the BMP container size the
``multimodal_bmp_decode`` oracle predicts."""

from __future__ import annotations


def test_bmp_container_size_formula():
    """multimodal_bmp_decode's oracle predicts the BMP byte size
    symbolically (54-byte header + 3·w·h + per-row padding); pin the
    formula against the real encoder for dims covering all four
    padding classes (w·3 mod 4 ∈ {0,1,2,3})."""
    import numpy as np

    from etl_builder_spark.llm.codecs import encode_bmp

    for w in range(1, 9):
        for h in (1, 2, 3, 4):
            px = np.zeros((h, w, 3), dtype=np.uint8)
            expect = 54 + w * h * 3 + ((4 - (w * 3) % 4) % 4) * h
            assert len(encode_bmp(px)) == expect, (w, h)
