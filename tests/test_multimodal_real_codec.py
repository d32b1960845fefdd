"""Real-codec decode path (PIL/soundfile), gated on library presence.

The sandbox ships no media libraries, so these tests skip here; the
moment pillow (or soundfile) is installed they run with zero extra
work. They verify the one branch the fake-decode oracle gate cannot:
that ``decode_with_codec`` really decodes codec-encoded payloads and that
``media_decode_features_real`` pushes them through the same
``mapInPandas`` plumbing/schema as the registered fake-decode query.
"""

from __future__ import annotations

import io

import numpy as np
import pytest

from apache_iceberg_with_clickhouse_olake_spark.operators.multimodal import (
    _FEATURES_SCHEMA,
    decode_with_codec,
    media_decode_features_real,
)


def test_unknown_format_raises_not_implemented():
    # Runs everywhere (no library needed): the error contract is part of
    # the public surface -- unknown formats fail loudly, never silently
    # fall back to the byte-fake.
    with pytest.raises(NotImplementedError):
        decode_with_codec(b"\x00\x01", "mp4")


def test_image_format_without_pillow_raises_not_implemented():
    try:
        import PIL  # noqa: F401

        pytest.skip("pillow installed; the decode tests below cover this")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="pillow"):
        decode_with_codec(b"\x89PNG", "png")


def _make_png(rng: np.random.Generator, w: int, h: int) -> tuple[bytes, np.ndarray]:
    from PIL import Image

    pixels = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    buf = io.BytesIO()
    Image.fromarray(pixels, mode="RGB").save(buf, format="PNG")
    return buf.getvalue(), pixels


def test_decode_with_codec_roundtrips_png_pixels():
    pytest.importorskip("PIL")
    rng = np.random.default_rng(7)
    payload, pixels = _make_png(rng, w=13, h=9)
    decoded = decode_with_codec(payload, "png")
    # PNG is lossless: decode must reproduce the exact pixel bytes, flat
    # C-order, uint8 -- the value domain every downstream feature op uses.
    assert decoded.dtype == np.uint8
    np.testing.assert_array_equal(decoded, pixels.reshape(-1))


def test_media_decode_features_real_matches_numpy(spark):
    pytest.importorskip("PIL")
    rng = np.random.default_rng(11)
    rows, expected = [], {}
    for doc_id in range(4):
        payload, pixels = _make_png(rng, w=8 + doc_id, h=5)
        rows.append((doc_id, "image", "png", bytearray(payload)))
        flat = pixels.reshape(-1)
        expected[doc_id] = (
            flat.size,
            float(int(flat.sum()) / flat.size),
            int(flat.min()),
            int(flat.max()),
        )
    media = spark.createDataFrame(
        rows, "doc_id long, media_type string, format string, payload binary"
    )
    out = media_decode_features_real(media)
    # identical schema to the registered fake-decode query's contract
    assert out.schema == spark.createDataFrame([], _FEATURES_SCHEMA).schema
    got = {
        r["doc_id"]: (r["n_bytes"], r["byte_mean"], r["byte_min"], r["byte_max"])
        for r in out.collect()
    }
    assert got == expected
