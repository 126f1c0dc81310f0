"""Tests for the pure-Python BMP codec and the real-image multimodal
operators (VERDICT r3 item 5: de-stub extract_media_features)."""

from __future__ import annotations

import numpy as np
import pytest

from datawarehouseproject_spark.functions.bmp import (
    decode_bmp,
    encode_bmp,
    resize_nearest,
    row_stride,
    synth_bmp,
    synth_pixel,
    synth_size,
)
from datawarehouseproject_spark.operators.multimodal import (
    extract_image_features,
    resize_bmp,
    synthesize_bmp_media,
)

# A 2x2 24-bit BMP assembled BY HAND (not via encode_bmp), pinning the
# on-disk format externally: little-endian headers, bottom-up row
# order, BGR byte order, rows padded to 4 bytes (stride 8 for w=2).
# Top-down pixels: [[red, green], [blue, white]].
GOLDEN_2X2 = bytes.fromhex(
    "424d460000000000000036000000"              # BM, size=70, offset=54
    "280000000200000002000000010018000000000010000000"  # 40,w=2,h=2,1,24,0,16
    "130b0000130b00000000000000000000"          # 2835 px/m, palettes 0
    "ff0000ffffff0000"                          # bottom row: blue, white + pad
    "0000ff00ff000000"                          # top row: red, green + pad
)
GOLDEN_PIXELS = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]


def test_decode_golden_bytes():
    w, h, rows = decode_bmp(GOLDEN_2X2)
    assert (w, h) == (2, 2)
    assert np.array_equal(rows, GOLDEN_PIXELS)


def test_encode_matches_golden_bytes():
    assert encode_bmp(2, 2, GOLDEN_PIXELS) == GOLDEN_2X2


@pytest.mark.parametrize("width,height", [(1, 1), (2, 3), (3, 2), (4, 4), (5, 7)])
def test_roundtrip_all_stride_remainders(width, height):
    # widths 1..5 cover every 3*w % 4 padding remainder
    pixels = [
        [((x * 31 + y * 17) % 256, (x * 7) % 256, (y * 13) % 256) for x in range(width)]
        for y in range(height)
    ]
    w, h, rows = decode_bmp(encode_bmp(width, height, pixels))
    assert (w, h) == (width, height) and np.array_equal(rows, pixels)


def test_decode_top_down_negative_height():
    # negative height => rows stored top-down; decoder must NOT flip
    payload = bytearray(encode_bmp(2, 2, GOLDEN_PIXELS))
    import struct

    struct.pack_into("<i", payload, 22, -2)  # height field
    flipped_storage = GOLDEN_PIXELS[::-1]  # stored order becomes top-down
    w, h, rows = decode_bmp(bytes(payload))
    assert (w, h) == (2, 2) and np.array_equal(rows, flipped_storage)


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda b: b"XX" + b[2:], "magic"),
        # bpp=16 (bpp=8 became the palette path in round 8)
        (lambda b: b[:28] + b"\x10\x00" + b[30:], "unsupported"),
        (lambda b: b[:60], "truncated"),
    ],
)
def test_decode_rejects_malformed(mutate, msg):
    with pytest.raises(ValueError, match=msg):
        decode_bmp(mutate(GOLDEN_2X2))


def test_resize_nearest_identity_and_downsample():
    pixels = [[(x, y, x + y) for x in range(4)] for y in range(2)]
    assert np.array_equal(resize_nearest(pixels, 4, 2), pixels)
    half = resize_nearest(pixels, 2, 1)
    assert np.array_equal(half, [[(0, 0, 0), (2, 0, 2)]])  # x*4//2 = 0,2; y*2//1 = 0


def test_synth_bmp_decodes_to_formula():
    for seed in (0, 1, 17, 123456789):
        w, h = synth_size(seed)
        gw, gh, rows = decode_bmp(synth_bmp(seed))
        assert (gw, gh) == (w, h)
        assert np.array_equal(
            rows, [[synth_pixel(seed, x, y) for x in range(w)] for y in range(h)]
        )


def test_row_stride():
    assert [row_stride(w) for w in (1, 2, 3, 4, 5)] == [4, 8, 12, 12, 16]


def test_extract_image_features_spark(spark):
    ids = spark.range(0, 10).withColumnRenamed("id", "doc_id")
    rows = {
        r.media_id: r
        for r in extract_image_features(synthesize_bmp_media(ids)).collect()
    }
    assert len(rows) == 10
    for seed in range(10):
        w, h = synth_size(seed)
        px = [synth_pixel(seed, x, y) for y in range(h) for x in range(w)]
        r = rows[seed]
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(
            sum(p[c] for p in px) for c in range(3)
        )


def test_resize_bmp_spark(spark):
    ids = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    resized = resize_bmp(synthesize_bmp_media(ids), 5, 4)
    rows = {r.media_id: r for r in extract_image_features(resized).collect()}
    assert len(rows) == 6
    for seed in range(6):
        w, h = synth_size(seed)
        px = [
            synth_pixel(seed, tx * w // 5, ty * h // 4)
            for ty in range(4)
            for tx in range(5)
        ]
        r = rows[seed]
        assert (r.width, r.height, r.n_pixels) == (5, 4, 20)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(
            sum(p[c] for p in px) for c in range(3)
        )


def test_extract_image_features_permissive(spark):
    from pyspark.sql import functions as F

    good = synth_bmp(3)
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a bmp")), (3, bytearray(good[:20]))],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in
            extract_image_features(media, permissive=True).collect()}
    w, h = synth_size(3)
    assert rows[1].width == w and rows[1].decode_error is None
    assert rows[2].width is None and "magic" in rows[2].decode_error
    assert rows[3].width is None and rows[3].decode_error
    # strict mode on the same frame raises with the offending id
    import pytest as _pytest
    with _pytest.raises(Exception, match="media_id"):
        extract_image_features(media).collect()


def test_image_phash_invariant_to_reencode_and_upscale(spark):
    """The perceptual hash must survive a nearest-neighbor upscale +
    re-encode (content unchanged, bytes different) — the property
    byte-level dedup lacks."""
    from datawarehouseproject_spark.operators.multimodal import (
        image_phash,
        resize_bmp,
        synthesize_bmp_media,
    )

    ids = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    media = synthesize_bmp_media(ids)
    base = {r["media_id"]: r["phash"] for r in image_phash(media).collect()}
    # 2x nearest-neighbor upscale: every 7x9-grid sample maps to the
    # same source pixel, so the hash is bit-identical
    up = resize_bmp(media, 16, 12)
    upscaled = {r["media_id"]: r["phash"] for r in image_phash(up).collect()}
    for seed in range(8):
        w, h = 4 + seed % 5, 3 + seed % 4
        if 16 % w == 0 and 12 % h == 0:  # exact integer upscale only
            assert upscaled[seed] == base[seed], seed
    # distinct images get distinct hashes here
    assert len(set(base.values())) == len(base)


def test_image_phash_names_the_truncated_payload(spark):
    """A payload the decoder rejects fails the job with its media_id
    in front of the decoder's message, like every extract_* operator
    in strict mode."""
    from pyspark.errors import PythonException

    from datawarehouseproject_spark.functions.png import synth_png
    from datawarehouseproject_spark.operators.multimodal import image_phash

    media = spark.createDataFrame(
        [(5, synth_png(5)[:60])], "media_id long, payload binary"
    )
    with pytest.raises(PythonException, match="media_id=5: truncated PNG chunk"):
        image_phash(media, codec="png").collect()
