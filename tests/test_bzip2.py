"""bzip2 decode — functions/bzip2.py: the one-stream, bounded,
ValueError-only contract around the stdlib decompressor, pinned
against the stdlib bz2 compressor."""

from __future__ import annotations

import bz2 as stdbz2

import pytest

from datawarehouseproject_spark.functions.bzip2 import (
    decode_bz2,
    scan_bz2,
    synth_bz2,
    synth_bz2_plan,
)


def test_fixture_seeds_decode_exactly():
    for seed in range(12):
        n = synth_bz2_plan(seed)["n_bytes"]
        want = bytes(((i // 6) * 13 + seed) % 250 for i in range(n))
        assert decode_bz2(synth_bz2(seed)) == want, seed


def test_stdlib_pin_across_data_shapes_and_levels():
    import random

    rnd = random.Random(7)
    cases = [
        bytes(rnd.randrange(256) for _ in range(150_000)),  # 2 blocks @1
        b"A" * 50_000 + b"B" + b"C" * 260 + bytes(range(256)) * 100,
        ("the quick brown fox jumps over the lazy dog. " * 2000).encode(),
        b"\x00" * 10_000,          # single-symbol alphabet
        b"ab",                     # tiny
        bytes(range(256)) * 2,     # full alphabet, no runs
    ]
    for k, data in enumerate(cases):
        for level in (1, 5, 9):
            assert decode_bz2(stdbz2.compress(data, level)) == data, (
                k, level,
            )


def test_multistream_is_a_loud_boundary_or_decodes():
    """Concatenated .bz2 streams: the decoder stops at the first
    stream footer (stdlib BZ2Decompressor behaves the same way);
    scan aggregates then describe stream 1 — pin that behavior."""
    a = stdbz2.compress(b"first", 1)
    b = stdbz2.compress(b"second", 1)
    assert decode_bz2(a + b) == b"first"


def test_crc_is_actually_verified():
    payload = bytearray(stdbz2.compress(b"x" * 500, 1))
    # flip a bit in the middle of the huffman data; either the
    # structure breaks (any ValueError) or the CRC catches it
    payload[len(payload) // 2] ^= 0x10
    with pytest.raises(ValueError):
        decode_bz2(bytes(payload))


def test_malformed_headers_quarantine():
    with pytest.raises(ValueError):
        decode_bz2(b"not a bzip2 stream")
    with pytest.raises(ValueError):
        decode_bz2(b"BZh0" + b"\x00" * 20)
    with pytest.raises(ValueError):
        decode_bz2(b"BZh1" + b"\x00" * 20)
    with pytest.raises(ValueError, match="truncated"):
        decode_bz2(stdbz2.compress(b"hello world", 1)[:-4])


def test_max_output_bounds_a_bomb():
    # 256 MiB of zeros compresses to ~200 bytes (built 1 MiB at a
    # time); the cap must raise ValueError after at most cap+1 bytes
    # of output instead of allocating the whole plaintext
    comp = stdbz2.BZ2Compressor(9)
    zeros = bytes(1 << 20)
    bomb = b"".join(comp.compress(zeros) for _ in range(256)) + comp.flush()
    assert len(bomb) < 256
    with pytest.raises(ValueError, match="exceeds"):
        decode_bz2(bomb, max_output=1 << 16)
    # output of exactly the cap is in bounds
    exact = stdbz2.compress(bytes(1 << 16), 9)
    assert decode_bz2(exact, max_output=1 << 16) == bytes(1 << 16)


def test_spark_permissive_quarantine(spark):
    from datawarehouseproject_spark.operators.multimodal import (
        extract_bz2_decode,
    )

    rows = [
        (3, bytearray(synth_bz2(3))),
        (9, bytearray(b"BZh1 garbage that is not a block")),
    ]
    media = spark.createDataFrame(rows, "media_id: long, payload: binary")
    out = {
        r["media_id"]: r
        for r in extract_bz2_decode(media, permissive=True).collect()
    }
    n = synth_bz2_plan(3)["n_bytes"]
    assert out[3]["decode_error"] is None and out[3]["n_bytes"] == n
    assert out[3]["byte_sum"] == sum(
        ((i // 6) * 13 + 3) % 250 for i in range(n)
    )
    assert out[9]["decode_error"] is not None and out[9]["n_bytes"] is None
