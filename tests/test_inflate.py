"""Raw DEFLATE decode (functions/inflate.py) pinned against the
stdlib zlib COMPRESSOR across levels, strategies, and block shapes,
plus hand-assembled malformed streams."""

from __future__ import annotations

import zlib

import pytest

from datawarehouseproject_spark.functions.inflate import (
    decode_deflate,
    inflate,
    synth_deflate,
    synth_deflate_plan,
)


def _raw(content: bytes, level: int = 6, strategy=zlib.Z_DEFAULT_STRATEGY):
    co = zlib.compressobj(level, zlib.DEFLATED, -15, 9, strategy)
    return co.compress(content) + co.flush()


def test_producer_matrix_levels_and_strategies():
    cases = [
        b"",
        b"A",
        b"ABC" * 2000,
        bytes(range(256)) * 40,
        b"x" * 70_000,  # > one stored block at level 0
        bytes((i * 2654435761) % 256 for i in range(40_000)),  # high entropy
    ]
    for level in (0, 1, 6, 9):
        for strategy in (zlib.Z_DEFAULT_STRATEGY, zlib.Z_FIXED, zlib.Z_RLE):
            for content in cases:
                s = _raw(content, level, strategy)
                assert inflate(s, max_output=1 << 24) == content


def test_overlapping_copy_distance_one():
    # "aaaa..." compresses to literal 'a' + match(distance=1): the
    # overlap-copy semantics that a naive slice copy gets wrong
    content = b"a" * 300
    assert inflate(_raw(content)) == content


def test_window_spanning_distances():
    # matches that reach back toward the 32 KiB window edge
    block = bytes((i * 31) % 256 for i in range(32_768))
    content = block + b"\x00" * 100 + block[:4000]
    assert inflate(_raw(content), max_output=1 << 20) == content


def test_multi_block_full_flush():
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    s = (
        co.compress(b"hello world " * 100)
        + co.flush(zlib.Z_FULL_FLUSH)
        + co.compress(b"second block" * 50)
        + co.flush()
    )
    assert inflate(s) == b"hello world " * 100 + b"second block" * 50


def test_synth_plan_roundtrip_and_features():
    for seed in (0, 1, 2, 3, 4, 12, 37, 99):
        plan = synth_deflate_plan(seed)
        out = decode_deflate(synth_deflate(seed))
        assert out["content"] == plan["content"]
        assert out["n_bytes"] == len(plan["content"])
        assert out["sum_bytes"] == sum(plan["content"])
        assert out["first_byte"] == plan["content"][0]
        assert out["last_byte"] == plan["content"][-1]


def test_stored_len_nlen_mismatch_rejected():
    content = b"stored!"
    # hand-assemble: final stored block with corrupted NLEN
    ln = len(content)
    good = bytes([0x01, ln & 0xFF, ln >> 8, (~ln) & 0xFF, ((~ln) >> 8) & 0xFF]) + content
    assert inflate(good) == content
    bad = bytearray(good)
    bad[3] ^= 0xFF
    with pytest.raises(ValueError):
        inflate(bytes(bad))


def test_reserved_block_type_rejected():
    with pytest.raises(ValueError):
        inflate(bytes([0x07]))  # final=1, btype=3


def test_distance_before_start_rejected():
    # fixed-huffman block: literal 'a' then a match with distance 4
    # (> the 1 byte of history). Assemble bit-exactly, LSB-first.
    bits = []

    def put(v, k, msb=False):
        seq = range(k - 1, -1, -1) if msb else range(k)
        for i in seq:
            bits.append((v >> i) & 1)

    put(1, 1)  # final
    put(1, 2)  # fixed huffman
    put(0x30 + ord("a"), 8, msb=True)  # literal 'a' (code 0x30+sym, MSB-first)
    put(0b0000001, 7, msb=True)  # length symbol 257 (codes 256.. are 7-bit)
    put(3, 5, msb=True)  # distance symbol 3 -> distance 4
    put(0, 7, msb=True)  # end of block (will not be reached)
    data = bytearray()
    for i, b in enumerate(bits):
        if i % 8 == 0:
            data.append(0)
        data[-1] |= b << (i % 8)
    with pytest.raises(ValueError):
        inflate(bytes(data))


def test_truncation_rejected():
    s = _raw(b"hello world" * 20)
    for cut in range(len(s)):
        with pytest.raises(ValueError):
            inflate(s[:cut])


def test_max_output_bound():
    bomb = _raw(b"\x00" * 1_000_000, 9)
    with pytest.raises(ValueError, match="exceeds"):
        inflate(bomb, max_output=10_000)
