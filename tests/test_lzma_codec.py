"""LZMA / LZMA2 / .xz decode — functions/lzma_codec.py: the
multi-stream, bounded, ValueError-only contract around liblzma,
pinned against the stdlib lzma producer. Full decode beyond the
container triage of functions/xz_scan.py."""

from __future__ import annotations

import hashlib
import lzma as stdlzma
import random

import pytest

from datawarehouseproject_spark.functions.lzma_codec import (
    decode_lzma2,
    decode_lzma_alone,
    decode_xz,
    synth_xz_text,
    synth_xz_text_plan,
)

_SHAPES = [
    b"",
    b"a",
    b"hello world " * 50,
    (b"abcabcabc" * 200 + b"X" + b"abcabcabc" * 200),  # long matches
    bytes((i * i) % 251 for i in range(20_000)),       # mid-entropy
]


def _random_bytes(n: int, seed: int = 1) -> bytes:
    rnd = random.Random(seed)
    return bytes(rnd.randrange(256) for _ in range(n))


def test_xz_all_check_types_round_trip():
    for data in _SHAPES + [_random_bytes(3000)]:
        for check in (
            stdlzma.CHECK_NONE,
            stdlzma.CHECK_CRC32,
            stdlzma.CHECK_CRC64,
            stdlzma.CHECK_SHA256,
        ):
            x = stdlzma.compress(data, format=stdlzma.FORMAT_XZ, check=check)
            assert decode_xz(x) == data, (len(data), check)


def test_lzma_alone_round_trip():
    for data in _SHAPES:
        a = stdlzma.compress(data, format=stdlzma.FORMAT_ALONE)
        assert decode_lzma_alone(a) == data, len(data)


def test_raw_lzma2_lclppb_grid():
    """Every legal lc/lp/pb combination (liblzma requires
    lc + lp <= 4) across the data shapes — a mis-indexed literal
    context table or pos-state mask fails exactly here."""
    for lc in range(5):
        for lp in range(3):
            if lc + lp > 4:
                continue
            for pb in range(3):
                filt = [
                    {
                        "id": stdlzma.FILTER_LZMA2,
                        "preset": 6,
                        "lc": lc,
                        "lp": lp,
                        "pb": pb,
                    }
                ]
                for data in _SHAPES:
                    raw = stdlzma.compress(
                        data, format=stdlzma.FORMAT_RAW, filters=filt
                    )
                    assert decode_lzma2(raw) == data, (lc, lp, pb, len(data))


def test_lzma2_mid_stream_dict_reset_keeps_prior_output():
    """Two concatenated raw LZMA2 sequences = a dict reset in the
    middle; the decoder must fence match distances there WITHOUT
    discarding the first half."""
    f = [{"id": stdlzma.FILTER_LZMA2, "preset": 1}]
    a, b = b"first part " * 30, b"second part " * 30
    r1 = stdlzma.compress(a, format=stdlzma.FORMAT_RAW, filters=f)
    r2 = stdlzma.compress(b, format=stdlzma.FORMAT_RAW, filters=f)
    assert r1.endswith(b"\x00")
    assert decode_lzma2(r1[:-1] + r2) == a + b


def test_concatenated_xz_streams_with_padding():
    a = stdlzma.compress(b"s1 " * 100, check=stdlzma.CHECK_CRC64)
    b = stdlzma.compress(b"s2 " * 100, check=stdlzma.CHECK_SHA256)
    assert decode_xz(a + b) == b"s1 " * 100 + b"s2 " * 100
    # four-byte null stream padding between streams is legal
    assert decode_xz(a + b"\x00" * 4 + b) == b"s1 " * 100 + b"s2 " * 100


def test_trailing_junk_after_xz_stream_raises():
    # lzma.decompress silently ignores trailing bytes; decode_xz must not
    a = stdlzma.compress(b"s1 " * 100, check=stdlzma.CHECK_CRC32)
    for junk in (b"junk", b"\x00\x00", b"\x00" * 4 + b"\x01\x02\x03\x04"):
        with pytest.raises(ValueError):
            decode_xz(a + junk)
    assert decode_xz(a + b"\x00" * 8) == b"s1 " * 100


def test_incompressible_data_uses_uncompressed_chunks():
    """liblzma stores high-entropy data in LZMA2 UNCOMPRESSED chunks
    (control 0x01/0x02) — pin that code path explicitly."""
    data = _random_bytes(200_000, seed=9)
    x = stdlzma.compress(data, format=stdlzma.FORMAT_XZ, preset=0)
    assert decode_xz(x) == data


def test_multi_chunk_large_payload():
    """> 2 MiB of compressible text forces multiple compressed
    chunks (21-bit unpacked-size limit per chunk) and exercises
    state carry-over between chunks."""
    data = (b"The quick brown fox jumps over the lazy dog. " * 50_000)
    x = stdlzma.compress(data, check=stdlzma.CHECK_CRC32, preset=1)
    assert decode_xz(x) == data


def test_checks_are_actually_verified():
    """Corrupting the stored check (last bytes before the index)
    must raise — prove the CRC32/CRC64/SHA-256 verification is live.
    The check field sits between block data and the index; flip a
    bit in it by locating it from a clean/corrupt diff."""
    data = b"check me " * 100
    for check, name in (
        (stdlzma.CHECK_CRC32, "CRC32"),
        (stdlzma.CHECK_CRC64, "CRC64"),
        (stdlzma.CHECK_SHA256, "SHA-256"),
    ):
        x = bytearray(stdlzma.compress(data, check=check))
        # the block check field ends right before the index
        # indicator; find the index by decoding the footer backward
        import struct
        import zlib

        (backward,) = struct.unpack_from("<I", x, len(x) - 8)
        idx_start = len(x) - 12 - (backward + 1) * 4
        x[idx_start - 1] ^= 0x01  # last byte of the check
        with pytest.raises(ValueError):
            decode_xz(bytes(x))


def test_skeleton_crcs_are_verified():
    x = bytearray(stdlzma.compress(b"abc", check=stdlzma.CHECK_CRC32))
    x[8] ^= 0x01  # stream-header CRC32 byte
    with pytest.raises(ValueError):
        decode_xz(bytes(x))


def test_corrupt_range_data_raises_not_garbage():
    """Bit flips inside the compressed payload must surface as
    ValueError (size/terminator/check mismatch), never as a silent
    wrong answer or a non-ValueError crash."""
    data = b"sensitive " * 500
    base = stdlzma.compress(data, check=stdlzma.CHECK_CRC32)
    for at in (20, 25, 30, len(base) // 2):
        x = bytearray(base)
        x[at] ^= 0x40
        try:
            got = decode_xz(bytes(x))
        except ValueError:
            continue
        # extraordinarily unlikely, but if structure survived the
        # flip the plaintext must still verify against its check
        assert got == data


def test_sha256_check_against_hashlib():
    data = b"hash pin " * 64
    x = stdlzma.compress(data, check=stdlzma.CHECK_SHA256)
    # the final 32 bytes before the index are the sha256 of data
    assert hashlib.sha256(data).digest() in x
    assert decode_xz(x) == data


def test_synth_plan_matches_decoded_text():
    for seed in range(24):
        plan = synth_xz_text_plan(seed)
        text = decode_xz(synth_xz_text(seed)).decode("ascii")
        lines = text.splitlines()
        assert len(lines) == plan["n_lines"], seed
        assert lines[0] == f"line 0 of doc {seed} value {(seed * 31) % 9973}"
        # odd seeds are two concatenated streams; even, one
        n_streams = synth_xz_text(seed).count(b"\xfd7zXZ\x00")
        assert n_streams == (2 if seed % 2 else 1)


def test_truncated_inputs_raise():
    x = stdlzma.compress(b"abcdef" * 20, check=stdlzma.CHECK_CRC32)
    for cut in (0, 5, 11, len(x) // 2, len(x) - 1):
        with pytest.raises(ValueError):
            decode_xz(x[:cut])


def test_output_cap_bounds_decompression_bombs():
    # a few KB of compressed zeros declare far more output than the
    # cap allows; every container path must raise ValueError (the
    # quarantine contract), never OOM toward MemoryError
    bomb = b"\x00" * (1 << 20)  # 1 MiB of zeros compresses to ~1 KB
    xz = stdlzma.compress(bomb, check=stdlzma.CHECK_CRC32)
    with pytest.raises(ValueError, match="cap"):
        decode_xz(xz, max_output=1 << 16)
    alone_known = stdlzma.compress(bomb, format=stdlzma.FORMAT_ALONE)
    with pytest.raises(ValueError, match="cap"):
        decode_lzma_alone(alone_known, max_output=1 << 16)
    # unknown-size (end-marker) lzma-alone takes the hard_cap path
    comp = stdlzma.LZMACompressor(
        format=stdlzma.FORMAT_ALONE,
        filters=[{"id": stdlzma.FILTER_LZMA1}],
    )
    alone = comp.compress(bomb) + comp.flush()
    unknown = alone[:5] + b"\xff" * 8 + alone[13:]
    if stdlzma.decompress(unknown, format=stdlzma.FORMAT_ALONE) == bomb:
        with pytest.raises(ValueError, match="cap"):
            decode_lzma_alone(unknown, max_output=1 << 16)
    # a header-declared 4 GiB dictionary is refused, not allocated
    small = stdlzma.compress(b"abc" * 100, format=stdlzma.FORMAT_ALONE)
    with pytest.raises(ValueError):
        decode_lzma_alone(small[:1] + b"\xff\xff\xff\xff" + small[5:])
    # and the caps do not fire on in-bounds output
    assert decode_xz(xz, max_output=1 << 21) == bomb
