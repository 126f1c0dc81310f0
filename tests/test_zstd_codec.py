"""Zstd decoder — functions/zstd_codec.py (round 9): the FSE/tANS
entropy stack, pinned against TWO independent producers (libzstd via
pyarrow, and the zstd CLI binary which writes xxh64 content
checksums by default) across levels and data shapes."""

from __future__ import annotations

import os
import random
import shutil
import struct
import subprocess

import pyarrow as pa
import pytest

from datawarehouseproject_spark.functions.zstd_codec import (
    decode_zstd,
    synth_zstd,
    synth_zstd_plan,
    xxh64,
)

# prefer the conda CLI if present, else whatever is on PATH; the two
# CLI-producer tests skip cleanly when neither exists
_ZSTD_BIN = (
    "/root/miniconda/bin/zstd"
    if os.path.exists("/root/miniconda/bin/zstd")
    else shutil.which("zstd")
)
_needs_cli = pytest.mark.skipif(
    _ZSTD_BIN is None, reason="no zstd CLI on this machine"
)


def _shapes():
    rnd = random.Random(5)
    return {
        "text": b"The quick brown fox jumps over the lazy dog. " * 12_000,
        "rand": bytes(rnd.randrange(256) for _ in range(150_000)),
        "zeros": b"\x00" * 300_000,
        "mix": b"abcabcabc" * 30_000
        + bytes(rnd.randrange(256) for _ in range(20_000)),
        "small": b"hi hi hi hi hi",
        "empty": b"",
        "one": b"x",
        "seq": bytes(range(256)) * 600,
    }


def test_xxh64_published_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert (
        xxh64(b"Nobody inspects the spammish repetition")
        == 0xFBCEA83C8A378BF1
    )


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_pinned_against_libzstd_via_pyarrow(level):
    codec = pa.Codec("zstd", compression_level=level)
    for name, d in _shapes().items():
        assert decode_zstd(
            bytes(codec.compress(d)), max_output=1 << 24
        ) == d, (level, name)


@_needs_cli
def test_pinned_against_zstd_cli_with_checksums():
    """The CLI writes an xxh64 content checksum by default — every
    pass here live-verifies the hand-rolled xxh64 too."""
    for args in (["-3"], ["-19"], ["-1", "--no-check"], ["-3", "--long=20"]):
        for name, d in _shapes().items():
            p = subprocess.run(
                [_ZSTD_BIN, "-c", *args], input=d, capture_output=True
            )
            assert p.returncode == 0
            assert decode_zstd(p.stdout, max_output=1 << 24) == d, (
                args, name,
            )


@_needs_cli
def test_content_checksum_is_verified():
    d = b"checksum me " * 1000
    p = subprocess.run([_ZSTD_BIN, "-c", "-3"], input=d, capture_output=True)
    frame = bytearray(p.stdout)
    frame[-1] ^= 0x01  # checksum is the last 4 bytes
    with pytest.raises(ValueError, match="checksum"):
        decode_zstd(bytes(frame))


def test_concatenated_frames_and_skippable():
    a = bytes(pa.Codec("zstd").compress(b"first " * 100))
    b = bytes(pa.Codec("zstd").compress(b"second " * 100))
    skip = struct.pack("<II", 0x184D2A50, 7) + b"junk!!!"
    assert (
        decode_zstd(a + skip + b) == b"first " * 100 + b"second " * 100
    )


def test_truncations_and_garbage_raise():
    good = bytes(pa.Codec("zstd").compress(b"abcdef" * 500))
    for cut in (0, 3, 5, len(good) // 2, len(good) - 1):
        with pytest.raises(ValueError):
            decode_zstd(good[:cut])
    with pytest.raises(ValueError):
        decode_zstd(b"\x12\x34\x56\x78\x9a")


def test_declared_size_cap_is_enforced():
    big = bytes(pa.Codec("zstd").compress(b"\x00" * 1_000_000))
    with pytest.raises(ValueError, match="cap"):
        decode_zstd(big, max_output=1 << 10)


def test_synth_plan_round_trip():
    for seed in range(16):
        plan = synth_zstd_plan(seed)
        payload = synth_zstd(seed)
        got = decode_zstd(payload)
        n = plan["n_lines"]
        text = got.decode("ascii")
        assert text.count("\n") == n, seed
        first = f"row 0 doc {seed} v {(seed * 17) % 7919}"
        assert text.splitlines()[0] == first, seed
        n_frames = plan["n_frames"]
        # count frame magics (skippable-free synthesis)
        assert payload.count(b"\x28\xb5\x2f\xfd") == n_frames, seed


def test_match_offset_fenced_to_current_frame():
    """A match may not reach into a PREVIOUS concatenated frame's
    output: libzstd rejects that as corrupt, and silently copying
    those bytes would be a wrong answer, not an error.  White-box via
    _decode_sequences_exec with RLE tables (one sequence: ll=2, ml=3,
    of_code=3 + 3 zero bits -> of_value=8 -> offset 5)."""
    from datawarehouseproject_spark.functions.zstd_codec import (
        _decode_sequences_exec,
        _FrameState,
        _rle_table,
    )

    def run(frame_start):
        st = _FrameState()
        st.fse = {
            "ll": _rle_table(2),
            "of": _rle_table(3),
            "ml": _rle_table(0),
        }
        out = bytearray(b"PREV")  # a previous frame's output
        _decode_sequences_exec(
            b"xy", bytes([0x08]), 1, st, out, 1 << 20,
            frame_start=frame_start,
        )
        return bytes(out)

    # same bytes treated as same-frame history: offset 5 is in range
    # (copies out[1:4] == b"REV" from the "previous frame" bytes)
    assert run(0) == b"PREVxyREV"
    # fenced at the frame boundary: only 2 frame bytes precede the
    # match, so offset 5 must quarantine
    with pytest.raises(ValueError, match="frame"):
        run(4)


# -- libzstd vs the hand decoder -------------------------------------------
# decode_zstd sends dictionary-less frames through libzstd (Arrow); the
# hand decoder stays as the independent reference for those bytes.


def _hand(payload, max_output=1 << 28):
    from datawarehouseproject_spark.functions.zstd_codec import (
        _decode_zstd_hand,
    )

    return _decode_zstd_hand(payload, max_output, None)


def _cli_frames():
    for args in (["-3"], ["-19"], ["-1", "--no-check"], ["-3", "--long=20"]):
        for name, d in _shapes().items():
            p = subprocess.run(
                [_ZSTD_BIN, "-c", *args], input=d, capture_output=True
            )
            assert p.returncode == 0
            yield args, name, p.stdout


def test_libzstd_matches_hand_decoder_on_synth_seeds():
    for seed in range(200):
        payload = synth_zstd(seed)
        assert decode_zstd(payload) == _hand(payload), seed


@_needs_cli
def test_libzstd_matches_hand_decoder_on_cli_frames():
    for args, name, frame in _cli_frames():
        want = _hand(frame, 1 << 24)
        assert decode_zstd(frame, max_output=1 << 24) == want, (args, name)
        if "--no-check" in args:
            continue
        # one flipped content-checksum byte: both paths refuse it (a
        # flip inside a block may land in padding and decode the same)
        bad = bytearray(frame)
        bad[-1] ^= 0x01
        for decode in (_hand, decode_zstd):
            with pytest.raises(ValueError, match="checksum"):
                decode(bytes(bad), 1 << 24)


def test_libzstd_path_contract_errors():
    good = bytes(pa.Codec("zstd").compress(b"abcdef" * 500))
    skip = struct.pack("<II", 0x184D2A50, 3) + b"abc"
    with pytest.raises(ValueError, match="no zstd frames"):
        decode_zstd(b"")
    with pytest.raises(ValueError, match="no zstd frames"):
        decode_zstd(skip + skip)
    with pytest.raises(ValueError):
        decode_zstd(good + b"junk")
    with pytest.raises(ValueError):
        decode_zstd(good + b"\x28\xb5")
    with pytest.raises(ValueError, match="bad zstd magic"):
        decode_zstd(skip + b"\x12\x34\x56\x78\x9a")


def test_window_above_libzstd_limit_is_a_valueerror():
    """Window descriptor exponent 18 -> 2**28 bytes, one past libzstd's
    default decode limit; the hand decoder ignores the window, libzstd
    refuses it, and the refusal must surface as ValueError."""
    frame = (
        struct.pack("<I", 0xFD2FB528)
        + bytes([0x00, 18 << 3])  # no content size; window descriptor
        + bytes([0x09, 0x00, 0x00])  # last raw block of 1 byte
        + b"x"
    )
    assert _hand(frame) == b"x"
    # an escaping OSError or MemoryError is not a ValueError: it fails
    with pytest.raises(ValueError, match="too much memory"):
        decode_zstd(frame)


def test_bomb_stops_at_cap_without_allocating_it():
    """64 MiB of zeros, streamed so the frame declares no content size
    (the declared-size check cannot catch it), is ~2 KiB compressed."""
    import resource

    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        zeros = b"\x00" * (1 << 20)
        for _ in range(64):
            out.write(zeros)
    bomb = sink.getvalue().to_pybytes()
    del zeros
    assert len(bomb) < 4096 and bomb[4] & 0xC0 == 0  # no content size
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with pytest.raises(ValueError, match="cap"):
        decode_zstd(bomb, max_output=1 << 16)
    grown_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - before
    assert grown_kib < 8 * 1024
