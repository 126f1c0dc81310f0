"""Tests for the pure-Python WAV and AVI codecs and the real audio /
video multimodal operators (rounds out the de-stubbing started with
BMP: all three modality decodes are now real)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from datawarehouseproject_spark.functions.avi import (
    decode_avi,
    encode_avi,
    synth_avi,
    synth_frame_count,
    synth_frame_pixel,
)
from datawarehouseproject_spark.functions.bmp import synth_size
from datawarehouseproject_spark.functions.wav import (
    decode_wav,
    encode_wav,
    synth_audio_shape,
    synth_sample,
    synth_wav,
)
from datawarehouseproject_spark.operators.multimodal import (
    extract_audio_features,
    extract_image_features,
    sample_frames,
    synthesize_avi_media,
    synthesize_wav_media,
)

# A 44-byte-header mono 16-bit PCM WAV assembled BY HAND (not via
# encode_wav), pinning the on-disk format: RIFF size 40, 8 kHz, two
# samples [1, -2].
GOLDEN_WAV = bytes.fromhex(
    "52494646" "28000000" "57415645"        # RIFF, size=40, WAVE
    "666d7420" "10000000" "0100" "0100"     # fmt , 16, PCM, mono
    "401f0000" "803e0000" "0200" "1000"     # 8000 Hz, 16000 B/s, align 2, 16b
    "64617461" "04000000" "0100" "feff"     # data, 4 bytes, [1, -2]
)


def test_decode_golden_wav():
    rate, ch, frames = decode_wav(GOLDEN_WAV)
    assert (rate, ch) == (8000, 1) and np.array_equal(frames, [(1,), (-2,)])


def test_encode_matches_golden_wav():
    assert encode_wav(8000, 1, [(1,), (-2,)]) == GOLDEN_WAV


@pytest.mark.parametrize("rate,channels,n", [(8000, 1, 7), (16000, 2, 5), (44100, 2, 1)])
def test_wav_roundtrip(rate, channels, n):
    frames = [
        tuple(((i * 1000 + c * 77) % 65536) - 32768 for c in range(channels))
        for i in range(n)
    ]
    grate, gch, gframes = decode_wav(encode_wav(rate, channels, frames))
    assert (grate, gch) == (rate, channels) and np.array_equal(gframes, frames)


def test_wav_skips_unknown_chunks():
    # a LIST metadata chunk before data must be skipped (real-world
    # files carry INFO tags); odd-size chunk exercises the pad byte
    base = encode_wav(8000, 1, [(5,), (-6,)])
    fmt_end = 12 + 8 + 16
    extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"
    patched = bytearray(base[:fmt_end] + extra + base[fmt_end:])
    struct.pack_into("<I", patched, 4, len(patched) - 8)
    rate, ch, frames = decode_wav(bytes(patched))
    assert (rate, ch) == (8000, 1) and np.array_equal(frames, [(5,), (-6,)])


@pytest.mark.parametrize(
    "mutate,msg",
    [
        (lambda b: b"XXXX" + b[4:], "magic"),
        (lambda b: b[:20] + b"\x02\x00" + b[22:], "unsupported"),  # format=2
        (lambda b: b[:12], "missing fmt"),
    ],
)
def test_wav_rejects_malformed(mutate, msg):
    with pytest.raises(ValueError, match=msg):
        decode_wav(mutate(GOLDEN_WAV))


def test_synth_wav_decodes_to_formula():
    for seed in (0, 1, 5, 987654321):
        rate, channels, n = synth_audio_shape(seed)
        frames = [
            tuple(synth_sample(seed, i, c) for c in range(channels))
            for i in range(n)
        ]
        grate, gch, gframes = decode_wav(synth_wav(seed))
        assert (grate, gch) == (rate, channels)
        assert np.array_equal(gframes, frames)


def test_avi_roundtrip_multiframe():
    frames = [
        [[(t * 50 % 256, x * 80 % 256, y * 90 % 256) for x in range(3)] for y in range(2)]
        for t in range(4)
    ]
    payload = encode_avi(3, 2, frames)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
    w, h, gframes = decode_avi(payload)
    assert (w, h) == (3, 2) and np.array_equal(gframes, frames)


def test_avi_skips_junk_and_idx1():
    # real muxers add JUNK padding and an idx1 chunk; the demuxer
    # must skip both
    frames = [[[(9, 8, 7)]]]
    base = bytearray(encode_avi(1, 1, frames))
    tail = struct.pack("<4sI", b"JUNK", 4) + b"\x00" * 4
    tail += struct.pack("<4sI", b"idx1", 16) + b"\x00" * 16
    patched = bytearray(bytes(base) + tail)
    struct.pack_into("<I", patched, 4, len(patched) - 8)
    w, h, gframes = decode_avi(bytes(patched))
    assert (w, h) == (1, 1) and np.array_equal(gframes, frames)


def test_avi_rejects_malformed():
    with pytest.raises(ValueError, match="magic"):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
    good = bytearray(encode_avi(1, 1, [[[(1, 2, 3)]]]))
    bpp_off = good.index(struct.pack("<4sI", b"strf", 40)) + 8 + 14
    good[bpp_off] = 8  # claim 8-bit palette
    with pytest.raises(ValueError, match="unsupported"):
        decode_avi(bytes(good))


def test_synth_avi_decodes_to_formula():
    for seed in (0, 3, 42):
        w, h = synth_size(seed)
        nf = synth_frame_count(seed)
        want = [
            [[synth_frame_pixel(seed, x, y, t) for x in range(w)] for y in range(h)]
            for t in range(nf)
        ]
        gw, gh, gframes = decode_avi(synth_avi(seed))
        assert (gw, gh) == (w, h) and np.array_equal(gframes, want)


def test_extract_audio_features_spark(spark):
    ids = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    rows = {
        r.media_id: r
        for r in extract_audio_features(synthesize_wav_media(ids)).collect()
    }
    assert len(rows) == 8
    for seed in range(8):
        rate, channels, n = synth_audio_shape(seed)
        flat = [synth_sample(seed, i, c) for i in range(n) for c in range(channels)]
        r = rows[seed]
        assert (r.sample_rate, r.channels, r.n_frames) == (rate, channels, n)
        assert (r.sum_amplitude, r.sum_abs_amplitude) == (
            sum(flat),
            sum(abs(s) for s in flat),
        )


def test_sample_frames_spark(spark):
    ids = spark.range(0, 5).withColumnRenamed("id", "doc_id")
    frames = sample_frames(synthesize_avi_media(ids), every_n=3)
    feats = extract_image_features(frames.withColumnRenamed("frame", "payload"))
    got = {(r.media_id, r.frame_idx): r for r in feats.collect()}
    for seed in range(5):
        w, h = synth_size(seed)
        nf = synth_frame_count(seed)
        expect_idxs = list(range(0, nf, 3))
        assert sorted(i for (m, i) in got if m == seed) == expect_idxs
        for t in expect_idxs:
            px = [synth_frame_pixel(seed, x, y, t) for y in range(h) for x in range(w)]
            r = got[(seed, t)]
            assert (r.width, r.height) == (w, h)
            assert (r.sum_r, r.sum_g, r.sum_b) == tuple(
                sum(p[c] for p in px) for c in range(3)
            )


def test_resample_wav_spark(spark):
    from datawarehouseproject_spark.operators.multimodal import resample_wav

    ids = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    resampled = resample_wav(synthesize_wav_media(ids), 4)
    rows = {r.media_id: r for r in extract_audio_features(resampled).collect()}
    for seed in range(6):
        rate, channels, n = synth_audio_shape(seed)
        kept = [
            synth_sample(seed, i, c)
            for i in range(0, n, 4)
            for c in range(channels)
        ]
        r = rows[seed]
        assert (r.sample_rate, r.channels, r.n_frames) == (
            rate // 4, channels, (n + 3) // 4
        )
        assert (r.sum_amplitude, r.sum_abs_amplitude) == (
            sum(kept), sum(abs(s) for s in kept)
        )


def test_read_media_files_binary_source(spark, tmp_path):
    """Files-on-disk ingestion: write real BMPs + a decoy, read via
    the binaryFile source with a glob pushdown, decode distributed."""
    from datawarehouseproject_spark.functions.bmp import synth_bmp
    from datawarehouseproject_spark.sources.media_files import read_media_files

    for seed in range(4):
        (tmp_path / f"img{seed}.bmp").write_bytes(synth_bmp(seed))
    (tmp_path / "notes.txt").write_text("not an image")

    media = read_media_files(spark, str(tmp_path), glob="*.bmp", keep_path=True)
    feats = extract_image_features(media.drop("path")).collect()
    assert len(feats) == 4  # decoy filtered by the glob, never decoded
    by_path = {r.path.rsplit("/", 1)[-1]: r for r in media.collect()}
    assert set(by_path) == {f"img{s}.bmp" for s in range(4)}
    # ids are distinct and stable across a second read
    again = {r.media_id for r in
             read_media_files(spark, str(tmp_path), glob="*.bmp").collect()}
    assert again == {r.media_id for r in media.collect()} and len(again) == 4


def test_audio_frame_energy_matches_direct_decode(spark):
    """Per-frame energies from the distributed path must equal a
    driver-side decode of the same synthetic payloads."""
    from datawarehouseproject_spark.functions.wav import decode_wav, synth_wav
    from datawarehouseproject_spark.operators.multimodal import (
        audio_frame_energy,
        synthesize_wav_media,
    )

    ids = spark.range(3, 9).selectExpr("id AS doc_id")
    got = {
        (r.media_id, r.frame_idx): r.energy
        for r in audio_frame_energy(synthesize_wav_media(ids)).collect()
    }
    want = {}
    for mid in range(3, 9):
        _, _, frames = decode_wav(synth_wav(mid))
        for i, e in enumerate(np.abs(frames.astype(np.int64)).sum(axis=1)):
            want[(mid, i)] = int(e)
    assert got == want


def test_audio_frame_energy_names_the_truncated_payload(spark):
    """A WAV payload the decoder rejects fails the job with its
    media_id in front of the decoder's message."""
    from pyspark.errors import PythonException

    from datawarehouseproject_spark.functions.wav import synth_wav
    from datawarehouseproject_spark.operators.multimodal import (
        audio_frame_energy,
    )

    media = spark.createDataFrame(
        [(4, synth_wav(4)), (3, synth_wav(3)[:30])],
        "media_id long, payload binary",
    )
    with pytest.raises(PythonException, match="media_id=3: truncated fmt chunk"):
        audio_frame_energy(media).collect()
