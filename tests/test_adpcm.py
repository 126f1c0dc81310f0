"""IMA ADPCM codec: spec state machine pinned by hand-computed
goldens (no SQL oracle possible — the reconstruction is sequential)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from datawarehouseproject_spark.functions.adpcm import (
    INDEX_TABLE,
    STEP_TABLE,
    decode_adpcm,
    encode_adpcm,
)


def test_step_tables_are_spec_values():
    assert len(STEP_TABLE) == 89
    assert STEP_TABLE[0] == 7 and STEP_TABLE[88] == 32767
    assert INDEX_TABLE == [-1, -1, -1, -1, 2, 4, 6, 8]


def test_decode_golden_state_machine():
    """Hand-traced: init predictor 0, index 0, nibbles [2, 4, 9]:
    step 7 -> +3 (idx stays 0), step 7 -> +7 (idx 2), step 9 ->
    -(1+2) (idx 1) => samples [3, 10, 7]."""
    payload = struct.pack("<Hhbb", 3, 0, 0, 0) + bytes([0x42, 0x09])
    assert decode_adpcm(payload).tolist() == [3, 10, 7]


def test_roundtrip_tracks_slow_signal():
    t = np.arange(500)
    samples = (1000 * np.sin(t / 30)).astype(np.int16)
    out = decode_adpcm(encode_adpcm(samples))
    assert out.shape == samples.shape
    # lossy, but the adaptive step keeps error within a few steps
    assert np.abs(out.astype(int) - samples.astype(int)).max() < 200


def test_roundtrip_saturates_not_wraps():
    samples = np.array([0, 32767, -32768, 32767] * 20, dtype=np.int16)
    out = decode_adpcm(encode_adpcm(samples))
    assert out.max() <= 32767 and out.min() >= -32768


def test_decode_rejects_truncated():
    with pytest.raises(ValueError, match="truncated"):
        decode_adpcm(b"\x01\x00")
    with pytest.raises(ValueError, match="truncated"):
        decode_adpcm(struct.pack("<Hhbb", 10, 0, 0, 0) + b"\x00")


def test_compression_ratio_is_4x():
    samples = np.zeros(1000, dtype=np.int16)
    encoded = encode_adpcm(samples)
    assert len(encoded) - 6 == 500  # 2 samples/byte vs 2 bytes/sample


def test_adpcm_roundtrip_features_names_the_truncated_payload(spark):
    """A WAV payload the decoder rejects fails the job with its
    media_id in front of the decoder's message."""
    from pyspark.errors import PythonException

    from datawarehouseproject_spark.functions.wav import synth_wav
    from datawarehouseproject_spark.operators.multimodal import (
        adpcm_roundtrip_features,
    )

    media = spark.createDataFrame(
        [(3, synth_wav(3)[:30])], "media_id long, payload binary"
    )
    with pytest.raises(PythonException, match="media_id=3: truncated fmt chunk"):
        adpcm_roundtrip_features(media).collect()
