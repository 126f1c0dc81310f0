"""IMA ADPCM audio codec (pure stdlib) — compressed audio for the
multimodal path.

Completes compressed coverage across modalities: PNG/GIF give images
DEFLATE and LZW; IMA ADPCM gives audio the classic 4:1 lossy codec
(4-bit differential nibbles + an adaptive step-size state machine,
as used in WAV ``fmt 0x11`` and countless games). The decoder is a
deterministic integer state machine — bit-exact across platforms —
but inherently SEQUENTIAL (each sample's reconstruction feeds the
next prediction), so unlike the other codecs no SQL oracle can
replay it; the registry entry is rows-only and the semantics are
pinned by unit tests instead (spec step table, saturation, known
round-trip bounds).

Frame layout used here (mono, simplified block-less stream):

- u16 LE sample count, i16 LE initial predictor, u8 initial step
  index, u8 pad;
- then ceil(n/2) bytes of 4-bit nibbles, low nibble first.
"""

from __future__ import annotations

import struct

import numpy as np

#: IMA ADPCM step-size table (89 entries, spec values).
STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]

#: Step-index adjustment per nibble magnitude (spec values).
INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _clamp16(v: int) -> int:
    return -32768 if v < -32768 else (32767 if v > 32767 else v)


def _clamp_idx(i: int) -> int:
    return 0 if i < 0 else (88 if i > 88 else i)


def encode_adpcm(samples) -> bytes:
    """Encode mono int16 samples to the 4-bit IMA ADPCM stream.

    The encoder tracks the same predictor/step state the decoder
    will, so quantization error never accumulates beyond one step.
    """
    arr = np.asarray(samples, dtype=np.int64).ravel()
    n = arr.size
    predictor = int(arr[0]) if n else 0
    index = 0
    nibbles: list[int] = []
    for s in arr:
        step = STEP_TABLE[index]
        diff = int(s) - predictor
        nib = 0
        if diff < 0:
            nib = 8
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        # reconstruct exactly as the decoder will
        delta = (step >> 3) + (
            (step if nib & 4 else 0)
            + ((step >> 1) if nib & 2 else 0)
            + ((step >> 2) if nib & 1 else 0)
        )
        predictor = _clamp16(predictor + (-delta if nib & 8 else delta))
        index = _clamp_idx(index + INDEX_TABLE[nib & 7])
        nibbles.append(nib)
    data = bytearray()
    for i in range(0, len(nibbles), 2):
        lo = nibbles[i]
        hi = nibbles[i + 1] if i + 1 < len(nibbles) else 0
        data.append(lo | (hi << 4))
    init = int(arr[0]) if n else 0
    return struct.pack("<Hhbb", n, init, 0, 0) + bytes(data)


def decode_adpcm(payload: bytes) -> np.ndarray:
    """Decode the 4-bit IMA ADPCM stream back to int16 samples.

    The header carries the initial predictor/step-index state; each
    of the ``n`` nibbles advances the integer state machine (delta =
    step/8 + selected step fractions, sign bit, index table, 16-bit
    saturation) and emits one reconstructed sample.
    """
    if len(payload) < 6:
        raise ValueError("truncated ADPCM payload")
    n, predictor, index, _ = struct.unpack_from("<Hhbb", payload, 0)
    need = (n + 1) // 2
    if len(payload) < 6 + need:
        raise ValueError("truncated ADPCM nibble stream")
    out = np.empty(n, dtype=np.int16)
    index = _clamp_idx(index)
    pos = 6
    for i in range(n):
        byte = payload[pos + i // 2]
        nib = (byte >> 4) if i & 1 else (byte & 0x0F)
        step = STEP_TABLE[index]
        delta = (step >> 3) + (
            (step if nib & 4 else 0)
            + ((step >> 1) if nib & 2 else 0)
            + ((step >> 2) if nib & 1 else 0)
        )
        predictor = _clamp16(predictor + (-delta if nib & 8 else delta))
        index = _clamp_idx(index + INDEX_TABLE[nib & 7])
        out[i] = predictor
    return out


def wav_roundtrip_features(payload: bytes) -> dict:
    """The ``adpcm_roundtrip_features`` row of a WAV payload: take
    channel 0, encode it to 4-bit ADPCM, decode back, and report the
    sample count, the compressed size, the amplitude sum of the
    reconstruction and its max absolute error against the original."""
    from .wav import decode_wav

    _, _, frames = decode_wav(payload)
    mono = frames[:, 0].astype(np.int64)
    enc = encode_adpcm(mono)
    rec = decode_adpcm(enc).astype(np.int64)
    return {
        "n_samples": int(mono.size),
        "encoded_bytes": len(enc),
        "sum_amplitude": int(rec.sum()),
        "max_abs_error": int(np.abs(rec - mono).max()) if mono.size else 0,
    }
