"""Pure-Python AVI (RIFF) muxer/demuxer for uncompressed DIB video.

De-stubs the video half of the multimodal surface: the round-3
``sample_frames`` raised ``NotImplementedError`` ("requires ffmpeg").
Uncompressed ``DIB `` AVI needs no codec — it is a RIFF container
(``RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
LIST('movi' '00db'*))``) whose ``00db`` chunks carry exactly the BMP
pixel-array layout (bottom-up padded BGR rows), parsed by
:func:`..functions.bmp.parse_pixel_array`. Files produced here open
in standard players; files from standard tools (with extra chunks
like ``idx1``/``JUNK``/``vprp``) demux here, because the walker skips
unknown chunks instead of assuming a fixed layout.

Structures (all little-endian):

- ``avih`` MainAVIHeader: 14×u32 — µs/frame, max bytes/s, padding,
  flags, total frames, initial frames, streams, buffer size, width,
  height, 4×reserved;
- ``strh`` AVIStreamHeader: ``vids``/``DIB `` fourccs, flags,
  priority+language, initial frames, scale, rate, start, length,
  buffer size, quality, sample size, rcFrame;
- ``strf`` for video = the 40-byte ``BITMAPINFOHEADER`` (shared with
  BMP).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np

from .bmp import encode_bmp, encode_pixel_array, parse_pixel_array, row_stride, synth_size

_AVIH = struct.Struct("<14I")
_STRH = struct.Struct("<4s4sIHHIIIIIIII4H")
_BIH = struct.Struct("<IiiHHIIiiII")


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack("<4sI", fourcc, len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_avi(
    width: int,
    height: int,
    frames,
    fps: int = 10,
) -> bytes:
    """Mux top-down RGB frame arrays into an uncompressed DIB AVI.

    ``frames`` is array-like of shape ``(n_frames, height, width, 3)``
    (or any sequence of ``(height, width, 3)`` RGB arrays)."""
    frames = np.asarray(frames, dtype=np.uint8)
    frame_bytes = row_stride(width) * height
    avih = _chunk(
        b"avih",
        _AVIH.pack(
            1_000_000 // fps, frame_bytes * fps, 0, 0,  # flags: no idx1 index
            len(frames), 0, 1, frame_bytes, width, height, 0, 0, 0, 0,
        ),
    )
    strh = _chunk(
        b"strh",
        _STRH.pack(
            b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, len(frames),
            frame_bytes, 0, frame_bytes, 0, 0, width, height,
        ),
    )
    strf = _chunk(
        b"strf",
        _BIH.pack(40, width, height, 1, 24, 0, frame_bytes, 2835, 2835, 0, 0),
    )
    hdrl = _list(b"hdrl", avih + _list(b"strl", strh + strf))
    movi = _list(
        b"movi",
        b"".join(_chunk(b"00db", encode_pixel_array(width, height, f)) for f in frames),
    )
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def _walk(payload: bytes, pos: int, end: int) -> Iterator[tuple[bytes, bytes | None, int, int]]:
    """Yield (fourcc, list_type, body_start, body_end) for each RIFF
    chunk in [pos, end), honoring the odd-size pad byte."""
    while pos + 8 <= end:
        fourcc, size = struct.unpack_from("<4sI", payload, pos)
        body_start, body_end = pos + 8, min(pos + 8 + size, end)
        if fourcc in (b"LIST", b"RIFF") and size >= 4:
            yield fourcc, payload[body_start : body_start + 4], body_start + 4, body_end
        else:
            yield fourcc, None, body_start, body_end
        pos = body_start + size + (size & 1)


def decode_avi(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Demux an uncompressed DIB AVI to (width, height, frames).

    ``frames`` is a ``(n_frames, height, width, 3)`` uint8 array of
    top-down RGB frames in stream order (each frame decoded by the
    vectorized :func:`..functions.bmp.parse_pixel_array` kernel).
    Unknown chunks (``idx1``, ``JUNK``, vendor lists) are skipped;
    raises ``ValueError`` on non-AVI magic, missing headers, or a
    compressed/paletted video stream.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload (missing RIFF/'AVI ' magic)")
    width = height = None
    bottom_up = True
    frames: list[np.ndarray] = []

    def visit(pos: int, end: int) -> None:
        nonlocal width, height, bottom_up
        for fourcc, list_type, b0, b1 in _walk(payload, pos, end):
            if list_type is not None:
                visit(b0, b1)
            elif fourcc == b"strf" and b1 - b0 >= 40 and width is None:
                _, w, h, _, bpp, compression, *_ = _BIH.unpack_from(payload, b0)
                if bpp != 24 or compression != 0:
                    raise ValueError(
                        f"unsupported AVI video (bpp={bpp} "
                        f"compression={compression}); only 24-bit DIB"
                    )
                width, height, bottom_up = w, abs(h), h > 0
            elif fourcc in (b"00db", b"00dc"):
                if width is None:
                    raise ValueError("frame chunk before strf header")
                frames.append(
                    parse_pixel_array(
                        payload[b0:b1], 0, width, height, bottom_up
                    )
                )

    # clamp the declared RIFF size to the actual payload: a lying
    # size field drove unpack_from past the buffer (round-8 fuzz)
    visit(12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0]))
    if width is None:
        raise ValueError("missing strf video header")
    stacked = (
        np.stack(frames)
        if frames
        else np.empty((0, height, width, 3), dtype=np.uint8)
    )
    return width, height, stacked


def sample_avi_frames(payload: bytes, every_n: int) -> list[dict]:
    """Every ``every_n``-th frame of :func:`decode_avi`, re-encoded as
    a standalone BMP (``sample_frames``); ``frame_idx`` is the
    ORIGINAL stream index (0, n, 2n…)."""
    w, h, frames = decode_avi(payload)
    return [
        {"frame_idx": i, "frame": encode_bmp(w, h, frames[i])}
        for i in range(0, len(frames), every_n)
    ]


def synth_frame_pixel(seed: int, x: int, y: int, t: int) -> tuple[int, int, int]:
    """Deterministic pixel for frame ``t`` — mirrored verbatim in the
    DuckDB oracle (the BMP formula plus a per-frame ``t`` term)."""
    return (
        (seed * 7 + x * 3 + y * 5 + t * 19) % 256,
        (seed * 11 + x * 2 + y * 13 + t * 23) % 256,
        (seed * 3 + x * 17 + y + t * 29) % 256,
    )


def synth_frame_count(seed: int) -> int:
    """Per-seed frame count 4..8 — with every_n=3 sampling this
    yields 2 or 3 sampled frames, exercising the 1:N expansion."""
    return 4 + seed % 5


def synth_frames(seed: int, width: int, height: int, n_frames: int) -> np.ndarray:
    """Vectorized :func:`synth_frame_pixel` over the full clip:
    broadcasts the x/y/t index grids through the same modular
    formulas, returning ``(n_frames, height, width, 3)`` uint8."""
    x = np.arange(width, dtype=np.int64)
    y = np.arange(height, dtype=np.int64)[:, None]
    t = np.arange(n_frames, dtype=np.int64)[:, None, None]
    shape = (n_frames, height, width)
    r = np.broadcast_to((seed * 7 + x * 3 + y * 5 + t * 19) % 256, shape)
    g = np.broadcast_to((seed * 11 + x * 2 + y * 13 + t * 23) % 256, shape)
    b = np.broadcast_to((seed * 3 + x * 17 + y + t * 29) % 256, shape)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def synth_avi(seed: int) -> bytes:
    """Synthesize the deterministic test clip for ``seed``; frame
    size reuses :func:`..functions.bmp.synth_size`."""
    w, h = synth_size(seed)
    return encode_avi(w, h, synth_frames(seed, w, h, synth_frame_count(seed)))
