"""PNG codec (stdlib ``zlib`` only) for the multimodal image path.

A REAL compressed-format decode with zero codec libraries: PNG is
DEFLATE (stdlib ``zlib``) over per-row filtered scanlines inside a
CRC-checked chunk container. This upgrades the multimodal surface
from "uncompressed formats" (BMP/PCM-WAV/DIB-AVI) to genuine
compressed decode, with the same integer-exact DuckDB oracle pattern
as :mod:`.bmp` (VERDICT r4 item 2).

Supported subset: 8-bit-depth truecolor (color type 2), sequential
AND Adam7-interlaced (round 8 — the progressive-delivery profile,
the PNG analogue of progressive JPEG: seven passes over a fixed 8×8
sub-sampling grid, each pass an independently-filtered sub-image,
empty passes contributing no scanlines). All five PNG row filters
decode (None/Sub/Up vectorized with numpy; Average/Paeth per the
spec's sequential recurrence); the encoder cycles filters
None→Sub→Up per row so round-trips exercise the filter machinery,
not just the DEFLATE wrapper.

Format layout (network byte order / big-endian):

- 8-byte signature ``89 50 4E 47 0D 0A 1A 0A``;
- chunks: u32 length, 4-byte type, payload, u32 CRC32(type+payload);
- ``IHDR``: u32 width, u32 height, u8 bit depth, u8 color type,
  u8 compression(0), u8 filter method(0), u8 interlace(0);
- ``IDAT``: zlib stream of scanlines, each ``filter_byte +
  width*3 RGB bytes``;
- ``IEND``: empty terminator.

Pixel arrays are ``(height, width, 3)`` uint8 RGB top-down ndarrays,
interchangeable with the BMP codec's.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_BPP = 3  # bytes per pixel (8-bit RGB)

#: Adam7 pass grid (PNG spec §8.2): (x0, y0, dx, dy) per pass.
ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload))
    )


def _filter_rows(flat: np.ndarray, bpp: int = _BPP) -> bytes:
    """Filter a (rows, stride) sub-image with the None→Sub→Up cycle;
    each call starts the cycle (and the Up 'prior' row) fresh — the
    per-pass independence Adam7 requires. ``bpp`` is the Sub filter
    distance (3 for truecolor, 1 for gray/palette)."""
    height = flat.shape[0]
    lines = bytearray()
    for y in range(height):
        f = y % 3
        row = flat[y]
        if f == 1:  # Sub: raw[x] - raw[x-bpp], uint8 wrap
            filt = row.copy()
            filt[bpp:] = row[bpp:] - row[:-bpp]
        elif f == 2 and y > 0:  # Up: raw[x] - prior[x]
            filt = row - flat[y - 1]
        else:
            f, filt = 0, row
        lines.append(f)
        lines += filt.tobytes()
    return bytes(lines)


def encode_png(
    width: int,
    height: int,
    pixels,
    interlace: bool = False,
    color_type: int = 2,
    palette=None,
) -> bytes:
    """Encode an 8-bit PNG: truecolor (``color_type=2``, the
    default: pixels is (h, w, 3) RGB), GRAYSCALE (``color_type=0``:
    pixels is (h, w)), or PALETTE (``color_type=3``: pixels is an
    (h, w) index array and ``palette`` an (n<=256, 3) RGB table
    written as the PLTE chunk) — together the three profiles that
    cover essentially all real-world 8-bit PNGs.

    Each scanline is filtered before DEFLATE with the filter cycle
    ``y % 3`` → None(0) / Sub(1) / Up(2), so every encoded image
    exercises real filter arithmetic (uint8 wraparound differences),
    and Sub/Up rows compress well on the synthetic gradients.
    ``interlace=True`` writes the Adam7 layout: seven sub-images in
    pass order, each independently filtered, empty passes omitted,
    all compressed as ONE zlib stream (as the spec requires).
    """
    arr = np.asarray(pixels, dtype=np.uint8)
    if color_type == 2:
        if arr.shape != (height, width, 3):
            raise ValueError("pixels must be a (height, width, 3) RGB array")
        bpp = 3
    elif color_type in (0, 3):
        if arr.shape != (height, width):
            raise ValueError(
                "gray/palette pixels must be a (height, width) array"
            )
        if color_type == 3:
            if palette is None:
                raise ValueError("palette required for color type 3")
            palette = np.asarray(palette, dtype=np.uint8)
            if palette.ndim != 2 or palette.shape[1] != 3 or len(palette) > 256:
                raise ValueError("palette must be (n<=256, 3)")
            if int(arr.max(initial=0)) >= len(palette):
                raise ValueError("pixel index outside the palette")
        bpp = 1
        arr = arr[..., np.newaxis]
    else:
        raise ValueError(f"unsupported color type {color_type}")
    if not interlace:
        lines = _filter_rows(arr.reshape(height, width * bpp), bpp)
    else:
        parts = bytearray()
        for x0, y0, dx, dy in ADAM7:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass: no scanlines at all
            parts += _filter_rows(
                sub.reshape(sub.shape[0], sub.shape[1] * bpp), bpp
            )
        lines = bytes(parts)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0,
        1 if interlace else 0,
    )
    out = PNG_SIG + _chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += _chunk(b"PLTE", palette.tobytes())
    out += _chunk(b"IDAT", zlib.compress(bytes(lines), 6))
    out += _chunk(b"IEND", b"")
    return out


def decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode an 8-bit PNG — truecolor (2), GRAYSCALE (0), or
    PALETTE (3, via the PLTE chunk) — to (width, height, RGB array):
    gray replicates into all channels, palette indices gather
    through the table, so downstream image operators see one shape.

    Walks the chunk stream (multiple IDAT chunks concatenate, as the
    spec requires; ancillary chunks like tEXt/pHYs are skipped),
    verifies each chunk CRC, inflates the scanline stream, and
    un-filters every row. Raises ``ValueError`` on bad signature, CRC
    mismatch, unsupported profile (non-8-bit depths, alpha color
    types), or truncated data — per payload, so one corrupt record
    poisons one row, not the batch.
    """
    if len(payload) < len(PNG_SIG) + 12 or payload[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG payload (missing signature)")
    pos = len(PNG_SIG)
    width = height = None
    color = 2
    plte = None
    interlace = 0
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(payload):
            # the second clause covers truncation INSIDE the 4 CRC
            # bytes, where unpack_from would raise struct.error and
            # escape the permissive quarantine (review r8 pass 1)
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != zlib.crc32(ctype + body):
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            if length != 13:  # spec-fixed size; unpack would raise
                raise ValueError("IHDR chunk must be 13 bytes")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color not in (0, 2, 3) or comp != 0 or filt != 0:
                raise ValueError(
                    f"unsupported PNG variant (depth={depth} color={color}); "
                    "only 8-bit gray/truecolor/palette"
                )
            if interlace not in (0, 1):
                raise ValueError(f"unknown PNG interlace method {interlace}")
        elif ctype == b"PLTE":
            if length % 3 or length > 256 * 3:
                raise ValueError("PLTE length must be a multiple of 3, <=768")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR chunk")
    if not idat:
        raise ValueError("missing IDAT chunk")
    if color == 3 and plte is None:
        raise ValueError("palette PNG without a PLTE chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    bpp = 3 if color == 2 else 1
    if not interlace:
        stride = 1 + width * bpp
        if len(raw) < stride * height:
            raise ValueError("truncated PNG scanline data")
        lines = np.frombuffer(
            raw, dtype=np.uint8, count=stride * height
        ).reshape(height, stride)
        samples = _unfilter(lines, width, height, bpp)
    else:
        # Adam7: seven independently-filtered sub-images in pass
        # order, scattered onto the 8x8 grid; empty passes carry no
        # bytes
        samples = np.zeros((height, width, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = 1 + pw * bpp
            if off + stride * ph > len(raw):
                raise ValueError("truncated Adam7 pass data")
            lines = np.frombuffer(
                raw, dtype=np.uint8, count=stride * ph, offset=off
            ).reshape(ph, stride)
            off += stride * ph
            samples[y0::dy, x0::dx] = _unfilter(lines, pw, ph, bpp)
    if color == 2:
        return width, height, samples
    idx = samples.reshape(height, width)
    if color == 0:  # grayscale: replicate into all channels
        return width, height, np.stack([idx, idx, idx], axis=-1)
    if int(idx.max(initial=0)) >= len(plte):
        raise ValueError("palette index outside the PLTE table")
    return width, height, plte[idx.astype(np.int64)]


def decode_png_features(payload: bytes) -> dict:
    """:func:`..bmp.channel_features` of :func:`decode_png`."""
    from .bmp import channel_features

    return channel_features(*decode_png(payload))


def decode_png_phash(payload: bytes) -> dict:
    """:func:`..bmp.average_hash` of :func:`decode_png`."""
    from .bmp import average_hash

    return average_hash(*decode_png(payload))


def _unfilter(
    lines: np.ndarray, width: int, height: int, bpp: int = _BPP
) -> np.ndarray:
    """Reverse the per-row PNG filters. None/Sub/Up are vectorized
    (Sub is a uint8-wrapping prefix sum per byte lane — exactly
    ``np.add.accumulate`` on uint8); Average/Paeth follow the spec's
    sequential recurrence along x (rare in our encoder's output but
    required to decode real-world files). ``bpp`` is the filter
    distance: 3 for truecolor, 1 for gray/palette samples."""
    out = np.zeros((height, width * bpp), dtype=np.uint8)
    for y in range(height):
        f = int(lines[y, 0])
        row = lines[y, 1:]
        prior = out[y - 1] if y > 0 else np.zeros(width * bpp, dtype=np.uint8)
        if f == 0:  # None
            out[y] = row
        elif f == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp]
            r = row.reshape(width, bpp)
            out[y] = np.add.accumulate(r, axis=0, dtype=np.uint8).reshape(-1)
        elif f == 2:  # Up
            out[y] = row + prior
        elif f == 3:  # Average
            rec = out[y]
            for x in range(width * bpp):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(row[x]) + (left + int(prior[x])) // 2) & 0xFF
        elif f == 4:  # Paeth
            rec = out[y]
            for x in range(width * bpp):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                c = int(prior[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
    return out.reshape(height, width, bpp)


def synth_png_pixel(seed: int, x: int, y: int) -> tuple[int, int, int]:
    """Deterministic synthetic pixel — mirrored verbatim in the DuckDB
    oracle (distinct formulas from the BMP family, so a decoder mixup
    between codecs cannot silently pass)."""
    return (
        (seed * 5 + x * 7 + y * 3) % 256,
        (seed * 9 + x * 4 + y * 11) % 256,
        (seed * 13 + x + y * 19) % 256,
    )


def synth_png_pixels(seed: int, width: int, height: int) -> np.ndarray:
    """Vectorized :func:`synth_png_pixel` over the full image."""
    x = np.arange(width, dtype=np.int64)
    y = np.arange(height, dtype=np.int64)[:, None]
    shape = (height, width)
    r = np.broadcast_to((seed * 5 + x * 7 + y * 3) % 256, shape)
    g = np.broadcast_to((seed * 9 + x * 4 + y * 11) % 256, shape)
    b = np.broadcast_to((seed * 13 + x + y * 19) % 256, shape)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def synth_png_size(seed: int) -> tuple[int, int]:
    """Per-seed image size 5..10 × 4..8 — heights cycle ≥3 rows so
    every encoded image carries all three encoder filters, and the
    small dims leave several Adam7 passes EMPTY on interlaced seeds
    (the edge case sequential-minded decoders get wrong)."""
    return 5 + seed % 6, 4 + seed % 5


def synth_png(seed: int) -> bytes:
    """Synthesize the deterministic test image for ``seed``. Every
    3rd seed is Adam7-INTERLACED (same pixels, same oracle — the
    progressive-delivery layout must decode to identical content),
    so the registry query exercises both layouts in every batch."""
    w, h = synth_png_size(seed)
    return encode_png(
        w, h, synth_png_pixels(seed, w, h), interlace=(seed % 3 == 0)
    )


def synth_png_palette_size(seed: int) -> tuple[int, int]:
    """9..23 × 7..19 — odd sizes leave Adam7 passes partially empty
    on the interlaced seeds."""
    return 9 + (seed % 8) * 2, 7 + (seed % 7) * 2


def synth_png_palette_indices(seed: int, width: int, height: int) -> np.ndarray:
    """Index plane, mirrored in the DuckDB oracle as
    ``(seed*7 + x*3 + y*5) % 256``."""
    x = np.arange(width, dtype=np.int64)[np.newaxis, :]
    y = np.arange(height, dtype=np.int64)[:, np.newaxis]
    return ((seed * 7 + x * 3 + y * 5) % 256).astype(np.uint8)


def synth_png_palette_table() -> np.ndarray:
    """The fixed 256-entry palette: index i -> (i, (2i+9)%256,
    255-i) — a bijection on the red channel, recomputable per cell
    in SQL."""
    i = np.arange(256, dtype=np.int64)
    return np.stack([i, (2 * i + 9) % 256, 255 - i], axis=-1).astype(np.uint8)


def synth_png_palette(seed: int) -> bytes:
    """Deterministic PALETTE (color type 3) test image; every 2nd
    seed is Adam7-interlaced on top."""
    w, h = synth_png_palette_size(seed)
    return encode_png(
        w,
        h,
        synth_png_palette_indices(seed, w, h),
        interlace=(seed % 2 == 1),
        color_type=3,
        palette=synth_png_palette_table(),
    )
