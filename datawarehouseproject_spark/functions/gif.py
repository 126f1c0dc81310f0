"""GIF87a codec (pure stdlib) for the multimodal image path.

The SECOND compressed format next to :mod:`.png`, with a DIFFERENT
compression algorithm: GIF is variable-width LZW over palette
indices inside a block-structured container, vs PNG's DEFLATE over
filtered RGB scanlines. Together they cover the two classic lossless
families (dictionary coding and entropy-coded sliding window) with
zero codec libraries.

Supported subset: GIF87a, one image, 256-entry global color table,
8-bit pixels, no interlace. The LZW implementation is the real
thing — variable code width (9→12 bits), dictionary growth, CLEAR /
EOI codes, the KwKwK corner case — and round-trips files from
standard tools that fit the subset.

Layout (little-endian where multi-byte):

- header ``GIF87a``; logical screen descriptor: u16 width, u16
  height, packed flags (global table, 8 bits/pixel), background, 0;
- global color table: 256 × (r, g, b);
- image descriptor ``,`` x=0 y=0 w h flags=0;
- LZW min code size byte (8), then sub-blocks: u8 length + payload,
  terminated by a 0-length block;
- trailer ``;``.

Pixel arrays are ``(height, width, 3)`` uint8 RGB top-down, shared
with the BMP/PNG codecs. The palette maps index ``i`` to
``(i, (2*i + 9) % 256, 255 - i)`` — a bijection on the red channel,
so any ``(h, w, 3)`` image whose pixels come from the palette
encodes losslessly via the inverse map.
"""

from __future__ import annotations

import struct

import numpy as np

_HEADER = b"GIF87a"
_MIN_CODE_SIZE = 8
_CLEAR = 1 << _MIN_CODE_SIZE          # 256
_EOI = _CLEAR + 1                     # 257
_FIRST_FREE = _EOI + 1                # 258
_MAX_CODE_WIDTH = 12


def palette() -> np.ndarray:
    """The fixed 256-entry RGB palette: ``i -> (i, (2i+9)%256, 255-i)``."""
    i = np.arange(256, dtype=np.int64)
    return np.stack([i, (2 * i + 9) % 256, 255 - i], axis=-1).astype(np.uint8)


def _lzw_compress(indices: bytes) -> bytes:
    """Variable-width LZW (GIF flavor): emits CLEAR first, grows the
    code width at dict sizes 2^n, re-CLEARs at 4096 codes."""
    out = bytearray()
    bitbuf = bitcnt = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf |= code << bitcnt
        bitcnt += width
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(_CLEAR)}
    next_code = _FIRST_FREE
    width = _MIN_CODE_SIZE + 1
    emit(_CLEAR, width)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < _MAX_CODE_WIDTH:
            width += 1
        elif next_code > (1 << _MAX_CODE_WIDTH) - 1:
            emit(_CLEAR, width)
            table = {bytes([i]): i for i in range(_CLEAR)}
            next_code = _FIRST_FREE
            width = _MIN_CODE_SIZE + 1
        w = bytes([b])
    if w:
        emit(table[w], width)
    # the decoder assigns one more dict entry on the final data code
    # (bringing its table to next_code); if that lands exactly on a
    # power-of-two boundary the decoder widens before reading EOI —
    # mirror it so EOI is emitted at the width the decoder expects
    if next_code == (1 << width) and width < _MAX_CODE_WIDTH:
        width += 1
    emit(_EOI, width)
    if bitcnt:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, n_expected: int) -> bytes:
    """Inverse of :func:`_lzw_compress`, handling CLEAR/EOI, width
    growth, and the KwKwK (code == next_code) case."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(_CLEAR)] + [b"", b""]
    width = _MIN_CODE_SIZE + 1
    bitbuf = bitcnt = pos = 0
    prev: bytes | None = None
    while True:
        while bitcnt < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream (no EOI)")
            bitbuf |= data[pos] << bitcnt
            pos += 1
            bitcnt += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitcnt -= width
        if code == _CLEAR:
            table = [bytes([i]) for i in range(_CLEAR)] + [b"", b""]
            width = _MIN_CODE_SIZE + 1
            prev = None
            continue
        if code == _EOI:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"corrupt LZW stream (code {code})")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            # decoder grows width one code EARLIER than the encoder
            # allocates (the classic GIF off-by-one): when the next
            # code to assign would need more bits, widen now
            if len(table) == (1 << width) and width < _MAX_CODE_WIDTH:
                width += 1
        prev = entry
        if len(out) > n_expected:
            raise ValueError("LZW stream longer than image")
    return bytes(out)


def encode_gif(width: int, height: int, pixels) -> bytes:
    """Encode top-down RGB rows (palette-representable) as GIF87a.

    Every pixel must be a palette color (red channel IS the index);
    non-palette pixels raise rather than quantize.
    """
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.shape != (height, width, 3):
        raise ValueError("pixels must be a (height, width, 3) RGB array")
    idx = arr[:, :, 0].astype(np.int64)  # red channel is the index
    if not np.array_equal(palette()[idx], arr):
        raise ValueError("pixel not representable in the fixed palette")
    indices = idx.astype(np.uint8).tobytes()
    lzw = _lzw_compress(indices)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    screen = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)  # global table, 8bpp
    image = struct.pack("<sHHHHB", b",", 0, 0, width, height, 0)
    return (
        _HEADER
        + screen
        + palette().tobytes()
        + image
        + bytes([_MIN_CODE_SIZE])
        + bytes(blocks)
        + b";"
    )


def decode_gif(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a GIF87a/89a (subset) to (width, height, RGB array).

    Walks the block structure (skipping 89a extension blocks), reads
    the color table actually present in the file, inflates the LZW
    stream, and maps indices through the palette — one vectorized
    gather. Raises ``ValueError`` on bad magic, interlace, local
    color tables, or a corrupt LZW stream.
    """
    if len(payload) < 13 or payload[:3] != b"GIF":
        raise ValueError("not a GIF payload (missing magic)")
    width, height, flags, _, _ = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not flags & 0x80:
        raise ValueError("missing global color table")
    table_size = 2 << (flags & 0x07)
    pal = np.frombuffer(
        payload, dtype=np.uint8, count=table_size * 3, offset=pos
    ).reshape(table_size, 3)
    pos += table_size * 3
    while pos < len(payload):
        marker = payload[pos]
        if marker == 0x21:  # 89a extension: label + sub-blocks
            pos += 2
            while True:
                # bounds-guarded: a mutated sub-block length running
                # past the end raised IndexError and escaped the
                # permissive quarantine (round-8 fuzz test)
                if pos >= len(payload):
                    raise ValueError("truncated GIF extension blocks")
                if payload[pos] == 0:
                    pos += 1
                    break
                pos += 1 + payload[pos]
        elif marker == 0x2C:  # image descriptor
            if pos + 11 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            _, _, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            if iflags & 0x40:
                raise ValueError("interlaced GIF not supported")
            if iflags & 0x80:
                raise ValueError("local color table not supported")
            min_code = payload[pos]
            if min_code != _MIN_CODE_SIZE:
                raise ValueError(f"unsupported LZW min code size {min_code}")
            pos += 1
            lzw = bytearray()
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF image sub-blocks")
                n = payload[pos]
                if n == 0:
                    pos += 1
                    break
                lzw += payload[pos + 1 : pos + 1 + n]
                pos += 1 + n
            indices = _lzw_decompress(bytes(lzw), iw * ih)
            if len(indices) != iw * ih:
                raise ValueError(
                    f"LZW produced {len(indices)} pixels, expected {iw * ih}"
                )
            idx = np.frombuffer(indices, dtype=np.uint8).reshape(ih, iw)
            return iw, ih, pal[idx.astype(np.int64)]
        elif marker == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unexpected GIF block marker 0x{marker:02x}")
    raise ValueError("missing image data")


def decode_gif_features(payload: bytes) -> dict:
    """:func:`..bmp.channel_features` of :func:`decode_gif`."""
    from .bmp import channel_features

    return channel_features(*decode_gif(payload))


def decode_gif_phash(payload: bytes) -> dict:
    """:func:`..bmp.average_hash` of :func:`decode_gif`."""
    from .bmp import average_hash

    return average_hash(*decode_gif(payload))


def synth_gif_index(seed: int, x: int, y: int) -> int:
    """Deterministic palette index — mirrored in the DuckDB oracle."""
    return (seed * 3 + x * 11 + y * 7) % 256


def synth_gif_size(seed: int) -> tuple[int, int]:
    """Per-seed image size 6..11 × 4..9."""
    return 6 + seed % 6, 4 + seed % 6


def synth_gif(seed: int) -> bytes:
    """Synthesize the deterministic test image for ``seed``: palette
    indices from :func:`synth_gif_index`, colors via :func:`palette`."""
    w, h = synth_gif_size(seed)
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)[:, None]
    idx = (seed * 3 + x * 11 + y * 7) % 256
    return encode_gif(w, h, palette()[np.broadcast_to(idx, (h, w))])


# ---------------------------------------------------------------------------
# GIF89a animation triage (round 8). Real-world GIFs are mostly
# animations: a NETSCAPE2.0 looping extension, then per frame a
# Graphic Control Extension (delay in centiseconds, disposal method)
# and an image descriptor whose rectangle is usually a DIRTY
# SUB-RECT of the canvas, not the full frame. Triage answers "how
# many frames, how long, does it loop, is the container intact?"
# WITHOUT LZW-decoding any frame — the sub-block walk skips pixel
# data by length prefix, so cost is per-frame-header, not per-pixel.
# ---------------------------------------------------------------------------


def synth_gif_anim_plan(seed: int) -> dict:
    """Animation plan, mirrored in the DuckDB oracle."""
    n = 2 + seed % 5
    return {
        "width": 10 + seed % 6,
        "height": 8 + seed % 5,
        "n_frames": n,
        "delays": [4 + (seed + i) % 12 for i in range(n)],
        "loop_count": seed % 4,  # 0 = loop forever
    }


def synth_gif_anim(seed: int) -> bytes:
    """A real GIF89a animation: NETSCAPE loop extension + per-frame
    GCE + dirty-rect image descriptors, frames LZW-compressed with
    the module's own encoder."""
    p = synth_gif_anim_plan(seed)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", p["width"], p["height"], 0xF7, 0, 0)
    out += palette().tobytes()
    # NETSCAPE2.0 application extension: sub-block 01 + u16le loop
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
    out += struct.pack("<H", p["loop_count"]) + b"\x00"
    for i, delay in enumerate(p["delays"]):
        disposal = 1 + (seed + i) % 3
        packed = disposal << 2
        out += b"\x21\xf9\x04" + bytes([packed])
        out += struct.pack("<H", delay) + b"\x00\x00"
        # dirty-rect frame
        x, y = i % 3, i % 2
        fw = 3 + (seed + i) % 5
        fh = 2 + (seed * 3 + i) % 4
        idx = bytes(
            (seed + i + 7 * j) % 256 for j in range(fw * fh)
        )
        lzw = _lzw_compress(idx)
        out += struct.pack("<sHHHHB", b",", x, y, fw, fh, 0)
        out += bytes([_MIN_CODE_SIZE])
        for k in range(0, len(lzw), 255):
            chunk = lzw[k : k + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b";"
    return bytes(out)


def scan_gif_anim(payload: bytes) -> dict:
    """Animation triage: block walk with NO pixel decode. Returns
    ``width``, ``height``, ``n_frames``, ``total_delay_cs`` (sum of
    GCE delays), ``loop_count`` (None when no NETSCAPE extension —
    a plain one-shot GIF), ``n_extensions``, ``payload_bytes``.
    Raises ``ValueError`` on malformed structure."""
    if len(payload) < 13 or payload[:3] != b"GIF" or payload[3:6] not in (
        b"87a",
        b"89a",
    ):
        raise ValueError("not a GIF payload (bad magic/version)")
    width, height, flags, _, _ = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if flags & 0x80:
        pos += (2 << (flags & 0x07)) * 3
    n_frames = 0
    total_delay = 0
    loop_count = None
    n_ext = 0
    saw_trailer = False
    while pos < len(payload):
        marker = payload[pos]
        if marker == 0x3B:  # trailer
            saw_trailer = True
            break
        if marker == 0x21:  # extension
            if pos + 2 > len(payload):
                raise ValueError("truncated extension header")
            label = payload[pos + 1]
            n_ext += 1
            bp = pos + 2
            first = True
            while True:
                if bp >= len(payload):
                    raise ValueError("truncated extension sub-blocks")
                ln = payload[bp]
                if ln == 0:
                    bp += 1
                    break
                body = payload[bp + 1 : bp + 1 + ln]
                if len(body) != ln:
                    raise ValueError("truncated extension sub-block")
                if label == 0xF9 and first:
                    if ln != 4:
                        raise ValueError("GCE block must be 4 bytes")
                    (delay,) = struct.unpack_from("<H", body, 1)
                    total_delay += delay
                elif label == 0xFF and first:
                    if body[:11] == b"NETSCAPE2.0":
                        # loop sub-block follows as its own sub-block
                        nb = bp + 1 + ln
                        if (
                            nb + 4 <= len(payload)
                            and payload[nb] == 3
                            and payload[nb + 1] == 1
                        ):
                            (loop_count,) = struct.unpack_from(
                                "<H", payload, nb + 2
                            )
                first = False
                bp += 1 + ln
            pos = bp
        elif marker == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated image descriptor")
            x, y, iw, ih, iflags = struct.unpack_from(
                "<HHHHB", payload, pos + 1
            )
            if x + iw > width or y + ih > height:
                raise ValueError("frame rect outside the logical screen")
            pos += 10
            if iflags & 0x80:  # local color table
                pos += (2 << (iflags & 0x07)) * 3
            pos += 1  # LZW min code size
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated frame data")
                ln = payload[pos]
                pos += 1 + ln
                if ln == 0:
                    break
            n_frames += 1
        else:
            raise ValueError(f"unknown GIF block marker 0x{marker:02x}")
    if not saw_trailer:
        raise ValueError("missing GIF trailer")
    if n_frames == 0:
        raise ValueError("no frames in GIF")
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "total_delay_cs": total_delay,
        "loop_count": loop_count,
        "n_extensions": n_ext,
        "payload_bytes": len(payload),
    }
