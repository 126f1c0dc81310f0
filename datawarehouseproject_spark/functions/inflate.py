"""Raw DEFLATE (RFC 1951) decode through the stdlib ``zlib``.

The ORC, PDF and NPZ readers and the ``deflate_stream_decode`` query
all feed raw DEFLATE bodies (the gzip/zlib/ZIP wrappers stripped)
through :func:`inflate`. Decoding runs in zlib's C inflater; this
module adds the repo's contract around it: a ``max_output`` bound that
raises before the output is allocated, and a truncated stream (no
final block) is an error rather than a partial result.

Error contract: only ``ValueError`` escapes (quarantine contract,
fuzz-pinned like every other parser).
"""

from __future__ import annotations

import zlib


def inflate(data: bytes, max_output: int = 1 << 26) -> bytes:
    """Decode one raw DEFLATE stream (what ``zlib.compressobj(...,
    wbits=-15)`` emits). Bytes after the final block are ignored.
    ``max_output`` bounds decompression-bomb blowup."""
    d = zlib.decompressobj(-15)
    try:
        out = d.decompress(data, max_output + 1)
    except zlib.error as exc:
        raise ValueError(f"deflate stream: {exc}") from None
    if len(out) > max_output:
        raise ValueError(f"inflated output exceeds {max_output} bytes")
    if not d.eof:
        raise ValueError("deflate stream truncated")
    return out


def synth_deflate_plan(seed: int) -> dict:
    """Deterministic stream plan, mirrored in the DuckDB oracle:
    ``40 + (seed*17) % 300`` structured bytes ``(seed*5 + j) % 251``
    (compressible: small alphabet spread), plus — when seed%3==0 — a
    64-byte high-entropy tail ``(j*j*31 + seed) % 256`` that pushes
    high levels toward stored/raw coding. Compression level is
    ``seed % 10`` (level 0 = stored blocks; 1-9 = huffman), and
    seed%4==1 forces the Z_FIXED strategy so fixed-huffman blocks
    appear at every scale."""
    n = 40 + (seed * 17) % 300
    content = bytes((seed * 5 + j) % 251 for j in range(n))
    if seed % 3 == 0:
        content += bytes((j * j * 31 + seed) % 256 for j in range(64))
    return {"content": content, "level": seed % 10, "fixed": seed % 4 == 1}


def synth_deflate(seed: int) -> bytes:
    """Raw DEFLATE stream written by the stdlib zlib compressor."""
    plan = synth_deflate_plan(seed)
    strategy = zlib.Z_FIXED if plan["fixed"] else zlib.Z_DEFAULT_STRATEGY
    co = zlib.compressobj(plan["level"], zlib.DEFLATED, -15, 9, strategy)
    return co.compress(plan["content"]) + co.flush()


def decode_deflate(payload: bytes) -> dict:
    """Inflate + content features (the query surface)."""
    content = inflate(payload)
    return {
        "n_bytes": len(content),
        "sum_bytes": sum(content),
        "first_byte": content[0] if content else None,
        "last_byte": content[-1] if content else None,
        "content": content,
    }
