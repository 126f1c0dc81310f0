"""LZMA / LZMA2 / .xz decode through the stdlib ``lzma`` (liblzma).

The container TRIAGE (``xz_scan.py``) walks .xz skeletons by hand;
full decode runs in liblzma, which also verifies every header CRC and
the per-block CRC32 / CRC64 / SHA-256 check. This module adds the
repo's contract around it:

- :func:`decode_xz` decodes every concatenated stream, skips the
  4-byte-aligned null padding between streams, and rejects any other
  trailing bytes (``lzma.decompress`` stops at the first stream after
  padding and ignores trailing junk, so it is not used);
- each ``max_output`` bound raises before the output is allocated;
- a truncated stream is an error, never a partial result;
- only ``ValueError`` escapes (quarantine contract).

Parity note: the reference (trongnghia2406/DataWarehouseProject) has
no codec layer at all (MySQL ETL, ``etl/load_*.py``); this extends
the beyond-reference archive family (gzip/bzip2/xz) that a 100 TB
crawl corpus actually ships in.
"""

from __future__ import annotations

import lzma

# Raw LZMA2 carries no dictionary size; liblzma's largest preset
# dictionary is 64 MiB, so this covers every preset's streams.
_RAW_LZMA2 = [{"id": lzma.FILTER_LZMA2, "dict_size": 1 << 26}]
# Header-declared dictionaries larger than any preset needs are
# rejected instead of allocated.
_MEMLIMIT = 1 << 27


def _decompress(dec: lzma.LZMADecompressor, data: bytes, max_output: int,
                what: str) -> bytes:
    try:
        out = dec.decompress(data, max_output + 1)
    except (lzma.LZMAError, EOFError) as exc:
        raise ValueError(f"{what}: {exc}") from None
    if len(out) > max_output:
        raise ValueError(f"{what} output exceeds cap of {max_output} bytes")
    if not dec.eof:
        raise ValueError(f"truncated {what} input")
    return out


def decode_lzma2(
    data: bytes,
    pos: int = 0,
    end: int | None = None,
    max_output: int = 1 << 28,
) -> bytes:
    """Decode an LZMA2 chunk sequence ``data[pos:end]`` (the .xz
    LZMA2 filter payload, ending with the 0x00 terminator)."""
    dec = lzma.LZMADecompressor(lzma.FORMAT_RAW, filters=_RAW_LZMA2)
    return _decompress(dec, data[pos:end], max_output, "LZMA2")


def decode_lzma_alone(payload: bytes, max_output: int = 1 << 28) -> bytes:
    """Decode the 13-byte-header legacy ``.lzma`` format (stdlib
    ``lzma.FORMAT_ALONE``), known or unknown (end-marker) size."""
    dec = lzma.LZMADecompressor(lzma.FORMAT_ALONE, memlimit=_MEMLIMIT)
    return _decompress(dec, payload, max_output, "lzma-alone")


def decode_xz(payload: bytes, max_output: int = 1 << 28) -> bytes:
    """Decode a complete .xz file: all streams, all blocks, every
    integrity check verified."""
    out = bytearray()
    rest = payload
    while True:
        dec = lzma.LZMADecompressor(lzma.FORMAT_XZ, memlimit=_MEMLIMIT)
        out += _decompress(dec, rest, max_output - len(out), "xz")
        rest = dec.unused_data
        while rest[:4] == b"\0\0\0\0":
            rest = rest[4:]
        if not rest:
            return bytes(out)


def synth_xz_text_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``60 + (seed*17) % 200``
    lines; line i is ``'line {i} of doc {seed} value {(seed*31+i*7)%9973}'``.
    Check type rotates none/CRC32/CRC64/SHA-256 by seed % 4; odd
    seeds ship as TWO concatenated .xz streams split at line
    ``n_lines // 2``."""
    n_lines = 60 + (seed * 17) % 200
    return {
        "n_lines": n_lines,
        "check_type": (0, 1, 4, 10)[seed % 4],
        "split": n_lines // 2 if seed % 2 else None,
    }


def _plan_text(seed: int, lo: int, hi: int) -> bytes:
    return "".join(
        f"line {i} of doc {seed} value {(seed * 31 + i * 7) % 9973}\n"
        for i in range(lo, hi)
    ).encode("ascii")


def synth_xz_text(seed: int) -> bytes:
    """REAL .xz bytes from the stdlib producer over the deterministic
    text plan (the `xz_full_decode` corpus)."""
    plan = synth_xz_text_plan(seed)
    n, split = plan["n_lines"], plan["split"]
    parts = [(0, n)] if split is None else [(0, split), (split, n)]
    out = b""
    for lo, hi in parts:
        out += lzma.compress(
            _plan_text(seed, lo, hi),
            format=lzma.FORMAT_XZ,
            check=plan["check_type"],
        )
    return out
