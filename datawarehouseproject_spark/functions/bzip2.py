"""bzip2 decode through the stdlib ``bz2`` (libbz2).

Web archives (Wikipedia dumps, Common Crawl-era corpora, mail
archives) still ship .bz2 everywhere. Decoding, including the block
and stream CRCs, runs in libbz2; this module adds the repo's contract
around it:

- exactly ONE stream is decoded: bytes after the first stream footer
  are ignored, as ``bz2.BZ2Decompressor`` does (``bz2.decompress``
  would concatenate streams);
- ``max_output`` bounds decompression bombs and raises before the
  output is allocated;
- a truncated stream is an error, never a partial result;
- only ``ValueError`` escapes (permissive-quarantine contract).

The synthesizer is the stdlib compressor as well, so every block size
and run shape the queries decode comes from real libbz2 bytes.
"""

from __future__ import annotations

import bz2

import numpy as np


def decode_bz2(payload: bytes, max_output: int = 1 << 28) -> bytes:
    """Decompress the first .bz2 stream of ``payload``."""
    d = bz2.BZ2Decompressor()
    try:
        out = d.decompress(payload, max_output + 1)
    except (OSError, EOFError) as exc:
        raise ValueError(f"bzip2 stream: {exc}") from None
    if len(out) > max_output:
        raise ValueError(f"bzip2 output exceeds cap of {max_output} bytes")
    if not d.eof:
        raise ValueError("truncated bzip2 stream")
    return out


def scan_bz2(payload: bytes) -> dict:
    """Aggregates for the ``bz2_corpus_decode`` query: full decode,
    byte sum and length of the recovered plaintext, compression
    ratio in integer permille."""
    data = decode_bz2(payload)
    if not data:
        raise ValueError("empty bzip2 payload")
    arr = np.frombuffer(data, dtype=np.uint8)
    return {
        "n_bytes": len(data),
        "byte_sum": int(arr.astype(np.int64).sum()),
        "n_distinct": int(len(np.unique(arr))),
        "compressed_bytes": len(payload),
    }


def synth_bz2_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: n = 2000 + (seed*37) % 3000
    bytes, value[i] = ((i // 6) * 13 + seed) % 250 — six-byte runs so
    RLE1 count bytes occur in every payload."""
    return {"n_bytes": 2000 + (seed * 37) % 3000}


def synth_bz2(seed: int) -> bytes:
    """A REAL .bz2 stream from the stdlib compressor. compresslevel
    rotates 1..9 by seed so every block-size header occurs; the data's
    6-byte runs exercise RLE1 and its modular byte ladder keeps 200+
    symbols in the Huffman alphabet."""
    n = synth_bz2_plan(seed)["n_bytes"]
    data = bytes(((i // 6) * 13 + seed) % 250 for i in range(n))
    return bz2.compress(data, compresslevel=1 + seed % 9)
