"""ORC tail scan: postscript + footer via the protobuf wire reader.

The OTHER columnar format this engine reads/writes (the
`orc_roundtrip` query) — triaged the same way as parquet
(:mod:`.parquet_footer`): all planning metadata lives at the FILE
TAIL. ORC's twist is that its metadata is PROTOBUF, so this scan is
a direct reuse of :mod:`.protowire`'s wire walker on a real-world
producer's bytes. Format facts are public (Apache ORC spec,
``orc_proto.proto``):

- file tail: ...footer | postscript | u8 postscript length;
- PostScript (NEVER compressed): 1 footerLength u64, 2 compression
  enum (0 = NONE, 1 = ZLIB, 2 = SNAPPY, 3 = LZO, 4 = LZ4,
  5 = ZSTD), 5 metadataLength, 8000 magic ``"ORC"``;
- Footer: 3 stripes repeated StripeInformation, 4 types repeated
  Type (root struct + one per column), 6 numberOfRows u64;
- StripeInformation: 5 numberOfRows (per stripe — their sum must
  equal the file total, and the scan CHECKS it).

COMPRESSED footers (round 10) decode through ORC's chunk framing —
every compressed stream is a run of chunks, each led by a 3-byte
little-endian header ``(chunk_length << 1) | is_original`` where
``is_original=1`` stores the chunk raw — composed with the codec
family: zlib = RAW DEFLATE (:mod:`.inflate`, stdlib zlib), snappy
(:mod:`.snappy`), lz4 BLOCK format
(:mod:`.lz4_codec`), zstd (:mod:`.zstd_codec`).  LZO stays a
documented boundary (no decoder in the family, and no producer in
this container).  The engine's normal ORC read path
(``spark.read.orc``) is untouched; this scan pins the tail-metadata
layout against an independent producer (pyarrow), mirroring the
parquet-footer pattern.
"""

from __future__ import annotations

from .protowire import _walk

COMPRESSION_NAMES = {
    0: "none", 1: "zlib", 2: "snappy", 3: "lzo", 4: "lz4", 5: "zstd",
}


def _decompress_orc_stream(
    data: bytes, compression: int, max_output: int = 1 << 26
) -> bytes:
    """Decode one ORC compressed stream: 3-byte chunk headers
    ``(len << 1) | is_original`` then codec payload (or raw bytes
    when the original flag is set)."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 3 > n:
            raise ValueError("truncated ORC chunk header")
        h = data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)
        pos += 3
        clen = h >> 1
        chunk = data[pos : pos + clen]
        if len(chunk) < clen:
            raise ValueError("truncated ORC chunk body")
        pos += clen
        budget = max_output - len(out)
        if budget <= 0:
            raise ValueError("ORC stream exceeds output cap")
        if h & 1:  # original (stored) chunk
            if clen > budget:
                raise ValueError("ORC stream exceeds output cap")
            out += chunk
        elif compression == 1:  # zlib enum = RAW deflate, no wrapper
            from .inflate import inflate

            out += inflate(chunk, max_output=budget)
        elif compression == 2:
            from .snappy import decode_snappy

            out += decode_snappy(chunk, max_output=budget)
        elif compression == 4:
            from .lz4_codec import decode_lz4_block

            out += decode_lz4_block(chunk, max_output=budget)
        elif compression == 5:
            from .zstd_codec import decode_zstd

            out += decode_zstd(chunk, max_output=budget)
        else:
            raise ValueError(
                f"ORC compression "
                f"{COMPRESSION_NAMES.get(compression, compression)} "
                "has no decoder (documented boundary)"
            )
    return bytes(out)


def scan_orc_footer(payload: bytes) -> dict:
    """Parse the ORC postscript + footer (chunk-decompressed when
    the postscript names a codec). Returns
    ``n_rows``, ``n_stripes``, ``n_columns`` (types minus the root),
    ``compression``, ``stripe_rows_total`` consistency-checked
    against the file total, ``payload_bytes``. Raises ``ValueError``
    on malformed structure (permissive-quarantine contract)."""
    if len(payload) < 4 or payload[:3] != b"ORC":
        raise ValueError("not an ORC file (missing ORC magic)")
    ps_len = payload[-1]
    if ps_len == 0 or 1 + ps_len > len(payload):
        raise ValueError("bad ORC postscript length")
    ps = payload[len(payload) - 1 - ps_len : len(payload) - 1]
    footer_len = None
    compression = None
    magic_ok = False
    for field, wire, v in _walk(ps):
        if field == 1 and wire == 0:
            footer_len = v
        elif field == 2 and wire == 0:
            compression = v
        elif field == 8000 and wire == 2:
            magic_ok = v == b"ORC"
    if not magic_ok:
        raise ValueError("postscript missing ORC magic field")
    if footer_len is None or footer_len < 0:
        raise ValueError("postscript missing footerLength")
    if compression is None:
        compression = 0
    start = len(payload) - 1 - ps_len - footer_len
    if start < 4:
        raise ValueError("footer length past start of file")
    footer = payload[start : start + footer_len]
    if compression != 0:
        footer = _decompress_orc_stream(footer, compression)
    n_rows = None
    n_types = 0
    stripe_rows = []
    for field, wire, v in _walk(footer):
        if field == 6 and wire == 0:
            n_rows = v
        elif field == 4 and wire == 2:
            n_types += 1
        elif field == 3 and wire == 2:
            srows = 0
            for sf, sw, sv in _walk(v):
                if sf == 5 and sw == 0:
                    srows = sv
            stripe_rows.append(srows)
    if n_rows is None or n_rows < 0:
        raise ValueError("footer missing numberOfRows")
    if stripe_rows and sum(stripe_rows) != n_rows:
        raise ValueError(
            f"stripe rows {sum(stripe_rows)} != file rows {n_rows} "
            "(inconsistent footer)"
        )
    return {
        "n_rows": n_rows,
        "n_stripes": len(stripe_rows),
        "n_columns": max(n_types - 1, 0),
        "compression": COMPRESSION_NAMES.get(compression, str(compression)),
        "payload_bytes": len(payload),
    }


def synth_orc_plan(seed: int) -> dict:
    """File plan, mirrored in the DuckDB oracle: 15 + seed*5 % 250
    rows, 1 + seed%4 columns; pyarrow merges small writes into one
    stripe."""
    return {
        "n_rows": 15 + (seed * 5) % 250,
        "n_columns": 1 + seed % 4,
        "n_stripes": 1,
    }


def synth_orc(seed: int) -> bytes:
    """A REAL ORC file written by pyarrow with an uncompressed tail
    — the independent producer pinning the protobuf-wire reuse."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc

    plan = synth_orc_plan(seed)
    cols = {
        f"c{j}": [
            (seed * 7 + i * 3 + j) % 1000 for i in range(plan["n_rows"])
        ]
        for j in range(plan["n_columns"])
    }
    buf = io.BytesIO()
    orc.write_table(pa.table(cols), buf, compression="uncompressed")
    return buf.getvalue()


def synth_orc_compressed_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``20 + (seed*7) % 300``
    rows, ``1 + seed%3`` columns, compression rotating
    zlib/snappy/lz4/zstd by ``seed % 4``."""
    return {
        "n_rows": 20 + (seed * 7) % 300,
        "n_columns": 1 + seed % 3,
        "n_stripes": 1,
        "compression": ("zlib", "snappy", "lz4", "zstd")[seed % 4],
    }


def synth_orc_compressed(seed: int) -> bytes:
    """A REAL ORC file with a COMPRESSED tail from the pyarrow
    writer, rotating through all four codecs this repo hand-rolls
    — the round-8 boundary closed with decoders that already
    existed."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc

    plan = synth_orc_compressed_plan(seed)
    cols = {
        f"c{j}": [
            (seed * 7 + i * 3 + j) % 1000 for i in range(plan["n_rows"])
        ]
        for j in range(plan["n_columns"])
    }
    buf = io.BytesIO()
    orc.write_table(
        pa.table(cols), buf, compression=plan["compression"]
    )
    return buf.getvalue()
