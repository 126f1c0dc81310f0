"""ORC stripe DATA decode: past the footer and into the column
streams — the ORC sibling of :mod:`.parquet_pages`.

``orc_footer.py`` stops at the tail metadata; this module walks the
stripes and decodes actual VALUES from an uncompressed ORC file
written by the independent pyarrow producer:

- stripe footer (protobuf, via :mod:`.protowire`): Stream list
  (kind/column/length — physical order) + per-column encodings;
- integer columns (SHORT/INT/LONG, DIRECT_V2 encoding): the full
  **RLEv2** codec — SHORT_REPEAT, DIRECT, PATCHED_BASE, and DELTA
  sub-encodings, 5-bit width table, MSB-first bit unpacking,
  zigzag for signed streams, sign-magnitude bases and
  gap-continuation patches for PATCHED_BASE (all layouts are public:
  Apache ORC spec "Run Length Encoding version 2", with its
  published worked examples pinned in ``tests/test_orc_pages.py``);
- string columns (DIRECT_V2): LENGTH stream (unsigned RLEv2) +
  concatenated utf-8 DATA bytes.

Decoded row counts are cross-checked against both the stripe and
file row counts, so a value can't silently go missing.

Documented boundaries for the BASE scan (ValueError -> quarantine):
compressed stripes, PRESENT streams (nullable columns), dictionary
encodings, and non-int/string types. Round 11 closes the first
three in :func:`scan_orc_rich`: ZLIB/SNAPPY chunk-framed streams
(decompressed by :mod:`.inflate` and the hand snappy codec), PRESENT
boolean
streams (Byte RLE over bit-packed booleans), and DICTIONARY_V2
strings — all producer-pinned by pyarrow. Non-int/string types
remain out of scope (the engine's real ORC path is
``spark.read.orc``). Error contract: only ValueError escapes.
"""

from __future__ import annotations

from .protowire import _walk

# type kinds (orc_proto.proto) we decode values for
_INT_KINDS = {2: "short", 3: "int", 4: "long"}
_STRING_KIND = 7
_STRUCT_KIND = 12

_K_PRESENT, _K_DATA, _K_LENGTH, _K_DICT = 0, 1, 2, 3
_INDEX_KINDS = {6, 7, 8}  # ROW_INDEX / BLOOM_FILTER live before data


def _decode_width(w: int, delta: bool = False) -> int:
    """The 5-bit width encoding (ORC spec): 0-23 -> 1-24 bits, then
    26/28/30/32/40/48/56/64. In DELTA headers, 0 means 0 bits."""
    if delta and w == 0:
        return 0
    if w <= 23:
        return w + 1
    return (26, 28, 30, 32, 40, 48, 56, 64)[w - 24]


def _varint(data: bytes, pos: int) -> tuple[int, int]:
    """Unsigned LEB128 (same wire varint as protobuf)."""
    out = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("ORC varint truncated")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 70:
            raise ValueError("ORC varint too long")


def _unpack_bits(data: bytes, pos: int, n: int, width: int) -> tuple[list[int], int]:
    """``n`` unsigned values bit-packed MSB-first at ``width`` bits,
    starting at byte ``pos``; returns (values, next byte pos)."""
    total_bits = n * width
    nbytes = (total_bits + 7) // 8
    if pos + nbytes > len(data):
        raise ValueError("ORC bit-packed run truncated")
    acc = int.from_bytes(data[pos : pos + nbytes], "big")
    acc >>= nbytes * 8 - total_bits  # drop the pad bits at the tail
    mask = (1 << width) - 1
    out = [0] * n
    for i in range(n - 1, -1, -1):
        out[i] = acc & mask
        acc >>= width
    return out, pos + nbytes


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


_MAX_RLE_VALUES = 1 << 22  # ~4M values; width-0 DELTA runs amplify
# 512 values per ~4 input bytes, so an attacker-declared row count
# must be fenced BEFORE decode or a small payload materializes
# gigabytes and dies as MemoryError (not quarantinable) — review r11
# pass 2, the zstd output-cap lesson one module over


def rle_v2_decode(data: bytes, n_expected: int, signed: bool) -> list[int]:
    """Decode an entire RLEv2 stream into exactly ``n_expected``
    values (more or fewer is a malformation, raised loudly)."""
    if n_expected > _MAX_RLE_VALUES:
        raise ValueError(
            f"RLEv2 declared {n_expected} values past the decode cap"
        )
    out: list[int] = []
    pos = 0
    while len(out) < n_expected:
        if pos >= len(data):
            raise ValueError(
                f"RLEv2 stream exhausted at {len(out)}/{n_expected} values"
            )
        hdr = data[pos]
        kind = hdr >> 6
        if kind == 0:  # SHORT_REPEAT
            width = ((hdr >> 3) & 0x7) + 1
            repeat = (hdr & 0x7) + 3
            if pos + 1 + width > len(data):
                raise ValueError("short-repeat value truncated")
            v = int.from_bytes(data[pos + 1 : pos + 1 + width], "big")
            if signed:
                v = _unzigzag(v)
            out.extend([v] * repeat)
            pos += 1 + width
        elif kind == 1:  # DIRECT
            if pos + 2 > len(data):
                raise ValueError("direct header truncated")
            width = _decode_width((hdr >> 1) & 0x1F)
            n = ((hdr & 1) << 8 | data[pos + 1]) + 1
            vals, pos = _unpack_bits(data, pos + 2, n, width)
            out.extend(_unzigzag(v) for v in vals) if signed else out.extend(vals)
        elif kind == 2:  # PATCHED_BASE
            if pos + 4 > len(data):
                raise ValueError("patched-base header truncated")
            width = _decode_width((hdr >> 1) & 0x1F)
            n = ((hdr & 1) << 8 | data[pos + 1]) + 1
            bw = ((data[pos + 2] >> 5) & 0x7) + 1
            pw = _decode_width(data[pos + 2] & 0x1F)
            pgw = ((data[pos + 3] >> 5) & 0x7) + 1
            pll = data[pos + 3] & 0x1F
            pos += 4
            if pos + bw > len(data):
                raise ValueError("patched-base base value truncated")
            base = int.from_bytes(data[pos : pos + bw], "big")
            sign_bit = 1 << (bw * 8 - 1)
            if base & sign_bit:  # sign-MAGNITUDE, not two's complement
                base = -(base & (sign_bit - 1))
            pos += bw
            vals, pos = _unpack_bits(data, pos, n, width)
            # patch entries: (gap, patch) pairs packed together at
            # closestFixedBits(pgw + pw); zero patches continue gaps
            patch_bits = _closest_width(pgw + pw)
            patches, pos = _unpack_bits(data, pos, pll, patch_bits)
            idx = 0
            mask = (1 << pw) - 1
            for entry in patches:
                gap = entry >> pw
                patch = entry & mask
                idx += gap
                if patch == 0:
                    idx += 255  # gap continuation marker
                    continue
                if idx >= n:
                    raise ValueError("patch index past run length")
                vals[idx] |= patch << width
            out.extend(base + v for v in vals)
        else:  # DELTA
            if pos + 2 > len(data):
                raise ValueError("delta header truncated")
            width = _decode_width((hdr >> 1) & 0x1F, delta=True)
            n = ((hdr & 1) << 8 | data[pos + 1]) + 1
            pos += 2
            raw, pos = _varint(data, pos)
            base = _unzigzag(raw) if signed else raw
            raw, pos = _varint(data, pos)
            delta_base = _unzigzag(raw)
            run = [base]
            if n >= 2:
                run.append(base + delta_base)
                if n > 2:
                    if width:
                        deltas, pos = _unpack_bits(data, pos, n - 2, width)
                    else:
                        deltas = [abs(delta_base)] * (n - 2)
                    step = 1 if delta_base >= 0 else -1
                    cur = run[-1]
                    for d in deltas:
                        cur += step * d
                        run.append(cur)
            out.extend(run)
    if len(out) != n_expected:
        raise ValueError(
            f"RLEv2 produced {len(out)} values, stripe declares {n_expected}"
        )
    if pos != len(data):
        # review r11: the fence must be two-sided — a DATA stream
        # carrying MORE runs than the declared count is metadata
        # drift too, not bytes to ignore silently
        raise ValueError(
            f"RLEv2 stream has {len(data) - pos} trailing bytes past "
            f"the declared {n_expected} values"
        )
    return out


def _closest_width(bits: int) -> int:
    """closestFixedBits: round a bit count UP to the nearest width
    the 5-bit table can express (1-24, 26, 28, 30, 32, 40, ... 64)."""
    if bits <= 1:
        return 1
    if bits <= 24:
        return bits
    for w in (26, 28, 30, 32, 40, 48, 56, 64):
        if bits <= w:
            return w
    raise ValueError(f"bit width {bits} beyond 64")


def _msg(buf) -> dict[int, list]:
    """protobuf message -> {field: [values...]} via the wire walker.
    A non-bytes input means a mutated parent encoded a varint where
    a length-delimited submessage belongs — malformation, not a
    crash (quarantine contract)."""
    if not isinstance(buf, (bytes, bytearray, memoryview)):
        raise ValueError("expected a length-delimited protobuf submessage")
    out: dict[int, list] = {}
    for f, _w, v in _walk(buf):
        out.setdefault(f, []).append(v)
    return out


def _nonneg(v, what: str) -> int:
    """Numeric protobuf fields must come back as non-negative ints —
    a mutated file can put bytes or a sign-reinterpreted varint
    there, and Python's negative slicing would silently misread."""
    if not isinstance(v, int) or isinstance(v, bool) or v < 0:
        raise ValueError(f"ORC {what} is not a non-negative integer")
    return v


def _parse_orc_tail(payload: bytes, allow_compressed: bool = True):
    """Shared postscript/footer/type-list walk for both scans
    (review r11 pass 3: the ~35-line block had been duplicated).
    Returns ``(codec, footer, n_rows, types)`` with the footer
    already decompressed per the postscript codec.
    ``allow_compressed=False`` rejects a non-zero codec BEFORE any
    decompression work (review r11 pass 4: the base scan's boundary
    must not pay up to 64MB of footer inflation for a file it
    rejects unconditionally one line later)."""
    if len(payload) < 4 or payload[:3] != b"ORC":
        raise ValueError("not an ORC file (missing ORC magic)")
    ps_len = payload[-1]
    if ps_len == 0 or 1 + ps_len > len(payload):
        raise ValueError("bad ORC postscript length")
    ps = _msg(payload[len(payload) - 1 - ps_len : len(payload) - 1])
    if ps.get(8000, [b""])[0] != b"ORC":
        raise ValueError("postscript missing ORC magic field")
    codec = _nonneg(ps.get(2, [0])[0], "compression codec")
    if not allow_compressed and codec != 0:
        raise ValueError(
            f"compressed ORC (codec {codec}) out of byte-scan scope"
        )
    footer_len = ps.get(1, [None])[0]
    if footer_len is None:
        raise ValueError("postscript missing footer length")
    footer_len = _nonneg(footer_len, "footer length")
    fend = len(payload) - 1 - ps_len
    if footer_len == 0 or footer_len > fend:
        raise ValueError("footer length out of bounds")
    footer = _msg(
        _orc_decompress(payload[fend - footer_len : fend], codec, "footer")
    )
    n_rows = footer.get(6, [None])[0]
    if n_rows is None:
        raise ValueError("footer missing row count")
    n_rows = _nonneg(n_rows, "row count")
    types = []
    for tb in footer.get(4, []):
        if not isinstance(tb, bytes):
            raise ValueError("ORC type entry not length-delimited")
        types.append(_msg(tb).get(1, [0])[0])
    if not types or types[0] != _STRUCT_KIND:
        raise ValueError("ORC root type is not a struct")
    return codec, footer, n_rows, types


def scan_orc_values(payload: bytes) -> dict:
    """Decode every int/string column value in an uncompressed ORC
    file; returns aggregate features plus consistency-checked row
    counts (see module docstring for the supported profile)."""
    compression, footer, n_rows, types = _parse_orc_tail(
        payload, allow_compressed=False
    )
    int_sum = int_count = 0
    str_bytes = str_count = 0
    rows_seen = 0
    for sb in footer.get(3, []):
        s = _msg(sb)
        offset = s.get(1, [None])[0]
        index_len = s.get(2, [0])[0]
        data_len = s.get(3, [0])[0]
        sf_len = s.get(4, [None])[0]
        stripe_rows = s.get(5, [None])[0]
        if None in (offset, sf_len, stripe_rows):
            raise ValueError("stripe information incomplete")
        offset = _nonneg(offset, "stripe offset")
        index_len = _nonneg(index_len, "stripe index length")
        data_len = _nonneg(data_len, "stripe data length")
        sf_len = _nonneg(sf_len, "stripe footer length")
        stripe_rows = _nonneg(stripe_rows, "stripe row count")
        sf_start = offset + index_len + data_len
        if sf_start + sf_len > len(payload):
            raise ValueError("stripe footer past end of file")
        sfoot = _msg(payload[sf_start : sf_start + sf_len])
        streams = []
        for st in sfoot.get(1, []):
            m = _msg(st)
            streams.append(
                (
                    _nonneg(m.get(1, [0])[0], "stream kind"),
                    m.get(2, [None])[0],
                    _nonneg(m.get(3, [0])[0], "stream length"),
                )
            )
        encodings = [_msg(e).get(1, [0])[0] for e in sfoot.get(2, [])]
        # physical layout: index-region streams first, then data
        cursor = offset
        located: dict[tuple[int, int], tuple[int, int]] = {}
        for kind, col, length in streams:
            if col is None:
                raise ValueError("stream without column id")
            if kind in _INDEX_KINDS:
                cursor += length
                continue
            located[(kind, col)] = (cursor, length)
            cursor += length
        for col in range(1, len(types)):
            tkind = types[col]
            enc = encodings[col] if col < len(encodings) else 0
            if (_K_PRESENT, col) in located:
                raise ValueError("PRESENT stream (nulls) out of scope")
            if tkind in _INT_KINDS:
                if enc != 2:
                    raise ValueError(
                        f"int column encoding {enc} out of scope (want DIRECT_V2)"
                    )
                st = located.get((_K_DATA, col))
                if st is None:
                    raise ValueError(f"int column {col} has no DATA stream")
                vals = rle_v2_decode(
                    payload[st[0] : st[0] + st[1]], stripe_rows, signed=True
                )
                int_sum += sum(vals)
                int_count += len(vals)
            elif tkind == _STRING_KIND:
                if enc != 2:
                    raise ValueError(
                        f"string column encoding {enc} out of scope (want DIRECT_V2)"
                    )
                lst = located.get((_K_LENGTH, col))
                dst = located.get((_K_DATA, col))
                if lst is None or dst is None:
                    raise ValueError(f"string column {col} missing streams")
                lengths = rle_v2_decode(
                    payload[lst[0] : lst[0] + lst[1]], stripe_rows, signed=False
                )
                if sum(lengths) != dst[1]:
                    raise ValueError(
                        "string LENGTH sum disagrees with DATA stream size"
                    )
                str_bytes += dst[1]
                str_count += len(lengths)
            else:
                raise ValueError(f"ORC type kind {tkind} out of scope")
        rows_seen += stripe_rows
    if rows_seen != n_rows:
        raise ValueError(
            f"stripe rows {rows_seen} disagree with footer total {n_rows}"
        )
    return {
        "n_rows": n_rows,
        "n_stripes": len(footer.get(3, [])),
        "int_sum": int_sum,
        "int_count": int_count,
        "str_bytes": str_bytes,
        "str_count": str_count,
    }


def synth_orc_values_plan(seed: int) -> dict:
    """Value plan, mirrored in the DuckDB oracle. One int64 column
    ``k`` and one string column ``s`` over ``n = 60 + (seed*7)%240``
    rows; ``k`` is piecewise to exercise the RLEv2 sub-encodings:
    rows 0..19 constant (SHORT_REPEAT / zero-delta), rows 20..39
    arithmetic (DELTA), the rest pseudo-random with sparse 10^7
    outliers every 59th row (PATCHED_BASE — verified: pyarrow emits
    kind-2 runs for this shape); ``s[i]`` is
    ``"w" + str((seed+i) % 13)`` (LENGTH stream runs + data bytes)."""
    n = 60 + (seed * 7) % 240
    ks = []
    for i in range(n):
        if i < 20:
            ks.append(seed % 100)
        elif i < 40:
            ks.append(seed + 3 * i)
        else:
            ks.append(
                (seed * 11 + i * 37) % 10_000
                + (10_000_000 if i % 59 == 0 else 0)
            )
    ss = [f"w{(seed + i) % 13}" for i in range(n)]
    return {"n": n, "k": ks, "s": ss}


def synth_orc_values(seed: int) -> bytes:
    """Uncompressed ORC file written by the INDEPENDENT pyarrow
    producer over the plan above."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc

    plan = synth_orc_values_plan(seed)
    table = pa.table(
        {
            "k": pa.array(plan["k"], type=pa.int64()),
            "s": pa.array(plan["s"], type=pa.string()),
        }
    )
    buf = io.BytesIO()
    orc.write_table(table, buf, compression="uncompressed")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# round 11 (VERDICT r10 item 5): compressed stripes + PRESENT
# (nullable) streams + DICTIONARY_V2 strings
# ---------------------------------------------------------------------------

_ORC_ZLIB, _ORC_SNAPPY = 1, 2
_MAX_STREAM_OUT = 1 << 26


def _orc_decompress(blob: bytes, codec: int, what: str) -> bytes:
    """ORC compressed-stream framing: a sequence of chunks, each with
    a 3-byte little-endian header ``(length << 1) | is_original``
    followed by ``length`` bytes — raw deflate for ZLIB (stdlib
    zlib via :mod:`.inflate`), raw snappy block for SNAPPY (this
    repo's hand codec, which the independent pyarrow producer pins
    again here).  codec 0 passes through."""
    if codec == 0:
        return blob
    if codec == _ORC_ZLIB:
        from .inflate import inflate as _dec
    elif codec == _ORC_SNAPPY:
        from .snappy import decode_snappy as _dec
    else:
        raise ValueError(f"ORC compression codec {codec} out of scope")
    out = bytearray()
    pos = 0
    while pos < len(blob):
        if pos + 3 > len(blob):
            raise ValueError(f"ORC {what}: truncated chunk header")
        h = int.from_bytes(blob[pos : pos + 3], "little")
        pos += 3
        ln, orig = h >> 1, h & 1
        if ln == 0 or pos + ln > len(blob):
            raise ValueError(f"ORC {what}: chunk length out of bounds")
        chunk = blob[pos : pos + ln]
        pos += ln
        if orig:
            out += chunk
        else:
            # cap INSIDE the codec call: decode_snappy's default cap
            # is 4x this module's — a hostile chunk must not
            # materialize past the intended bound before the check
            # below runs (review r11 pass 3)
            out += _dec(chunk, max_output=_MAX_STREAM_OUT - len(out) + 1)
        if len(out) > _MAX_STREAM_OUT:
            raise ValueError(f"ORC {what}: decompressed past output cap")
    return bytes(out)


def _byte_rle_decode(data: bytes, max_out: int = _MAX_STREAM_OUT) -> bytes:
    """ORC Byte RLE (v1): header < 128 = run of ``header + 3`` copies
    of the next byte; header >= 128 = ``256 - header`` literal
    bytes."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        h = data[pos]
        pos += 1
        if h < 128:
            if pos >= len(data):
                raise ValueError("ORC byte-RLE run truncated")
            out += bytes([data[pos]]) * (h + 3)
            pos += 1
        else:
            n = 256 - h
            if pos + n > len(data):
                raise ValueError("ORC byte-RLE literals truncated")
            out += data[pos : pos + n]
            pos += n
        if len(out) > max_out:
            raise ValueError("ORC byte-RLE output past cap")
    return bytes(out)


def _bool_rle_decode(data: bytes, n: int) -> list[int]:
    """ORC boolean stream: Byte RLE over bit-packed bytes, MSB
    first; trailing pad bits in the final byte are ignored.  ``n``
    is attacker-declared (stripe row count): fence it, and fence the
    byte-RLE expansion to the bytes ``n`` needs BEFORE building the
    8x bit list."""
    if n > 8 * _MAX_RLE_VALUES:
        raise ValueError(f"ORC boolean row count {n} past the decode cap")
    packed = _byte_rle_decode(data, max_out=(n + 7) // 8 + 1)
    if len(packed) * 8 < n:
        raise ValueError("ORC boolean stream shorter than row count")
    if len(packed) > (n + 7) // 8:
        raise ValueError("ORC boolean stream longer than row count")
    bits = []
    for b in packed:
        for i in range(7, -1, -1):
            bits.append((b >> i) & 1)
    return bits[:n]


def _iter_stripes(payload: bytes, codec: int, footer: dict):
    """Shared stripe walk (review pass: this pattern had grown four
    near-identical copies): yields ``(stripe_rows, stripe_footer_msg,
    [(kind, col, abs_offset, length), ...])`` per stripe with the
    framing invariants enforced ONCE — header fields present and
    non-negative, stripe footer inside the payload, every stream's
    column id present, and the stream spans fenced to the stripe's
    index+data region (a fence none of the copies had)."""
    for sb in footer.get(3, []):
        s = _msg(sb)
        if None in (s.get(1, [None])[0], s.get(4, [None])[0]):
            raise ValueError("stripe information incomplete")
        offset = _nonneg(s.get(1)[0], "stripe offset")
        index_len = _nonneg(s.get(2, [0])[0], "stripe index length")
        data_len = _nonneg(s.get(3, [0])[0], "stripe data length")
        sf_len = _nonneg(s.get(4)[0], "stripe footer length")
        # numberOfRows is optional in StripeInformation: index-only
        # consumers (bloom collection) don't need it, so it yields
        # as None and value decoders raise their own fence (review:
        # the refactor must not narrow read_orc_blooms)
        raw_rows = s.get(5, [None])[0]
        stripe_rows = (
            None if raw_rows is None
            else _nonneg(raw_rows, "stripe row count")
        )
        sf_start = offset + index_len + data_len
        if sf_start + sf_len > len(payload):
            raise ValueError("stripe footer past end of file")
        sfoot = _msg(
            _orc_decompress(
                payload[sf_start : sf_start + sf_len], codec,
                "stripe footer",
            )
        )
        streams = []
        cursor = offset
        for st in sfoot.get(1, []):
            m = _msg(st)
            kind = _nonneg(m.get(1, [0])[0], "stream kind")
            col = m.get(2, [None])[0]
            length = _nonneg(m.get(3, [0])[0], "stream length")
            if col is None:
                raise ValueError("stream without column id")
            streams.append((kind, col, cursor, length))
            cursor += length
        if cursor > sf_start:
            raise ValueError("streams run past the stripe data region")
        yield stripe_rows, sfoot, streams


def scan_orc_rich(payload: bytes) -> dict:
    """The production ORC profile the base scan loud-bounds:
    ZLIB/SNAPPY-compressed footers and streams, PRESENT (nullable)
    streams, and DICTIONARY_V2 string columns — layouts from the
    public ORC spec, producer-pinned by pyarrow
    (``compression=zlib|snappy``, ``dictionary_key_size_threshold=1``).

    Consistency fences: stripe rows vs footer total, PRESENT
    popcount vs DATA value count, declared ``dictionarySize`` vs
    decoded LENGTH entries, LENGTH sum vs DICTIONARY_DATA bytes,
    dictionary index range."""
    codec, footer, n_rows, types = _parse_orc_tail(payload)
    int_sum = int_count = int_nulls = 0
    str_bytes = str_count = str_nulls = 0
    dict_entries = 0
    rows_seen = 0
    for stripe_rows, sfoot, streams in _iter_stripes(
        payload, codec, footer
    ):
        if stripe_rows is None:
            raise ValueError("stripe row count missing")
        enc_msgs = [_msg(e) for e in sfoot.get(2, [])]
        encodings = [m.get(1, [0])[0] for m in enc_msgs]
        dict_sizes = [m.get(2, [0])[0] for m in enc_msgs]
        located: dict[tuple[int, int], tuple[int, int]] = {
            (kind, col): (pos, length)
            for kind, col, pos, length in streams
            if kind not in _INDEX_KINDS
        }

        def stream_bytes(kind: int, col: int) -> bytes | None:
            st = located.get((kind, col))
            if st is None:
                return None
            return _orc_decompress(
                payload[st[0] : st[0] + st[1]], codec, "stream"
            )

        for col in range(1, len(types)):
            tkind = types[col]
            enc = encodings[col] if col < len(encodings) else 0
            present = stream_bytes(_K_PRESENT, col)
            if present is not None:
                bits = _bool_rle_decode(present, stripe_rows)
                n_present = sum(bits)
            else:
                n_present = stripe_rows
            n_null = stripe_rows - n_present
            if tkind in _INT_KINDS:
                if enc != 2:
                    raise ValueError(
                        f"int column encoding {enc} out of scope"
                    )
                data = stream_bytes(_K_DATA, col)
                if data is None:
                    raise ValueError(f"int column {col} has no DATA stream")
                vals = rle_v2_decode(data, n_present, signed=True)
                int_sum += sum(vals)
                int_count += len(vals)
                int_nulls += n_null
            elif tkind == _STRING_KIND:
                str_nulls += n_null
                if enc == 2:  # DIRECT_V2
                    lengths = rle_v2_decode(
                        stream_bytes(_K_LENGTH, col) or b"",
                        n_present, signed=False,
                    )
                    data = stream_bytes(_K_DATA, col)
                    if data is None:
                        raise ValueError(
                            f"string column {col} missing DATA"
                        )
                    if sum(lengths) != len(data):
                        raise ValueError(
                            "string LENGTH sum disagrees with DATA size"
                        )
                    str_bytes += len(data)
                    str_count += len(lengths)
                elif enc == 3:  # DICTIONARY_V2
                    dsize = _nonneg(
                        dict_sizes[col] if col < len(dict_sizes) else 0,
                        "dictionary size",
                    )
                    lengths = rle_v2_decode(
                        stream_bytes(_K_LENGTH, col) or b"",
                        dsize, signed=False,
                    )
                    ddata = stream_bytes(_K_DICT, col)
                    if ddata is None:
                        raise ValueError(
                            f"dict column {col} missing DICTIONARY_DATA"
                        )
                    if sum(lengths) != len(ddata):
                        raise ValueError(
                            "dictionary LENGTH sum disagrees with its data"
                        )
                    idx = rle_v2_decode(
                        stream_bytes(_K_DATA, col) or b"",
                        n_present, signed=False,
                    )
                    for i in idx:
                        if not 0 <= i < dsize:
                            raise ValueError(
                                "dictionary index out of range"
                            )
                        str_bytes += lengths[i]
                    str_count += len(idx)
                    dict_entries += dsize
                else:
                    raise ValueError(
                        f"string column encoding {enc} out of scope"
                    )
            else:
                raise ValueError(f"ORC type kind {tkind} out of scope")
        rows_seen += stripe_rows
    if rows_seen != n_rows:
        raise ValueError(
            f"stripe rows {rows_seen} disagree with footer total {n_rows}"
        )
    for label, v in (("int_sum", int_sum),):
        if not (-(2**63) <= v < 2**63):
            raise ValueError(f"ORC {label} overflows int64 (boundary)")
    return {
        "n_rows": n_rows,
        "n_stripes": len(footer.get(3, [])),
        "codec": codec,
        "int_sum": int_sum,
        "int_count": int_count,
        "int_nulls": int_nulls,
        "str_bytes": str_bytes,
        "str_count": str_count,
        "str_nulls": str_nulls,
        "dict_entries": dict_entries,
    }


def synth_orc_rich_plan(seed: int) -> dict:
    """Mirrored in the DuckDB oracle: ``n = 80 + (seed*9) % 160``
    rows; int ``k[i]`` null at ``i % 7 == 0`` else
    ``(seed*11 + i*37) % 10000``; string ``s[i]`` null at
    ``i % 11 == 3`` else ``"w" + str((seed+i) % 13)``; compression
    rotates zlib/snappy by ``seed % 2``; dictionary encoding forced
    for the string column."""
    n = 80 + (seed * 9) % 160
    k = [
        None if i % 7 == 0 else (seed * 11 + i * 37) % 10000
        for i in range(n)
    ]
    s = [
        None if i % 11 == 3 else f"w{(seed + i) % 13}" for i in range(n)
    ]
    return {
        "n": n,
        "k": k,
        "s": s,
        "compression": ("zlib", "snappy")[seed % 2],
    }


def synth_orc_rich(seed: int) -> bytes:
    """Compressed, nullable, dictionary-encoded ORC written by the
    INDEPENDENT pyarrow producer."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc

    plan = synth_orc_rich_plan(seed)
    table = pa.table(
        {
            "k": pa.array(plan["k"], type=pa.int64()),
            "s": pa.array(plan["s"], type=pa.string()),
        }
    )
    buf = io.BytesIO()
    orc.write_table(
        table,
        buf,
        compression=plan["compression"],
        dictionary_key_size_threshold=1.0,
    )
    return buf.getvalue()


# ---------------------------------------------------------------------------
# round 11: BLOOM FILTER data skipping (BLOOM_FILTER_UTF8 streams) —
# producer-pinned by pyarrow's ORC writer (bloom_filter_columns)
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1


def _s64(x: int) -> int:
    x &= _M64
    return x - (1 << 64) if x >= (1 << 63) else x


def orc_long_bloom_hash(key: int) -> int:
    """ORC's integer bloom hash: the Thomas Wang 64-bit mix with
    SIGNED int64 arithmetic (C++ ``getLongHash`` operates on
    ``int64_t``, so the right shifts are arithmetic — the unsigned
    variant diverges for any value that goes negative mid-mix;
    pinned empirically against pyarrow single-value blooms for
    positive/negative/>32-bit inputs)."""
    key = _s64(key)
    key = _s64((~key) + (key << 21))
    key = _s64(key ^ (key >> 24))
    key = _s64((key + (key << 3)) + (key << 8))
    key = _s64(key ^ (key >> 14))
    key = _s64((key + (key << 2)) + (key << 4))
    key = _s64(key ^ (key >> 28))
    key = _s64(key + (key << 31))
    return key & _M64


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M64
    k ^= k >> 33
    return k


def orc_bytes_bloom_hash(data: bytes, seed: int = 104729) -> int:
    """ORC's string bloom hash: the Hive Murmur3 ``hash64`` variant
    (single h1 lane of x64_128 over 8-byte little-endian blocks,
    DEFAULT_SEED = 104729) — pinned against pyarrow blooms."""
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h = seed & _M64
    n = len(data)
    nblocks = n // 8
    for i in range(nblocks):
        k = int.from_bytes(data[i * 8 : (i + 1) * 8], "little")
        k = (k * c1) & _M64
        k = _rotl64(k, 31)
        k = (k * c2) & _M64
        h ^= k
        h = _rotl64(h, 27)
        h = (h * 5 + 0x52DCE729) & _M64
    tail = data[nblocks * 8 :]
    if tail:
        k1 = 0
        for i in range(len(tail) - 1, -1, -1):
            k1 = (k1 << 8) | tail[i]
        k1 = (k1 * c1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * c2) & _M64
        h ^= k1
    h ^= n
    return _fmix64(h)


def bloom_might_contain(bitset: bytes, k: int, hash64: int) -> bool:
    """Hive/ORC split-hash membership: hash1/hash2 are the signed
    32-bit halves; probe k positions ``|int32(hash1 + i*hash2)| %
    numBits`` (Java int wraparound is part of the format)."""
    m = len(bitset) * 8
    if m == 0 or not 0 < k <= 64:
        raise ValueError("ORC bloom filter shape malformed")

    def s32(x: int) -> int:
        x &= 0xFFFFFFFF
        return x - (1 << 32) if x >= (1 << 31) else x

    h1, h2 = s32(hash64), s32(hash64 >> 32)
    for i in range(1, k + 1):
        c = s32(h1 + i * h2)
        if c < 0:
            c = ~c
        pos = c % m
        if not (bitset[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def parse_bloom_index(blob: bytes) -> list[tuple[int, bytes]]:
    """BloomFilterIndex protobuf -> [(numHashFunctions, utf8bitset)]
    per row group; only the UTF8 (spec 1.6+) bitset form is
    supported — the legacy repeated-fixed64 form loud-rejects."""
    idx = _msg(blob)
    out = []
    for bf in idx.get(1, []):
        m = _msg(bf)
        k = _nonneg(m.get(1, [0])[0], "bloom numHashFunctions")
        if 2 in m:
            raise ValueError(
                "legacy fixed64 bloom bitset unsupported (boundary)"
            )
        bits = m.get(3, [None])[0]
        if not isinstance(bits, bytes) or not bits:
            raise ValueError("bloom utf8bitset missing")
        if len(bits) > 1 << 22:
            raise ValueError("bloom bitset past size cap")
        out.append((k, bits))
    if not out:
        raise ValueError("bloom index with no filters")
    return out


_K_BLOOM_UTF8 = 8


def read_orc_blooms(payload: bytes) -> dict[int, list[tuple[int, bytes]]]:
    """Collect every BLOOM_FILTER_UTF8 index in the file, keyed by
    column id: ``{col: [(numHashFunctions, bitset), ...]}`` with one
    list entry per row group per stripe. Schema-agnostic (unlike
    :func:`scan_orc_bloom`, which is fixture-shaped) — this is the
    membership-probe primitive a needle query would call before
    deciding whether to read a stripe at all."""
    codec, footer, _n_rows, _types = _parse_orc_tail(payload)
    blooms: dict[int, list[tuple[int, bytes]]] = {}
    for _rows, _sfoot, streams in _iter_stripes(payload, codec, footer):
        for kind, col, pos, length in streams:
            if kind == _K_BLOOM_UTF8:
                blooms.setdefault(col, []).extend(
                    parse_bloom_index(
                        _orc_decompress(
                            payload[pos : pos + length], codec,
                            "bloom index",
                        )
                    )
                )
    return blooms


def synth_orc_bloom_plan(seed: int) -> dict:
    """Mirrored in the DuckDB oracle: ``n = 60 + seed%40`` rows;
    ``k[i] = seed*1000 + i*7 - 50000`` (negatives + 7-spaced so
    ``k+1`` is provably absent), ``s[i] = "w{seed}_{i}"``; blooms on
    both columns at fpp 0.05 (k = 4 hash functions for any n at this
    fpp); compression rotates uncompressed/zlib by seed%2."""
    n = 60 + seed % 40
    return {"n": n}


def synth_orc_bloom(seed: int) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.orc as orc

    n = synth_orc_bloom_plan(seed)["n"]
    buf = io.BytesIO()
    orc.write_table(
        pa.table(
            {
                "k": pa.array(
                    [seed * 1000 + i * 7 - 50000 for i in range(n)],
                    type=pa.int64(),
                ),
                "s": pa.array([f"w{seed}_{i}" for i in range(n)]),
            }
        ),
        buf,
        compression=("uncompressed", "zlib")[seed % 2],
        bloom_filter_columns=[1, 2],
        bloom_filter_fpp=0.05,
    )
    return buf.getvalue()


def scan_orc_bloom(payload: bytes) -> dict:
    """Bloom-filter data skipping: locate the BLOOM_FILTER_UTF8
    index streams, decode the bitsets, and serve point lookups
    without touching the data streams.

    Guaranteed semantics only (oracle-exact): every PRESENT value
    must test positive (a bloom has no false negatives), and the
    false-positive rate over a deterministic absent set must stay
    within 5x the writer's fpp (returned as a bounded boolean, not a
    raw count, so the metric is stable across writer versions)."""
    codec, footer, n_rows, types = _parse_orc_tail(payload)
    if len(types) < 3 or types[1] not in _INT_KINDS \
            or types[2] != _STRING_KIND:
        raise ValueError("bloom fixture schema mismatch")
    # recover the writer plan from the data itself: decode k values
    # via the rich scan machinery is overkill — the fixture's values
    # are derivable from n_rows alone only with the seed, so instead
    # read the actual values through the DATA streams
    int_vals: list[int] = []
    str_vals: list[str] = []
    blooms: dict[int, list[tuple[int, bytes]]] = {}
    for stripe_rows, _sfoot, streams in _iter_stripes(
        payload, codec, footer
    ):
        if stripe_rows is None:
            raise ValueError("stripe row count missing")
        located = {}
        for kind, col, pos, length in streams:
            if kind == _K_BLOOM_UTF8:
                blooms.setdefault(col, []).extend(
                    parse_bloom_index(
                        _orc_decompress(
                            payload[pos : pos + length], codec,
                            "bloom index",
                        )
                    )
                )
            if kind not in _INDEX_KINDS:
                located[(kind, col)] = (pos, length)

        def stream(kind: int, col: int) -> bytes:
            st = located.get((kind, col))
            if st is None:
                raise ValueError(f"column {col} missing stream {kind}")
            return _orc_decompress(
                payload[st[0] : st[0] + st[1]], codec, "stream"
            )

        int_vals.extend(
            rle_v2_decode(stream(_K_DATA, 1), stripe_rows, signed=True)
        )
        lengths = rle_v2_decode(
            stream(_K_LENGTH, 2), stripe_rows, signed=False
        )
        data = stream(_K_DATA, 2)
        if sum(lengths) != len(data):
            raise ValueError("string LENGTH sum disagrees with DATA size")
        pos = 0
        for ln in lengths:
            str_vals.append(data[pos : pos + ln].decode("utf-8"))
            pos += ln
    if len(int_vals) != n_rows or len(str_vals) != n_rows:
        raise ValueError("decoded rows disagree with footer total")
    if 1 not in blooms or 2 not in blooms:
        raise ValueError("bloom streams missing for a filtered column")

    def contains(col: int, h64: int) -> bool:
        return any(
            bloom_might_contain(bits, k, h64) for k, bits in blooms[col]
        )

    int_present = sum(
        1 for v in int_vals if contains(1, orc_long_bloom_hash(v))
    )
    str_present = sum(
        1 for v in str_vals
        if contains(2, orc_bytes_bloom_hash(v.encode()))
    )
    # deterministic absent sets: values +1 are never present (ints
    # are 7-spaced), "z"-prefixed strings never written
    int_absent_hits = sum(
        1 for v in int_vals if contains(1, orc_long_bloom_hash(v + 1))
    )
    str_absent_hits = sum(
        1 for v in str_vals
        if contains(2, orc_bytes_bloom_hash(("z" + v).encode()))
    )
    bound = max(5, (n_rows * 25 + 99) // 100)  # 5x the 5% fpp
    return {
        "n_rows": n_rows,
        "n_bloom_columns": len(blooms),
        "hash_functions": blooms[1][0][0],
        "int_present_hits": int_present,
        "str_present_hits": str_present,
        "int_fp_bounded": int_absent_hits <= bound,
        "str_fp_bounded": str_absent_hits <= bound,
    }


# ---------------------------------------------------------------------------
# round 11 continuation: the remaining scalar types — boolean, double,
# timestamp_instant, date, decimal — producer-pinned by pyarrow's ORC
# writer (empirically pinned encodings: nanos scale = p * 10^(b+1)
# for low-bits b > 0; seconds relative to the 2015-01-01 UTC epoch;
# decimal DATA = zigzag unbounded varints + SECONDARY scale)
# ---------------------------------------------------------------------------

_K_SECONDARY = 5
_BOOL_KIND = 0
_DOUBLE_KIND = 6
_DECIMAL_KIND = 14
_DATE_KIND = 15
_TS_INSTANT_KIND = 18
_ORC_TS_EPOCH = 1_420_070_400  # 2015-01-01T00:00:00Z in unix seconds


def _unbounded_varint(data: bytes, pos: int) -> tuple[int, int]:
    """ORC decimal DATA: little-endian base-128 varint, zigzag
    signed; capped at 20 bytes (a decimal128 needs at most 19)."""
    v = 0
    shift = 0
    for n in range(20):
        if pos >= len(data):
            raise ValueError("decimal varint truncated")
        byte = data[pos]
        pos += 1
        v |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return _unzigzag(v), pos
        shift += 7
    raise ValueError("decimal varint past size cap")


def _ts_nanos(raw: int) -> int:
    """SECONDARY-stream nanosecond decode (pinned against pyarrow):
    low 3 bits b scale the payload by ``10^(b+1)`` when non-zero."""
    b = raw & 7
    p = raw >> 3
    n = p * 10 ** (b + 1) if b else p
    if not 0 <= n < 1_000_000_000:
        raise ValueError("timestamp nanos outside [0, 1e9)")
    return n


def synth_orc_scalars_plan(seed: int) -> dict:
    """Mirrored in the DuckDB oracle: ``n = 60 + (seed*7) % 90``
    rows.  Row i: boolean null at ``i%11==0`` else ``i%3==0``;
    double null at ``i%13==0`` else ``i * 0.25`` (dyadic — sums are
    exact in both engines); timestamp_instant null at ``i%7==0``
    else ``2014-06-01T00:00:00Z + (seed%1000) s + i*1000003 µs``
    (pre-2015 seconds are NEGATIVE in the stream); date null at
    ``i%17==0`` else day ``18000 + seed%50 + i*3 - 40``; decimal(12,2)
    null at ``i%5==4`` else ``(i-30)*7 + seed%100`` cents."""
    n = 60 + (seed * 7) % 90
    return {"n": n}


def synth_orc_scalars(seed: int) -> bytes:
    import datetime as _dt
    import decimal as _decimal
    import io as _io

    import pyarrow as pa
    import pyarrow.orc as orc

    n = synth_orc_scalars_plan(seed)["n"]
    base = _dt.datetime(
        2014, 6, 1, tzinfo=_dt.timezone.utc
    ) + _dt.timedelta(seconds=seed % 1000)
    tbl = pa.table(
        {
            "b": pa.array(
                [None if i % 11 == 0 else i % 3 == 0 for i in range(n)]
            ),
            "d": pa.array(
                [None if i % 13 == 0 else i * 0.25 for i in range(n)],
                type=pa.float64(),
            ),
            "t": pa.array(
                [
                    None if i % 7 == 0
                    else base + _dt.timedelta(microseconds=i * 1_000_003)
                    for i in range(n)
                ],
                type=pa.timestamp("us", tz="UTC"),
            ),
            "dt": pa.array(
                [
                    None if i % 17 == 0
                    else _dt.date(1970, 1, 1)
                    + _dt.timedelta(days=18000 + seed % 50 + i * 3 - 40)
                    for i in range(n)
                ],
                type=pa.date32(),
            ),
            "dec": pa.array(
                [
                    None if i % 5 == 4
                    else _decimal.Decimal((i - 30) * 7 + seed % 100)
                    / 100
                    for i in range(n)
                ],
                type=pa.decimal128(12, 2),
            ),
        }
    )
    buf = _io.BytesIO()
    # seed%3==0 forces MULTI-STRIPE files (batch_size 16 with a tiny
    # stripe_size -> 4-10 stripes depending on n; zlib seeds still
    # come out single-stripe) so the per-stripe accumulation and the
    # rows-vs-footer cross-check also run against multi-stripe
    # layouts, which is what production ORC files look like
    kwargs = {"batch_size": 16, "stripe_size": 1} \
        if seed % 3 == 0 else {}
    orc.write_table(
        tbl, buf, compression=("uncompressed", "zlib")[seed % 2],
        **kwargs,
    )
    return buf.getvalue()


def scan_orc_scalars(payload: bytes) -> dict:
    """Decode the five remaining scalar column shapes straight from
    the stripe streams: boolean (bool-RLE DATA), double (IEEE754 LE),
    timestamp_instant (seconds-from-2015 DATA + scaled-nanos
    SECONDARY), date (days DATA), and decimal (zigzag-varint DATA +
    scale SECONDARY, scale cross-checked).  PRESENT streams gate
    every column; all five sums are oracle-recomputed."""
    import struct as _struct

    codec, footer, n_rows, types = _parse_orc_tail(payload)
    expect = [
        _STRUCT_KIND, _BOOL_KIND, _DOUBLE_KIND, _TS_INSTANT_KIND,
        _DATE_KIND, _DECIMAL_KIND,
    ]
    if types[: len(expect)] != expect:
        raise ValueError("scalar fixture schema mismatch")
    bool_true = bool_nulls = 0
    double_sum = 0.0
    ts_micros_sum = ts_nulls = 0
    date_days_sum = 0
    dec_cents_sum = 0
    total_nulls = 0
    rows_seen = 0
    for stripe_rows, _sfoot, all_streams in _iter_stripes(
        payload, codec, footer
    ):
        if stripe_rows is None:
            raise ValueError("stripe row count missing")
        located = {
            (kind, col): (pos, length)
            for kind, col, pos, length in all_streams
            if kind not in _INDEX_KINDS
        }

        def stream(kind: int, col: int) -> bytes | None:
            st = located.get((kind, col))
            if st is None:
                return None
            return _orc_decompress(
                payload[st[0] : st[0] + st[1]], codec, "stream"
            )

        def present(col: int) -> tuple[list[int], int]:
            blob = stream(_K_PRESENT, col)
            if blob is None:
                return [1] * stripe_rows, stripe_rows
            bits = _bool_rle_decode(blob, stripe_rows)
            return bits, sum(bits)

        def data(kind: int, col: int, what: str) -> bytes:
            blob = stream(kind, col)
            if blob is None:
                raise ValueError(f"column {col} missing {what} stream")
            return blob

        # boolean
        _bits, np_ = present(1)
        bvals = _bool_rle_decode(data(_K_DATA, 1, "DATA"), np_)
        bool_true += sum(bvals)
        bool_nulls += stripe_rows - np_
        total_nulls += stripe_rows - np_
        # double
        _bits, np_ = present(2)
        dblob = data(_K_DATA, 2, "DATA")
        if len(dblob) != 8 * np_:
            raise ValueError("double DATA size disagrees with PRESENT")
        double_sum += sum(
            _struct.unpack_from("<d", dblob, 8 * i)[0] for i in range(np_)
        )
        total_nulls += stripe_rows - np_
        # timestamp_instant
        _bits, np_ = present(3)
        secs = rle_v2_decode(data(_K_DATA, 3, "DATA"), np_, signed=True)
        nraw = rle_v2_decode(
            data(_K_SECONDARY, 3, "SECONDARY"), np_, signed=False
        )
        for s_, v in zip(secs, nraw):
            ts_micros_sum += (
                (s_ + _ORC_TS_EPOCH) * 1_000_000_000 + _ts_nanos(v)
            ) // 1000
        ts_nulls += stripe_rows - np_
        total_nulls += stripe_rows - np_
        # date
        _bits, np_ = present(4)
        date_days_sum += sum(
            rle_v2_decode(data(_K_DATA, 4, "DATA"), np_, signed=True)
        )
        total_nulls += stripe_rows - np_
        # decimal
        _bits, np_ = present(5)
        dec_blob = data(_K_DATA, 5, "DATA")
        scales = rle_v2_decode(
            data(_K_SECONDARY, 5, "SECONDARY"), np_, signed=True
        )
        pos = 0
        for i in range(np_):
            cents, pos = _unbounded_varint(dec_blob, pos)
            if scales[i] != 2:
                raise ValueError("decimal scale disagrees with schema")
            dec_cents_sum += cents
        if pos != len(dec_blob):
            raise ValueError("decimal DATA has trailing bytes")
        total_nulls += stripe_rows - np_
        rows_seen += stripe_rows
    if rows_seen != n_rows:
        raise ValueError("stripe rows disagree with footer total")
    for label, v in (
        ("ts_micros_sum", ts_micros_sum),
        ("date_days_sum", date_days_sum),
        ("dec_cents_sum", dec_cents_sum),
    ):
        if not (-(2**63) <= v < 2**63):
            raise ValueError(f"ORC {label} overflows int64 (boundary)")
    return {
        "n_rows": n_rows,
        "bool_true": bool_true,
        "double_sum": double_sum,
        "ts_micros_sum": ts_micros_sum,
        "date_days_sum": date_days_sum,
        "dec_cents_sum": dec_cents_sum,
        "total_nulls": total_nulls,
    }


# ---------------------------------------------------------------------------
# round 12: NESTED TYPES (struct / list / map) — child-column
# recursion over the pre-order type tree, LENGTH streams for the
# repeated kinds, PRESENT on nested children (VERDICT r11 item 3)
# ---------------------------------------------------------------------------

_LIST_KIND, _MAP_KIND = 10, 11


def _parse_type_tree(footer: dict):
    """Footer type list -> (kinds, subtypes, field_names, scales)
    with the spec's PRE-ORDER column ids.  ``subtypes`` is a packed
    repeated uint32 on the wire (one length-delimited blob of
    varints); unpacked single-varint encodings are accepted too;
    ``scales`` carries the decimal scale (type field 6, 0
    otherwise)."""
    kinds: list[int] = []
    subtypes: list[list[int]] = []
    names: list[list[str]] = []
    scales: list[int] = []
    tlist = footer.get(4, [])
    if not 1 <= len(tlist) <= 256:
        raise ValueError("ORC type count out of bounds")
    seen_children: set[int] = set()
    for parent_id, tb in enumerate(tlist):
        if not isinstance(tb, bytes):
            raise ValueError("ORC type entry not length-delimited")
        m = _msg(tb)
        kinds.append(_nonneg(m.get(1, [0])[0], "type kind"))
        scales.append(_nonneg(m.get(6, [0])[0], "decimal scale"))
        subs: list[int] = []
        for raw in m.get(2, []):
            if isinstance(raw, int):
                subs.append(_nonneg(raw, "subtype id"))
                continue
            if not isinstance(raw, bytes):
                raise ValueError("ORC subtypes field malformed")
            pos = 0
            while pos < len(raw):
                v, pos = _varint(raw, pos)
                subs.append(v)
        if any(s >= len(tlist) for s in subs):
            raise ValueError("ORC subtype id out of range")
        # Spec pre-order invariant: every child id is strictly greater
        # than its parent's id, and no id is claimed by two parents.
        # Without this a crafted footer that repeats one subtype id at
        # every level turns the recursive column walk exponential (a
        # CPU hang, not the loud ValueError the quarantine requires).
        for s in subs:
            if s <= parent_id:
                raise ValueError("ORC subtype id violates pre-order")
            if s in seen_children:
                raise ValueError("ORC subtype id claimed twice")
            seen_children.add(s)
        subtypes.append(subs)
        fns = []
        for fn in m.get(3, []):
            if not isinstance(fn, bytes):
                raise ValueError("ORC field name malformed")
            try:
                fns.append(fn.decode("utf-8"))
            except UnicodeDecodeError:
                raise ValueError("ORC field name not UTF-8") from None
        names.append(fns)
    return kinds, subtypes, names, scales


def synth_orc_nested_plan(seed: int) -> dict:
    """Mirrored in the DuckDB oracle: ``n = 40 + (seed*7) % 80``
    rows of three nested columns — ``st: struct<a: int64 (null at
    i%5==0, else (seed+i*3)%1000), b: string ("x"+str((seed+i)%13))>``,
    ``li: list<int64>`` (null at i%7==6, else ``i%4`` elements
    ``(seed+i+j)%100``), and ``mp: map<string,int64>`` with ``i%3``
    entries ``("k"+str((i+j)%12), (seed+i*j)%50)``.  The struct also
    carries ``c: decimal(10,2)`` (null at i%9==4, unscaled
    ``(seed+i*7)%10000``) and ``d: date32`` (days
    ``(seed*3+i)%20000``), and ``e: timestamp-instant`` (micros
    ``1_600_000_000_000_000 + ((seed*19+i*23)%10^9)*1000``) — nested
    decimal/date/timestamp children ride the scalar decoders inside
    the recursive walk."""
    n = 40 + (seed * 7) % 80
    return {"n": n, "compression":
            ("uncompressed", "zlib", "snappy")[seed % 3]}


def synth_orc_nested(seed: int) -> bytes:
    """Nested-type ORC written by the INDEPENDENT pyarrow producer,
    compression rotating uncompressed/zlib/snappy by seed."""
    import io as _io

    import pyarrow as pa
    import pyarrow.orc as orc

    plan = synth_orc_nested_plan(seed)
    n = plan["n"]
    import decimal as _dec

    st = pa.array(
        [
            {
                "a": None if i % 5 == 0 else (seed + i * 3) % 1000,
                "b": f"x{(seed + i) % 13}",
                "c": None if i % 9 == 4 else _dec.Decimal(
                    (seed + i * 7) % 10000
                ).scaleb(-2),
                "d": (seed * 3 + i) % 20000,
                "e": 1_600_000_000_000_000
                + ((seed * 19 + i * 23) % 10**9) * 1000,
            }
            for i in range(n)
        ],
        type=pa.struct([
            ("a", pa.int64()), ("b", pa.string()),
            ("c", pa.decimal128(10, 2)), ("d", pa.date32()),
            ("e", pa.timestamp("us", tz="UTC")),
        ]),
    )
    li = pa.array(
        [
            None if i % 7 == 6
            else [(seed + i + j) % 100 for j in range(i % 4)]
            for i in range(n)
        ],
        type=pa.list_(pa.int64()),
    )
    mp = pa.array(
        [
            [(f"k{(i + j) % 12}", (seed + i * j) % 50)
             for j in range(i % 3)]
            for i in range(n)
        ],
        type=pa.map_(pa.string(), pa.int64()),
    )
    buf = _io.BytesIO()
    # odd seeds force DICTIONARY_V2 on every nested string child
    # (struct field b AND the map keys) — dictionary × nesting is a
    # real-warehouse composition, and the aggregates are identical
    # either way so the oracle is encoding-invariant
    orc.write_table(
        pa.table({"st": st, "li": li, "mp": mp}), buf,
        compression=plan["compression"],
        dictionary_key_size_threshold=1.0 if seed % 2 else 0.0,
    )
    return buf.getvalue()


def scan_orc_nested(payload: bytes) -> dict:
    """Decode an ORC file whose schema carries STRUCT / LIST / MAP
    columns (ORC spec "Column Encodings"): column ids are the
    PRE-ORDER walk of the type tree; a struct contributes no streams
    of its own beyond PRESENT and recurses into its children at its
    present-count; LIST and MAP carry a LENGTH stream (RLEv2,
    DIRECT_V2) and their children decode at the summed length.  A
    child's value count is its PARENT's non-null count — the
    row-position bookkeeping this scan exists to prove.

    Scope fences (loud): int children must be RLEv2 DIRECT_V2,
    strings DIRECT_V2 (the dictionary path is pinned by
    :func:`scan_orc_rich`), union/decimal children out of scope."""
    codec, footer, n_rows, _types = _parse_orc_tail(payload)
    kinds, subtypes, names, scales = _parse_type_tree(footer)
    if kinds[0] != _STRUCT_KIND:
        raise ValueError("ORC root type is not a struct")
    # per-column accumulators, merged across stripes
    int_sum = [0] * len(kinds)
    int_count = [0] * len(kinds)
    nulls = [0] * len(kinds)
    str_bytes = [0] * len(kinds)
    str_count = [0] * len(kinds)
    elem_total = [0] * len(kinds)  # on the LIST/MAP column itself
    rows_seen = 0
    for stripe_rows, sfoot, streams in _iter_stripes(
        payload, codec, footer
    ):
        if stripe_rows is None:
            raise ValueError("stripe row count missing")
        enc_msgs = [_msg(e) for e in sfoot.get(2, [])]
        encodings = [m.get(1, [0])[0] for m in enc_msgs]
        dict_sizes = [m.get(2, [0])[0] for m in enc_msgs]
        located: dict[tuple[int, int], tuple[int, int]] = {
            (kind, col): (pos, length)
            for kind, col, pos, length in streams
            if kind not in _INDEX_KINDS
        }

        def stream_bytes(kind: int, col: int) -> bytes | None:
            st = located.get((kind, col))
            if st is None:
                return None
            return _orc_decompress(
                payload[st[0] : st[0] + st[1]], codec, "stream"
            )

        def walk(col: int, count: int, depth: int) -> None:
            if depth > 8:
                raise ValueError("ORC type nesting too deep (boundary)")
            tkind = kinds[col]
            enc = encodings[col] if col < len(encodings) else 0
            present = stream_bytes(_K_PRESENT, col)
            if present is not None:
                bits = _bool_rle_decode(present, count)
                n_present = sum(bits)
            else:
                n_present = count
            nulls[col] += count - n_present
            if tkind == _STRUCT_KIND:
                if enc != 0:
                    raise ValueError("struct encoding must be DIRECT")
                for sub in subtypes[col]:
                    walk(sub, n_present, depth + 1)
                return
            if tkind in (_LIST_KIND, _MAP_KIND):
                if enc != 2:
                    raise ValueError(
                        f"repeated-kind encoding {enc} out of scope "
                        "(want DIRECT_V2)"
                    )
                lengths = rle_v2_decode(
                    stream_bytes(_K_LENGTH, col) or b"",
                    n_present, signed=False,
                )
                total = sum(lengths)
                if total > 1 << 28:
                    raise ValueError("nested element total past cap")
                elem_total[col] += total
                want = 1 if tkind == _LIST_KIND else 2
                if len(subtypes[col]) != want:
                    raise ValueError("repeated-kind child count wrong")
                for sub in subtypes[col]:
                    walk(sub, total, depth + 1)
                return
            if tkind in _INT_KINDS or tkind == _DATE_KIND:
                # dates ride the int path: DATA = RLEv2 days
                if enc != 2:
                    raise ValueError(
                        f"int child encoding {enc} out of scope"
                    )
                data = stream_bytes(_K_DATA, col)
                if data is None:
                    raise ValueError(f"int column {col} has no DATA")
                vals = rle_v2_decode(data, n_present, signed=True)
                int_sum[col] += sum(vals)
                int_count[col] += len(vals)
                return
            if tkind == _TS_INSTANT_KIND:
                if enc != 2:
                    raise ValueError(
                        f"timestamp child encoding {enc} out of scope"
                    )
                secs = rle_v2_decode(
                    stream_bytes(_K_DATA, col) or b"",
                    n_present, signed=True,
                )
                nraw = rle_v2_decode(
                    stream_bytes(_K_SECONDARY, col) or b"",
                    n_present, signed=False,
                )
                for s_, v in zip(secs, nraw):
                    int_sum[col] += (
                        (s_ + _ORC_TS_EPOCH) * 1_000_000_000
                        + _ts_nanos(v)
                    ) // 1000
                int_count[col] += n_present
                return
            if tkind == _DECIMAL_KIND:
                if enc != 2:
                    raise ValueError(
                        f"decimal child encoding {enc} out of scope"
                    )
                blob = stream_bytes(_K_DATA, col)
                if blob is None:
                    raise ValueError(f"decimal column {col} has no DATA")
                dscales = rle_v2_decode(
                    stream_bytes(_K_SECONDARY, col) or b"",
                    n_present, signed=True,
                )
                pos = 0
                for s in dscales:
                    if s != scales[col]:
                        raise ValueError(
                            "decimal scale disagrees with the schema"
                        )
                    unscaled, pos = _unbounded_varint(blob, pos)
                    int_sum[col] += unscaled
                if pos != len(blob):
                    raise ValueError("decimal DATA has trailing bytes")
                int_count[col] += n_present
                return
            if tkind == _STRING_KIND:
                if enc == 2:  # DIRECT_V2
                    lengths = rle_v2_decode(
                        stream_bytes(_K_LENGTH, col) or b"",
                        n_present, signed=False,
                    )
                    data = stream_bytes(_K_DATA, col)
                    if data is None:
                        raise ValueError(
                            f"string column {col} missing DATA"
                        )
                    if sum(lengths) != len(data):
                        raise ValueError(
                            "string LENGTH sum disagrees with DATA size"
                        )
                    str_bytes[col] += len(data)
                    str_count[col] += len(lengths)
                elif enc == 3:  # DICTIONARY_V2 inside a nested column
                    dsize = _nonneg(
                        dict_sizes[col] if col < len(dict_sizes) else 0,
                        "dictionary size",
                    )
                    lengths = rle_v2_decode(
                        stream_bytes(_K_LENGTH, col) or b"",
                        dsize, signed=False,
                    )
                    ddata = stream_bytes(_K_DICT, col)
                    if ddata is None:
                        raise ValueError(
                            f"dict column {col} missing DICTIONARY_DATA"
                        )
                    if sum(lengths) != len(ddata):
                        raise ValueError(
                            "dictionary LENGTH sum disagrees with its data"
                        )
                    idx = rle_v2_decode(
                        stream_bytes(_K_DATA, col) or b"",
                        n_present, signed=False,
                    )
                    for i in idx:
                        if not 0 <= i < dsize:
                            raise ValueError(
                                "dictionary index out of range"
                            )
                        str_bytes[col] += lengths[i]
                    str_count[col] += len(idx)
                else:
                    raise ValueError(
                        f"nested string encoding {enc} out of scope"
                    )
                return
            raise ValueError(
                f"ORC nested type kind {tkind} out of scope"
            )

        for sub in subtypes[0]:
            walk(sub, stripe_rows, 1)
        rows_seen += stripe_rows
    if rows_seen != n_rows:
        raise ValueError(
            f"stripe rows {rows_seen} disagree with footer total {n_rows}"
        )
    # resolve the fixture's columns by NAME through the tree
    root_names = names[0]
    if len(root_names) != len(subtypes[0]):
        raise ValueError("root field names disagree with subtypes")
    by_name = dict(zip(root_names, subtypes[0]))
    for want in ("st", "li", "mp"):
        if want not in by_name:
            raise ValueError(f"fixture column {want!r} missing")
    st_col, li_col, mp_col = by_name["st"], by_name["li"], by_name["mp"]
    if kinds[st_col] != _STRUCT_KIND or kinds[li_col] != _LIST_KIND \
            or kinds[mp_col] != _MAP_KIND:
        raise ValueError("fixture column kinds mismatch")
    st_fields = dict(zip(names[st_col], subtypes[st_col]))
    if set(st_fields) != {"a", "b", "c", "d", "e"}:
        raise ValueError("struct field names mismatch")
    a_col, b_col = st_fields["a"], st_fields["b"]
    c_col, d_col = st_fields["c"], st_fields["d"]
    e_col = st_fields["e"]
    elem_col = subtypes[li_col][0]
    key_col, val_col = subtypes[mp_col]
    for agg in (int_sum[a_col], int_sum[elem_col], int_sum[val_col],
                int_sum[c_col], int_sum[d_col], int_sum[e_col]):
        if not (-(2**63) <= agg < 2**63):
            raise ValueError("ORC nested sum overflows int64 (boundary)")
    return {
        "n_rows": n_rows,
        "n_stripes": len(footer.get(3, [])),
        "codec": codec,
        "a_sum": int_sum[a_col],
        "a_count": int_count[a_col],
        "a_nulls": nulls[a_col],
        "b_bytes": str_bytes[b_col],
        "b_count": str_count[b_col],
        "c_cents_sum": int_sum[c_col],
        "c_nulls": nulls[c_col],
        "d_days_sum": int_sum[d_col],
        "e_micros_sum": int_sum[e_col],
        "list_nulls": nulls[li_col],
        "list_count": elem_total[li_col],
        "list_sum": int_sum[elem_col],
        "map_count": elem_total[mp_col],
        "map_key_bytes": str_bytes[key_col],
        "map_val_sum": int_sum[val_col],
    }
