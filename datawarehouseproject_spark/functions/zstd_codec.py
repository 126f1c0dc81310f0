"""Zstandard frame decode, by hand — the FOURTH entropy stack.

Zstd (RFC 8878, public) is the compression format modern corpora
actually ship in — Common Crawl's WET/WARC mirrors, parquet's
fastest-growing codec, the package-manager default — and its entropy
layer is neither Huffman-only (DEFLATE/bzip2) nor an adaptive range
coder (LZMA): it is **FSE**, the table-based asymmetric numeral
system (tANS).  This module implements the full decode path from the
RFC:

- frame header (magic ``0xFD2FB528``, descriptor, single-segment /
  window descriptor, 0/1/2/4/8-byte content size, dictionary-id
  sizes, content-checksum flag);
- block layer (raw / RLE / compressed, 3-byte LE headers, last-block
  bit);
- literals section: raw / RLE / Huffman-compressed / treeless
  (table reuse), all four size formats, 1-stream and 4-stream
  layouts with the 6-byte jump table;
- Huffman table descriptions, BOTH kinds: direct 4-bit weights and
  FSE-COMPRESSED weights (two interleaved FSE states draining a
  backward bitstream), the implied last weight completing the next
  power of two, canonical code assignment by ascending weight;
- the FSE layer itself: normalized-count reading (variable-width
  forward bitstream, the ``probability = value - 1`` convention,
  ``-1`` "less-than-one" cells placed from the table's end, the
  2-bit zero-run repeat flag), table spreading with the
  ``(size>>1)+(size>>3)+3`` step, baseline/nbBits state assignment;
- the sequences section: predefined / RLE / FSE / repeat table
  modes for literal-length, offset, and match-length codes; the
  three interleaved backward-bitstream states; the code→value extra
  bits; and the 3-slot repeat-offset cache with the famous
  ``literal_length == 0`` shift semantics;
- sequence execution with overlap-forward match copies, then xxh64
  (hand-rolled, published vectors) verifying the content checksum
  when the frame carries one.

Producers: ``pyarrow.Codec('zstd')`` (libzstd via Arrow C++) AND the
``zstd`` CLI binary (which writes content checksums by default) —
two independent producer binaries, plus compression levels that
exercise predefined vs literal-specific FSE tables.  Pinned in
``tests/test_zstd_codec.py``.
"""

from __future__ import annotations

import struct

_MAGIC = 0xFD2FB528


def synth_zstd_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``80 + (seed*19) % 240``
    lines; line i is ``row {i} doc {seed} v {(seed*17 + i*11) % 7919}``.
    Compression level rotates 1/3/9/19 by ``seed % 4``; odd seeds
    ship as TWO concatenated frames split at ``n_lines // 2``."""
    n_lines = 80 + (seed * 19) % 240
    return {
        "n_lines": n_lines,
        "level": (1, 3, 9, 19)[seed % 4],
        "n_frames": 2 if seed % 2 else 1,
        "split": n_lines // 2 if seed % 2 else None,
    }


def _plan_text(seed: int, lo: int, hi: int) -> bytes:
    return "".join(
        f"row {i} doc {seed} v {(seed * 17 + i * 11) % 7919}\n"
        for i in range(lo, hi)
    ).encode("ascii")


def synth_zstd(seed: int) -> bytes:
    """REAL zstd frames from the libzstd producer (via pyarrow) over
    the deterministic text plan."""
    import pyarrow as pa

    plan = synth_zstd_plan(seed)
    codec = pa.Codec("zstd", compression_level=plan["level"])
    n, split = plan["n_lines"], plan["split"]
    parts = [(0, n)] if split is None else [(0, split), (split, n)]
    return b"".join(
        bytes(codec.compress(_plan_text(seed, lo, hi))) for lo, hi in parts
    )
_M64 = 0xFFFFFFFFFFFFFFFF

# ---------------------------------------------------------------------------
# xxh64 — the zstd content checksum (low 32 bits). Public spec.
# ---------------------------------------------------------------------------

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xr(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _XP2) & _M64, 31) * _XP1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while pos + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, pos)
            v1, v2, v3, v4 = _xr(v1, l1), _xr(v2, l2), _xr(v3, l3), _xr(v4, l4)
            pos += 32
        acc = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
            + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            acc = ((acc ^ _xr(0, v)) * _XP1 + _XP4) & _M64
    else:
        acc = (seed + _XP5) & _M64
    acc = (acc + n) & _M64
    while pos + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, pos)
        acc = ((_rotl64(acc ^ _xr(0, lane), 27) * _XP1) + _XP4) & _M64
        pos += 8
    if pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        acc = ((_rotl64(acc ^ (lane * _XP1) & _M64, 23) * _XP2) + _XP3) & _M64
        pos += 4
    while pos < n:
        acc = ((_rotl64(acc ^ (data[pos] * _XP5) & _M64, 11)) * _XP1) & _M64
        pos += 1
    acc ^= acc >> 33
    acc = (acc * _XP2) & _M64
    acc ^= acc >> 29
    acc = (acc * _XP3) & _M64
    acc ^= acc >> 32
    return acc


# ---------------------------------------------------------------------------
# Bitstreams
# ---------------------------------------------------------------------------


class _FwdBits:
    """Forward LSB-first bit reader (FSE table descriptions)."""

    __slots__ = ("data", "pos", "bitpos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.bitpos = 0

    def read(self, n: int) -> int:
        out = 0
        got = 0
        while got < n:
            if self.pos >= len(self.data):
                raise ValueError("fse description overran its bytes")
            take = min(8 - self.bitpos, n - got)
            out |= (
                (self.data[self.pos] >> self.bitpos)
                & ((1 << take) - 1)
            ) << got
            got += take
            self.bitpos += take
            if self.bitpos == 8:
                self.bitpos = 0
                self.pos += 1
        return out

    def align(self) -> int:
        """Advance to the next byte boundary; return byte position."""
        if self.bitpos:
            self.bitpos = 0
            self.pos += 1
        return self.pos


class _BackBits:
    """Backward bitstream (huffman/FSE payloads): a sentinel 1-bit
    tops the last byte; reads take the highest remaining bits."""

    __slots__ = ("value", "avail")

    def __init__(self, data: bytes):
        if not data:
            raise ValueError("empty backward bitstream")
        last = data[-1]
        if last == 0:
            raise ValueError("backward bitstream missing sentinel bit")
        self.value = int.from_bytes(data, "little")
        self.avail = 8 * (len(data) - 1) + last.bit_length() - 1

    def read(self, n: int) -> int:
        """Read n bits; zero-padded past the start (huffman streams
        legitimately peek beyond — the regenerated count terminates)."""
        if n == 0:
            return 0
        if self.avail >= n:
            self.avail -= n
            return (self.value >> self.avail) & ((1 << n) - 1)
        # partial: remaining real bits, zero-extended
        got = max(self.avail, 0)
        out = (self.value & ((1 << got) - 1)) << (n - got) if got > 0 else 0
        self.avail -= n  # may go (further) negative: overread marker
        return out

    def read_strict(self, n: int) -> int:
        if self.avail < n:
            raise ValueError("backward bitstream exhausted")
        return self.read(n)


# ---------------------------------------------------------------------------
# FSE: normalized counts -> decode table; state machine
# ---------------------------------------------------------------------------


def read_fse_distribution(
    bits: _FwdBits, max_symbol: int, max_accuracy: int
) -> tuple[list[int], int]:
    """Read a normalized-count table description (RFC 8878 §4.1.1).
    Returns (probs list with -1 for less-than-one, accuracy_log).
    Consumes up to the next byte boundary."""
    accuracy = bits.read(4) + 5
    if accuracy > max_accuracy:
        raise ValueError(f"fse accuracy {accuracy} > max {max_accuracy}")
    remaining = (1 << accuracy) + 1
    probs: list[int] = []
    while remaining > 1:
        if len(probs) > max_symbol:
            raise ValueError("fse distribution has too many symbols")
        nbits = remaining.bit_length()
        low_cut = (1 << nbits) - 1 - remaining  # count of small codes
        val = bits.read(nbits - 1)
        if val < low_cut:
            value = val
        else:
            rest = bits.read(1)
            value = val + (rest << (nbits - 1))
            if value >= (1 << (nbits - 1)):
                value -= low_cut
        prob = value - 1
        probs.append(prob)
        remaining -= prob if prob >= 0 else 1
        if prob == 0:
            while True:
                rep = bits.read(2)
                probs.extend([0] * rep)
                if len(probs) > max_symbol + 1:
                    # libzstd rejects symbol counts above the maximum
                    # even when the trailing run is all zeros; lenient
                    # accept here would violate the quarantine contract
                    raise ValueError(
                        "fse distribution has too many symbols"
                    )
                if rep != 3:
                    break
    if remaining != 1:
        raise ValueError("fse distribution does not sum to table size")
    bits.align()
    return probs, accuracy


def build_fse_table(probs: list[int], accuracy: int) -> list[tuple[int, int, int]]:
    """(symbol, nbBits, baseline) per state (RFC spread + assign)."""
    size = 1 << accuracy
    symbols = [-1] * size
    high = size - 1
    for s, p in enumerate(probs):
        if p == -1:
            symbols[high] = s
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    pos = 0
    for s, p in enumerate(probs):
        if p <= 0:
            continue
        for _ in range(p):
            symbols[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("fse table spread did not close")
    # per-symbol counters in table-position order
    counters = {}
    table: list[tuple[int, int, int]] = [None] * size  # type: ignore
    for state in range(size):
        s = symbols[state]
        if s < 0:
            raise ValueError("fse table has unassigned state")
        p = probs[s]
        if p == -1:
            table[state] = (s, accuracy, 0)
            continue
        c = counters.get(s, p)
        counters[s] = c + 1
        nb = accuracy - (c.bit_length() - 1)
        baseline = (c << nb) - size
        table[state] = (s, nb, baseline)
    return table


def _rle_table(symbol: int) -> list[tuple[int, int, int]]:
    return [(symbol, 0, 0)]


# ---------------------------------------------------------------------------
# Huffman literals
# ---------------------------------------------------------------------------


def _huf_table_from_weights(weights: list[int]) -> tuple[list[tuple[int, int]], int]:
    """Weights (last one implied by caller) -> (lookup table of
    (symbol, nbBits) sized 2^maxBits, maxBits)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError("huffman weights all zero")
    # implied last weight completes the next power of two
    max_bits = (total - 1).bit_length() + 0
    target = 1 << max_bits
    if target < total + 1:
        max_bits += 1
        target = 1 << max_bits
    left = target - total
    if left & (left - 1):
        raise ValueError("huffman implied weight is not a power of two")
    weights = weights + [left.bit_length()]  # weight of the last symbol
    if max_bits > 11:
        raise ValueError(f"huffman max bits {max_bits} > 11")
    table: list[tuple[int, int]] = [None] * target  # type: ignore
    pos = 0
    for w in range(1, max_bits + 1):
        for sym, sw in enumerate(weights):
            if sw != w:
                continue
            span = 1 << (w - 1)
            for _ in range(span):
                if pos >= target:
                    raise ValueError("huffman table overfilled")
                table[pos] = (sym, max_bits + 1 - w)
                pos += 1
    if pos != target:
        raise ValueError("huffman table underfilled")
    return table, max_bits


def read_huffman_table(data: bytes, pos: int) -> tuple[list[tuple[int, int]], int, int]:
    """Parse a Huffman_Tree_Description at ``pos``. Returns
    (table, max_bits, bytes consumed incl. header byte)."""
    if pos >= len(data):
        raise ValueError("missing huffman description")
    hbyte = data[pos]
    if hbyte >= 128:
        n = hbyte - 127
        nbytes = (n + 1) // 2
        raw = data[pos + 1 : pos + 1 + nbytes]
        if len(raw) < nbytes:
            raise ValueError("truncated direct huffman weights")
        weights = []
        for i in range(n):
            b = raw[i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0x0F))
        return (*_huf_table_from_weights(weights), 1 + nbytes)
    # FSE-compressed weights
    csize = hbyte
    blob = data[pos + 1 : pos + 1 + csize]
    if len(blob) < csize:
        raise ValueError("truncated fse-compressed huffman weights")
    fbits = _FwdBits(blob)
    probs, accuracy = read_fse_distribution(fbits, 255, 6)
    table = build_fse_table(probs, accuracy)
    stream = blob[fbits.pos :]
    back = _BackBits(stream)
    s1 = back.read_strict(accuracy)
    s2 = back.read_strict(accuracy)
    weights: list[int] = []
    while True:
        if len(weights) > 254:
            raise ValueError("huffman weight stream too long")
        sym, nb, base = table[s1]
        weights.append(sym)
        if nb > back.avail:
            sym2, _, _ = table[s2]
            weights.append(sym2)
            break
        s1 = base + back.read(nb)
        s1, s2 = s2, s1
    return (*_huf_table_from_weights(weights), 1 + csize)


def _huf_decode_stream(
    data: bytes, table: list[tuple[int, int]], max_bits: int, out_len: int
) -> bytes:
    """Decode exactly ``out_len`` symbols AND require the stream to
    be exactly consumed (the final symbols may peek zero-padded bits
    past the start, but the CONSUMED count must land on the total —
    libzstd rejects such streams as corrupt, and a silent mis-decode
    here would flow wrong parquet column values downstream)."""
    back = _BackBits(data)
    total = back.avail
    consumed = 0
    out = bytearray()
    mask = (1 << max_bits) - 1
    # r15: the backward reads run on LOCALS with _BackBits.read's
    # zero-padding semantics inlined — the per-symbol method call was
    # the kernel profile's second-hottest line
    value = back.value
    avail = back.avail
    n = max_bits  # initial peek window (zero-padded at the tail)
    if avail >= n:
        avail -= n
        val = (value >> avail) & mask
    else:
        got = avail if avail > 0 else 0
        val = ((value & ((1 << got) - 1)) << (n - got)) if got > 0 else 0
        avail -= n
    append = out.append
    produced = 0
    while produced < out_len:
        sym, nb = table[val]
        append(sym)
        produced += 1
        consumed += nb
        if produced == out_len:
            break
        if avail >= nb:  # refill; may zero-pad past start
            avail -= nb
            more = (value >> avail) & ((1 << nb) - 1)
        else:
            got = avail if avail > 0 else 0
            more = (
                ((value & ((1 << got) - 1)) << (nb - got)) if got > 0 else 0
            )
            avail -= nb
        val = ((val << nb) | more) & mask
    if consumed != total:
        raise ValueError(
            f"huffman stream consumed {consumed} of {total} bits"
        )
    return bytes(out)


# ---------------------------------------------------------------------------
# Sequences: predefined distributions and code tables (RFC 8878)
# ---------------------------------------------------------------------------

_LL_DEFAULTS = [
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1,
]
_LL_ACC = 6
_ML_DEFAULTS = [
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
    -1, -1, -1, -1, -1,
]
_ML_ACC = 6
_OF_DEFAULTS = [
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1,
]
_OF_ACC = 5

#: literal-length code -> (baseline, extra bits)
_LL_CODE = [(i, 0) for i in range(16)] + [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3),
    (40, 3), (48, 4), (64, 6), (128, 7), (256, 8), (512, 9),
    (1024, 10), (2048, 11), (4096, 12), (8192, 13), (16384, 14),
    (32768, 15), (65536, 16),
]
#: match-length code -> (baseline, extra bits)
_ML_CODE = [(i + 3, 0) for i in range(32)] + [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
    (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9),
    (1027, 10), (2051, 11), (4099, 12), (8195, 13), (16387, 14),
    (32771, 15), (65539, 16),
]

_MAX_ACC = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYM = {"ll": 35, "of": 31, "ml": 52}


class _FrameState:
    """Tables that persist across blocks within a frame."""

    def __init__(self):
        self.huf: tuple[list[tuple[int, int]], int] | None = None
        self.fse: dict[str, list[tuple[int, int, int]]] = {}
        self.reps = [1, 4, 8]


#: lazily-built predefined FSE tables (ll/of/ml) — see mode 0 below
_PREDEF_FSE: dict[str, list] = {}


def _read_seq_table(
    kind: str, mode: int, data: bytes, pos: int, st: _FrameState
) -> int:
    """Resolve the FSE table for one sequence category; returns the
    new byte position."""
    if mode == 0:  # predefined
        # r15: the three predefined tables are pure constants of the
        # RFC's default distributions, but were rebuilt per block —
        # build_fse_table was 13% of the parquet_page_decode kernel
        # profile.  Build each once per process; the table is a list
        # of tuples no consumer mutates, so sharing is safe.
        table = _PREDEF_FSE.get(kind)
        if table is None:
            defaults = {
                "ll": (_LL_DEFAULTS, _LL_ACC),
                "of": (_OF_DEFAULTS, _OF_ACC),
                "ml": (_ML_DEFAULTS, _ML_ACC),
            }[kind]
            table = build_fse_table(*defaults)
            _PREDEF_FSE[kind] = table
        st.fse[kind] = table
        return pos
    if mode == 1:  # RLE: one byte symbol
        if pos >= len(data):
            raise ValueError("truncated rle sequence table")
        sym = data[pos]
        if sym > _MAX_SYM[kind]:
            raise ValueError(f"rle {kind} symbol {sym} out of range")
        st.fse[kind] = _rle_table(sym)
        return pos + 1
    if mode == 2:  # FSE description in-stream
        bits = _FwdBits(data, pos)
        probs, acc = read_fse_distribution(
            bits, _MAX_SYM[kind], _MAX_ACC[kind]
        )
        st.fse[kind] = build_fse_table(probs, acc)
        return bits.align()
    # mode 3: repeat
    if kind not in st.fse:
        raise ValueError(f"repeat mode with no previous {kind} table")
    return pos


def _decode_sequences_exec(
    literals: bytes,
    seq_blob: bytes,
    n_seq: int,
    st: _FrameState,
    out: bytearray,
    max_output: int,
    frame_start: int = 0,
) -> None:
    """Decode n_seq sequences from the backward bitstream and execute
    them against ``literals`` and the output history.  ``frame_start``
    fences matches to the current frame: libzstd rejects a match that
    reaches into a previous concatenated frame's output as corrupt,
    and silently copying those bytes would be a wrong answer, not an
    error."""
    ll_t, of_t, ml_t = st.fse["ll"], st.fse["of"], st.fse["ml"]
    ll_bits = (len(ll_t) - 1).bit_length() if len(ll_t) > 1 else 0
    of_bits = (len(of_t) - 1).bit_length() if len(of_t) > 1 else 0
    ml_bits = (len(ml_t) - 1).bit_length() if len(ml_t) > 1 else 0
    back = _BackBits(seq_blob)
    # r15: all strict reads run inlined on LOCALS (value, avail) —
    # the per-sequence read_strict method calls were the kernel
    # profile's hottest line; semantics and the error string are
    # _BackBits.read_strict's exactly.  Every inlined site is guarded
    # to n >= 1 by the callers' `if <bits> else` defaults.
    value = back.value
    avail = back.avail
    if ll_bits:
        if avail < ll_bits:
            raise ValueError("backward bitstream exhausted")
        avail -= ll_bits
        s_ll = (value >> avail) & ((1 << ll_bits) - 1)
    else:
        s_ll = 0
    if of_bits:
        if avail < of_bits:
            raise ValueError("backward bitstream exhausted")
        avail -= of_bits
        s_of = (value >> avail) & ((1 << of_bits) - 1)
    else:
        s_of = 0
    if ml_bits:
        if avail < ml_bits:
            raise ValueError("backward bitstream exhausted")
        avail -= ml_bits
        s_ml = (value >> avail) & ((1 << ml_bits) - 1)
    else:
        s_ml = 0
    lit_pos = 0
    reps = st.reps
    for i in range(n_seq):
        of_code = of_t[s_of][0]
        if of_code > 31:
            raise ValueError(f"offset code {of_code} out of range")
        if of_code:
            if avail < of_code:
                raise ValueError("backward bitstream exhausted")
            avail -= of_code
            of_value = (1 << of_code) + (
                (value >> avail) & ((1 << of_code) - 1)
            )
        else:
            of_value = 1
        ml_code = ml_t[s_ml][0]
        if ml_code >= len(_ML_CODE):
            raise ValueError(f"match-length code {ml_code} out of range")
        ml_base, ml_extra = _ML_CODE[ml_code]
        if ml_extra:
            if avail < ml_extra:
                raise ValueError("backward bitstream exhausted")
            avail -= ml_extra
            ml = ml_base + ((value >> avail) & ((1 << ml_extra) - 1))
        else:
            ml = ml_base
        ll_code = ll_t[s_ll][0]
        if ll_code >= len(_LL_CODE):
            raise ValueError(f"literal-length code {ll_code} out of range")
        ll_base, ll_extra = _LL_CODE[ll_code]
        if ll_extra:
            if avail < ll_extra:
                raise ValueError("backward bitstream exhausted")
            avail -= ll_extra
            ll = ll_base + ((value >> avail) & ((1 << ll_extra) - 1))
        else:
            ll = ll_base
        # repcode resolution
        if of_value > 3:
            offset = of_value - 3
            reps[2] = reps[1]
            reps[1] = reps[0]
            reps[0] = offset
        else:
            idx = of_value - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = reps[0]
            elif idx < 3:
                offset = reps[idx]
                if idx == 2:
                    reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            else:  # of_value == 3 with ll == 0
                offset = reps[0] - 1
                if offset == 0:
                    raise ValueError("zstd repcode underflow")
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
        # copy literals
        if lit_pos + ll > len(literals):
            raise ValueError("sequence literals overrun literal buffer")
        if len(out) + ll > max_output:
            raise ValueError("zstd output exceeds cap")
        out += literals[lit_pos : lit_pos + ll]
        lit_pos += ll
        # match copy
        if offset > len(out) - frame_start:
            raise ValueError(
                f"zstd match offset {offset} beyond "
                f"{len(out) - frame_start} frame bytes"
            )
        if len(out) + ml > max_output:
            raise ValueError("zstd output exceeds cap")
        src = len(out) - offset
        if offset >= ml:
            out += out[src : src + ml]
        else:
            # overlapping copy == periodic repeat of the last
            # ``offset`` bytes (LZ77 semantics), batched
            pat = bytes(out[src:])
            out += (pat * (ml // offset + 1))[:ml]
        # state updates for all but the last sequence: LL, ML, OF
        if i + 1 < n_seq:
            _, nb, base = ll_t[s_ll]
            if nb:
                if avail < nb:
                    raise ValueError("backward bitstream exhausted")
                avail -= nb
                s_ll = base + ((value >> avail) & ((1 << nb) - 1))
            else:
                s_ll = base
            _, nb, base = ml_t[s_ml]
            if nb:
                if avail < nb:
                    raise ValueError("backward bitstream exhausted")
                avail -= nb
                s_ml = base + ((value >> avail) & ((1 << nb) - 1))
            else:
                s_ml = base
            _, nb, base = of_t[s_of]
            if nb:
                if avail < nb:
                    raise ValueError("backward bitstream exhausted")
                avail -= nb
                s_of = base + ((value >> avail) & ((1 << nb) - 1))
            else:
                s_of = base
    if avail != 0:
        raise ValueError(
            f"sequence bitstream has {avail} bits left over"
        )
    if len(out) + len(literals) - lit_pos > max_output:
        raise ValueError("zstd output exceeds cap")
    out += literals[lit_pos:]


# ---------------------------------------------------------------------------
# Literals section
# ---------------------------------------------------------------------------


def _read_literals(
    data: bytes, pos: int, st: _FrameState
) -> tuple[bytes, int]:
    if pos >= len(data):
        raise ValueError("missing literals section")
    b0 = data[pos]
    ltype = b0 & 0x03
    sf = (b0 >> 2) & 0x03
    if ltype in (0, 1):  # raw / RLE
        # size formats 0 and 2 are both the 1-byte 5-bit header
        if sf in (0, 2):
            regen = b0 >> 3
            hsize = 1
        elif sf == 1:
            if pos + 2 > len(data):
                raise ValueError("truncated literals header")
            regen = (b0 >> 4) | (data[pos + 1] << 4)
            hsize = 2
        else:  # sf == 3
            if pos + 3 > len(data):
                raise ValueError("truncated literals header")
            regen = (b0 >> 4) | (data[pos + 1] << 4) | (data[pos + 2] << 12)
            hsize = 3
        pos += hsize
        if ltype == 0:
            if pos + regen > len(data):
                raise ValueError("truncated raw literals")
            return data[pos : pos + regen], pos + regen
        if pos >= len(data):
            raise ValueError("truncated rle literal byte")
        return bytes([data[pos]]) * regen, pos + 1
    # compressed (2) / treeless (3)
    if sf == 0:
        if pos + 3 > len(data):
            raise ValueError("truncated literals header")
        h = b0 | (data[pos + 1] << 8) | (data[pos + 2] << 16)
        regen = (h >> 4) & 0x3FF
        csize = (h >> 14) & 0x3FF
        streams = 1
        hsize = 3
    elif sf == 1:
        if pos + 3 > len(data):
            raise ValueError("truncated literals header")
        h = b0 | (data[pos + 1] << 8) | (data[pos + 2] << 16)
        regen = (h >> 4) & 0x3FF
        csize = (h >> 14) & 0x3FF
        streams = 4
        hsize = 3
    elif sf == 2:
        if pos + 4 > len(data):
            raise ValueError("truncated literals header")
        h = (
            b0 | (data[pos + 1] << 8) | (data[pos + 2] << 16)
            | (data[pos + 3] << 24)
        )
        regen = (h >> 4) & 0x3FFF
        csize = (h >> 18) & 0x3FFF
        streams = 4
        hsize = 4
    else:
        if pos + 5 > len(data):
            raise ValueError("truncated literals header")
        h = (
            b0 | (data[pos + 1] << 8) | (data[pos + 2] << 16)
            | (data[pos + 3] << 24) | (data[pos + 4] << 32)
        )
        regen = (h >> 4) & 0x3FFFF
        csize = (h >> 22) & 0x3FFFF
        streams = 4
        hsize = 5
    pos += hsize
    body = data[pos : pos + csize]
    if len(body) < csize:
        raise ValueError("truncated compressed literals")
    bpos = 0
    if ltype == 2:
        table, max_bits, used = read_huffman_table(body, 0)
        st.huf = (table, max_bits)
        bpos = used
    elif st.huf is None:
        raise ValueError("treeless literals with no previous table")
    table, max_bits = st.huf  # type: ignore
    streams_blob = body[bpos:]
    if streams == 1:
        lits = _huf_decode_stream(streams_blob, table, max_bits, regen)
    else:
        if len(streams_blob) < 6:
            raise ValueError("missing 4-stream jump table")
        s1, s2, s3 = struct.unpack_from("<HHH", streams_blob, 0)
        rest = streams_blob[6:]
        if s1 + s2 + s3 > len(rest):
            raise ValueError("jump table exceeds stream data")
        part = (regen + 3) // 4
        sizes = [part, part, part, regen - 3 * part]
        if sizes[3] < 0:
            raise ValueError("negative fourth-stream size")
        chunks = [
            rest[:s1],
            rest[s1 : s1 + s2],
            rest[s1 + s2 : s1 + s2 + s3],
            rest[s1 + s2 + s3 :],
        ]
        lits = b"".join(
            _huf_decode_stream(c, table, max_bits, sz)
            for c, sz in zip(chunks, sizes)
        )
    if len(lits) != regen:
        raise ValueError("literal regeneration size mismatch")
    return lits, pos + csize


# ---------------------------------------------------------------------------
# Blocks and frames
# ---------------------------------------------------------------------------


def _decode_compressed_block(
    data: bytes,
    st: _FrameState,
    out: bytearray,
    max_output: int,
    frame_start: int = 0,
) -> None:
    literals, pos = _read_literals(data, 0, st)
    # sequences header
    if pos >= len(data):
        raise ValueError("missing sequences section")
    b0 = data[pos]
    pos += 1
    if b0 < 128:
        n_seq = b0
    elif b0 < 255:
        if pos >= len(data):
            raise ValueError("truncated sequence count")
        n_seq = ((b0 - 128) << 8) + data[pos]
        pos += 1
    else:
        if pos + 2 > len(data):
            raise ValueError("truncated sequence count")
        n_seq = data[pos] + (data[pos + 1] << 8) + 0x7F00
        pos += 2
    if n_seq == 0:
        if pos != len(data):
            raise ValueError("trailing bytes after sequence-free block")
        if len(out) + len(literals) > max_output:
            raise ValueError("zstd output exceeds cap")
        out += literals
        return
    if pos >= len(data):
        raise ValueError("missing compression-modes byte")
    modes = data[pos]
    pos += 1
    if modes & 0x03:
        raise ValueError("reserved sequence-mode bits set")
    pos = _read_seq_table("ll", (modes >> 6) & 3, data, pos, st)
    pos = _read_seq_table("of", (modes >> 4) & 3, data, pos, st)
    pos = _read_seq_table("ml", (modes >> 2) & 3, data, pos, st)
    _decode_sequences_exec(
        literals, data[pos:], n_seq, st, out, max_output, frame_start
    )


_DICT_MAGIC = 0xEC30A437


class ZstdDict:
    """A parsed zstd dictionary (RFC 8878 §5): entropy tables that
    seed the frame's repeat/treeless modes, the 3 initial repcodes,
    and content bytes that act as match history in front of the
    frame."""

    __slots__ = ("dict_id", "huf", "fse", "reps", "content")

    def __init__(
        self,
        dict_id: int,
        huf: tuple[list[tuple[int, int]], int] | None,
        fse: dict[str, list[tuple[int, int, int]]],
        reps: list[int],
        content: bytes,
    ):
        self.dict_id = dict_id
        self.huf = huf
        self.fse = fse
        self.reps = reps
        self.content = content


def parse_zstd_dictionary(blob: bytes) -> ZstdDict:
    """Parse a zstd dictionary.  Magic ``0xEC30A437`` means the full
    format: 4-byte dictionary-id, Huffman table description, three
    FSE table descriptions in offset/match-length/literal-length
    order, 3×4-byte little-endian initial repcodes, then content
    (libzstd's ``ZSTD_loadDEntropy`` order).  Anything else is a
    raw-content dictionary: all history, no entropy tables, id 0."""
    if len(blob) < 8 or struct.unpack_from("<I", blob)[0] != _DICT_MAGIC:
        return ZstdDict(0, None, {}, [1, 4, 8], bytes(blob))
    (dict_id,) = struct.unpack_from("<I", blob, 4)
    table, max_bits, used = read_huffman_table(blob, 8)
    pos = 8 + used
    fse: dict[str, list[tuple[int, int, int]]] = {}
    for kind in ("of", "ml", "ll"):
        bits = _FwdBits(blob, pos)
        probs, acc = read_fse_distribution(
            bits, _MAX_SYM[kind], _MAX_ACC[kind]
        )
        fse[kind] = build_fse_table(probs, acc)
        pos = bits.align()
    if pos + 12 > len(blob):
        raise ValueError("zstd dictionary truncated before repcodes")
    reps = list(struct.unpack_from("<III", blob, pos))
    content = bytes(blob[pos + 12 :])
    for r in reps:
        if r == 0 or r > len(content):
            raise ValueError(
                f"zstd dictionary repcode {r} outside its "
                f"{len(content)}-byte content"
            )
    return ZstdDict(dict_id, (table, max_bits), fse, reps, content)


def decode_zstd(
    payload: bytes,
    max_output: int = 1 << 28,
    dictionary: "ZstdDict | bytes | None" = None,
) -> bytes:
    """Decode one or more concatenated zstd frames (skippable frames
    included), verifying the content size and — when the producer
    wrote one — the xxh64 content checksum.

    ``dictionary`` (parsed :class:`ZstdDict` or raw dictionary bytes)
    seeds every data frame's entropy tables, repcodes, and match
    history, mirroring ``ZSTD_decompress_usingDict``.  A frame that
    DECLARES a dictionary-id is refused when no dictionary was
    provided (decoding anyway can silently produce wrong bytes when
    the dictionary only overrides the initial repcode cache — the one
    corruption the in-frame offset fence cannot see), and refused on
    an id mismatch."""
    if isinstance(dictionary, (bytes, bytearray, memoryview)):
        dictionary = parse_zstd_dictionary(bytes(dictionary))
    out = bytearray()
    pos = 0
    n = len(payload)
    if n < 4:
        raise ValueError("zstd payload shorter than a magic number")
    saw_frame = False
    # history buffer reused across frames: dictionary content stays
    # seeded at [0, prefix); each frame's output grows past it
    prefix = len(dictionary.content) if dictionary is not None else 0
    fbuf = bytearray(dictionary.content) if dictionary is not None else bytearray()
    while pos < n:
        if pos + 4 > n:
            raise ValueError("truncated zstd frame magic")
        (magic,) = struct.unpack_from("<I", payload, pos)
        pos += 4
        if (magic & 0xFFFFFFF0) == 0x184D2A50:  # skippable frame
            if pos + 4 > n:
                raise ValueError("truncated skippable frame size")
            (sz,) = struct.unpack_from("<I", payload, pos)
            pos += 4 + sz
            if pos > n:
                raise ValueError("skippable frame overruns payload")
            continue
        if magic != _MAGIC:
            raise ValueError(f"bad zstd magic {magic:#x}")
        saw_frame = True
        if pos >= n:
            raise ValueError("missing frame header descriptor")
        fhd = payload[pos]
        pos += 1
        fcs_flag = fhd >> 6
        single = bool(fhd & 0x20)
        if fhd & 0x08:
            raise ValueError("reserved frame-header bit set")
        checksum = bool(fhd & 0x04)
        did_flag = fhd & 0x03
        if not single:
            if pos >= n:
                raise ValueError("missing window descriptor")
            pos += 1  # window size only bounds memory; cap applies anyway
        declared_did = 0
        if did_flag:
            did_size = (0, 1, 2, 4)[did_flag]
            if pos + did_size > n:
                raise ValueError("truncated dictionary id")
            declared_did = int.from_bytes(
                payload[pos : pos + did_size], "little"
            )
            pos += did_size
        if declared_did and dictionary is None:
            raise ValueError(
                f"frame requires dictionary {declared_did} "
                "but none was provided"
            )
        if (
            dictionary is not None
            and declared_did
            and dictionary.dict_id
            and declared_did != dictionary.dict_id
        ):
            raise ValueError(
                f"frame wants dictionary {declared_did}, "
                f"provided {dictionary.dict_id}"
            )
        fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
        content_size = None
        if fcs_size:
            if pos + fcs_size > n:
                raise ValueError("truncated frame content size")
            content_size = int.from_bytes(
                payload[pos : pos + fcs_size], "little"
            )
            if fcs_size == 2:
                content_size += 256
            pos += fcs_size
        if content_size is not None and content_size > max_output:
            raise ValueError("declared content size exceeds cap")
        st = _FrameState()
        if dictionary is not None:
            if dictionary.huf is not None:
                st.huf = dictionary.huf
            st.fse = dict(dictionary.fse)
            st.reps = list(dictionary.reps)
        del fbuf[prefix:]  # fresh frame output after the dict history
        cap = prefix + max_output - len(out)
        while True:
            if pos + 3 > n:
                raise ValueError("truncated block header")
            bh = (
                payload[pos]
                | (payload[pos + 1] << 8)
                | (payload[pos + 2] << 16)
            )
            pos += 3
            last = bh & 1
            btype = (bh >> 1) & 3
            bsize = bh >> 3
            if btype == 0:  # raw
                if pos + bsize > n:
                    raise ValueError("truncated raw block")
                if len(fbuf) + bsize > cap:
                    raise ValueError("zstd output exceeds cap")
                fbuf += payload[pos : pos + bsize]
                pos += bsize
            elif btype == 1:  # RLE
                if pos >= n:
                    raise ValueError("truncated rle block")
                if len(fbuf) + bsize > cap:
                    raise ValueError("zstd output exceeds cap")
                fbuf += bytes([payload[pos]]) * bsize
                pos += 1
            elif btype == 2:
                if bsize > (1 << 17):
                    raise ValueError("compressed block exceeds 128 KiB")
                if pos + bsize > n:
                    raise ValueError("truncated compressed block")
                _decode_compressed_block(
                    payload[pos : pos + bsize],
                    st,
                    fbuf,
                    cap,
                    0,  # matches may reach into the seeded dict history
                )
                pos += bsize
            else:
                raise ValueError("reserved block type")
            if last:
                break
        produced = len(fbuf) - prefix
        if content_size is not None and produced != content_size:
            raise ValueError(
                f"frame produced {produced}, declared {content_size}"
            )
        if checksum:
            if pos + 4 > n:
                raise ValueError("truncated content checksum")
            (want,) = struct.unpack_from("<I", payload, pos)
            pos += 4
            got = xxh64(bytes(fbuf[prefix:])) & 0xFFFFFFFF
            if got != want:
                raise ValueError("zstd content checksum mismatch")
        out += fbuf[prefix:]
    if not saw_frame:
        raise ValueError("no zstd frames in payload")
    return bytes(out)
