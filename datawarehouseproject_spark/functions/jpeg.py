"""Baseline JPEG codec (stdlib + numpy only) for the multimodal path.

The dominant real-world image format, previously the engine's one
documented extension point (SURVEY §8.4): baseline sequential JFIF —
marker segments, Annex-K-style huffman tables, zigzag run/size
entropy coding with byte stuffing, dequantization, and a
numpy-vectorized 8×8 IDCT over all blocks at once. Encoder and
decoder are both here because the test harness synthesizes its own
deterministic JPEGs (same scaffolding pattern as
:mod:`.png` / :mod:`.gif`); the operator under test is the DECODE.

Supported profile (what the encoder emits; decoder raises on the
rest, per payload):

- SOF0 baseline sequential, 8-bit samples;
- 1 (grayscale) or 3 (YCbCr) components with sampling factors 1 or 2
  per axis: 4:4:4, 4:2:2 (2×1 luma) and 4:2:0 (2×2 luma) — the
  profile virtually every real-world photo uses — via the general
  interleaved-MCU walk + box-filter chroma downsample on encode and
  nearest-neighbor chroma upsample on decode (VERDICT r6 item 1);
- restart intervals (DRI + RSTn markers, byte-aligned, DC predictor
  reset, modulo-8 sequence checked) — the error-resilience feature
  camera encoders emit by default;
- PROGRESSIVE mode (SOF2, ITU T.81 Annex G): multi-scan decode with
  spectral selection (per-band AC scans, non-interleaved) and
  successive approximation (point-transformed first scans + DC/AC
  refinement scans with EOB-run and correction-bit semantics) — the
  profile a large share of web-delivered JPEGs use. The progressive
  ENCODER emits a libjpeg-style 10-scan script but always codes
  end-of-band as EOB0, so the Annex K tables need no EOBn symbols;
  the DECODER handles general EOBn runs;
- 8-bit quantization tables; no arithmetic coding, no hierarchical
  or lossless modes. APPn/COM segments are skipped.

Exactness contract for the oracle-checked query: JPEG is lossy, so
the registry query synthesizes images whose 8×8 blocks are CONSTANT
gray values. A constant block's DCT is DC-only (AC quantizes to 0),
the DC quant step is 1, and gray pixels keep Cb=Cr=128 through the
color transform — so the decoded pixels equal the synthesis formula
EXACTLY and DuckDB can recompute every channel sum. The AC/huffman
machinery is pinned separately by exact quantized-coefficient
round-trip tests (entropy decode must reproduce the encoder's
coefficients bit-for-bit; that part of JPEG is lossless).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Tables: zigzag order, quantization (DC step forced to 1 so DC-only
# blocks round-trip exactly), and the JPEG Annex K huffman tables
# (the standard's own example tables — what virtually every encoder
# ships).
# ---------------------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

_Q_LUMA = np.array(
    [
        1, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
)  # Annex K luminance with Q[0] (DC) set to 1

_Q_CHROMA = np.array(
    [
        1, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
)  # Annex K chrominance with Q[0] (DC) set to 1

# Annex K huffman specs: (BITS counts per code length 1..16, HUFFVAL)
_DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _build_codes(spec: tuple[list[int], list[int]]) -> dict[int, tuple[int, int]]:
    """JPEG canonical code assignment: symbol -> (code, length)."""
    bits, vals = spec
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode_table(spec: tuple[list[int], list[int]]):
    """Canonical decode tables (mincode/maxcode/valptr/huffval — the
    T.81 F.16 DECODE structure) built from a DHT spec.

    r15: replaces the (length, code)->symbol dict probed per BIT; the
    limit-walk in :func:`_read_symbol` decodes the identical symbol
    for every reachable code because both derive from the same
    canonical assignment (``_build_codes`` still runs first so a
    malformed spec raises exactly as before).  Results are memoized
    per spec — real streams reuse the four Annex K tables, and the
    rebuild cost (~0.3 ms/payload) was pure overhead."""
    key = (tuple(spec[0]), tuple(spec[1]))
    memo = _DEC_TABLE_MEMO.get(key)
    if memo is not None:
        return memo
    _build_codes(spec)  # error behavior identical to the dict builder
    bits, vals = spec
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code = 0
    k = 0
    for ln in range(1, 17):
        cnt = bits[ln - 1]
        if cnt:
            valptr[ln] = k
            mincode[ln] = code
            code += cnt
            k += cnt
            maxcode[ln] = code - 1
        code <<= 1
    table = (maxcode, mincode, valptr, list(vals))
    if len(_DEC_TABLE_MEMO) < 64:  # fuzzed streams can't grow it unboundedly
        _DEC_TABLE_MEMO[key] = table
    return table


_DEC_TABLE_MEMO: dict = {}


_ENC_TABLES = {
    ("dc", 0): _build_codes(_DC_LUMA_SPEC),
    ("dc", 1): _build_codes(_DC_CHROMA_SPEC),
    ("ac", 0): _build_codes(_AC_LUMA_SPEC),
    ("ac", 1): _build_codes(_AC_CHROMA_SPEC),
}

# orthonormal 8×8 DCT-II basis; IDCT is the transpose
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = np.cos((2 * _x + 1) * _u * np.pi / 16) * (
            np.sqrt(1 / 8) if _u == 0 else np.sqrt(2 / 8)
        )


def _dct2(blocks: np.ndarray) -> np.ndarray:
    """Forward 2D DCT over (n, 8, 8) stacks in one einsum."""
    return np.einsum("ux,nxy,vy->nuv", _C, blocks, _C)


def _idct2(blocks: np.ndarray) -> np.ndarray:
    """Inverse 2D DCT over (n, 8, 8) stacks in one einsum — the
    'numpy-vectorized per MCU' hot loop: every block of the image in
    a single matmul chain, no per-pixel Python."""
    return np.einsum("ux,nuv,vy->nxy", _C, blocks, _C)


def _to_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad a (h, w) plane to 8-multiples by edge replication and cut
    into (n_blocks, 8, 8) raster order."""
    h, w = plane.shape
    bh, bw = -(-h // 8), -(-w // 8)
    padded = _pad_to(plane, bh * 8, bw * 8)
    return (
        padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8),
        bh,
        bw,
    )


def _from_blocks(blocks: np.ndarray, bh: int, bw: int, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)[:h, :w]
    )


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
        # truncate the Python-int accumulator to the pending bits —
        # without this it grows by 8 bits per emitted byte and bit
        # I/O goes O(n^2) over the whole entropy segment (ADVICE r6)
        self.acc &= (1 << self.nbits) - 1

    def byte_align(self) -> None:
        """Pad the pending bits to a byte boundary with 1-bits (the
        spec's fill), e.g. before a restart marker."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def emit_rst(self, m: int) -> None:
        """Byte-align and write the RSTm marker (markers are raw —
        never byte-stuffed)."""
        self.byte_align()
        self.buf += bytes([0xFF, 0xD0 + (m & 7)])

    def flush(self) -> bytes:
        self.byte_align()
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude_bits(v: int, cat: int) -> int:
    """JPEG signed-magnitude: negatives stored as v - 1 in cat bits."""
    return v if v >= 0 else v + (1 << cat) - 1


def _encode_blocks(
    writer: _BitWriter, qblocks, table_id: int, pred: int
) -> int:
    """Entropy-encode quantized (n, 64) zigzag blocks (numpy array or
    a list of 64-int lists); returns the new DC predictor.

    r15: coefficients are walked as plain Python ints — per-element
    numpy scalar extraction (``int(blk[i])``) plus the per-block
    ``np.any``/``np.nonzero`` pair was half the baseline-encode
    profile.  The bit layout produced is unchanged."""
    dc_codes = _ENC_TABLES[("dc", table_id)]
    ac_codes = _ENC_TABLES[("ac", table_id)]
    if isinstance(qblocks, np.ndarray):
        qblocks = qblocks.tolist()
    write = writer.write
    for blk in qblocks:
        dc = blk[0]
        diff = dc - pred
        pred = dc
        cat = _category(diff)
        code, ln = dc_codes[cat]
        write(code, ln)
        if cat:
            write(_amplitude_bits(diff, cat), cat)
        run = 0
        last_nz = 0
        for i in range(63, 0, -1):  # last nonzero AC index, else 0
            if blk[i]:
                last_nz = i
                break
        for i in range(1, last_nz + 1):
            v = blk[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                write(code, ln)
                run -= 16
            cat = _category(v)
            code, ln = ac_codes[(run << 4) | cat]
            write(code, ln)
            write(_amplitude_bits(v, cat), cat)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[0x00]  # EOB
            write(code, ln)
    return pred


def _marker(tag: int, payload: bytes) -> bytes:
    return struct.pack(">HH", tag, len(payload) + 2) + payload


def _dht_payload(tc_th: int, spec: tuple[list[int], list[int]]) -> bytes:
    bits, vals = spec
    return bytes([tc_th] + bits + vals)


#: luma sampling factors (h, v) per named subsampling profile;
#: chroma is always 1×1, so "420" halves chroma in both axes.
_SUBSAMPLING = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}


def _pad_to(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicating pad to (ph, pw) — manual slicing instead of
    ``np.pad(mode="edge")`` (r15: np.pad's generic machinery was 19%
    of the encode profile at these tiny plane sizes); values are
    identical (right edge, bottom edge, and corner all replicate the
    nearest edge sample)."""
    h, w = plane.shape
    if ph == h and pw == w:
        return plane
    out = np.empty((ph, pw), dtype=plane.dtype)
    out[:h, :w] = plane
    if pw > w:
        out[:h, w:] = plane[:, -1:]
    if ph > h:
        out[h:, :] = out[h - 1 : h, :]
    return out


def _frame_setup(pixels: np.ndarray, gray: bool, subsampling: str):
    """Shared encoder front half: color transform, sampling plan,
    MCU geometry, and the per-component QUANTIZED zigzag block grids
    (downsample by box average, pad to full MCU coverage, vectorized
    DCT + quantize). Returns (h, w, n_comp, samp, qtabs, hmax, vmax,
    mcx, mcy, qgrids) where qgrids[ci] is (rows, cols, 64)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if subsampling not in _SUBSAMPLING:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING)}")
    if gray or arr.ndim == 2:
        if arr.ndim == 3:
            raise ValueError("gray=True expects a (h, w) array")
        planes = [arr.astype(np.float64)]
    else:
        if arr.ndim != 3 or arr.shape[2] != 3:
            raise ValueError("pixels must be (h, w, 3) RGB or (h, w) gray")
        r = arr[..., 0].astype(np.float64)
        g = arr[..., 1].astype(np.float64)
        b = arr[..., 2].astype(np.float64)
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b,
        ]
    h, w = planes[0].shape
    n_comp = len(planes)
    qtabs = [_Q_LUMA] + ([_Q_CHROMA] if n_comp == 3 else [])
    lh, lv = _SUBSAMPLING[subsampling] if n_comp == 3 else (1, 1)
    # per-component sampling factors; hmax/vmax define the MCU grid
    samp = [(lh, lv)] + [(1, 1)] * (n_comp - 1)
    hmax, vmax = lh, lv
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))
    qgrids = []  # (rows_of_blocks, cols_of_blocks, 64) zigzag
    for ci, plane in enumerate(planes):
        hi, vi = samp[ci]
        ry, rx = vmax // vi, hmax // hi  # downsample ratios
        if ry > 1 or rx > 1:
            # pad the full-res plane to ratio multiples, then box
            # average each rx×ry pixel group into one chroma sample
            ph, pw = -(-h // ry) * ry, -(-w // rx) * rx
            p = _pad_to(plane, ph, pw)
            plane = p.reshape(ph // ry, ry, pw // rx, rx).mean(axis=(1, 3))
        gh, gw = mcy * vi, mcx * hi  # block-grid dims for this comp
        padded = _pad_to(plane, gh * 8, gw * 8)
        blocks = (
            padded.reshape(gh, 8, gw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        q = qtabs[min(ci, 1)].reshape(8, 8).astype(np.float64)
        qz = np.round(_dct2(blocks - 128.0) / q).astype(np.int64)
        qgrids.append(qz.reshape(gh, gw, 64)[:, :, ZIGZAG])
    return h, w, n_comp, samp, qtabs, hmax, vmax, mcx, mcy, qgrids


def _encode_headers(
    h: int,
    w: int,
    n_comp: int,
    samp,
    qtabs,
    restart_interval: int,
    sof_tag: int,
) -> bytearray:
    """SOI..DRI headers shared by the baseline (SOF0) and progressive
    (SOF2) encoders."""
    out = bytearray(b"\xff\xd8")  # SOI
    out += _marker(
        0xFFE0, b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    for tid, q in enumerate(qtabs):
        # DQT is serialized in ZIGZAG order per the spec; the decoder
        # multiplies zigzag-order coefficients by these bytes directly
        out += _marker(
            0xFFDB, bytes([tid]) + bytes(int(x) for x in q[ZIGZAG])
        )
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for ci in range(n_comp):
        hi, vi = samp[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, min(ci, 1)])
    out += _marker(sof_tag, sof)
    specs = [(0x00, _DC_LUMA_SPEC), (0x10, _AC_LUMA_SPEC)]
    if n_comp == 3:
        specs += [(0x01, _DC_CHROMA_SPEC), (0x11, _AC_CHROMA_SPEC)]
    for tc_th, spec in specs:
        out += _marker(0xFFC4, _dht_payload(tc_th, spec))
    if restart_interval:
        out += _marker(0xFFDD, struct.pack(">H", restart_interval))
    return out


def encode_jpeg(
    pixels: np.ndarray,
    gray: bool = False,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode an RGB (h, w, 3) or grayscale (h, w) uint8 array as a
    baseline sequential JFIF (Annex K huffman tables, DC quant step
    1). ``subsampling`` is "444", "422" or "420" (luma 1×1 / 2×1 /
    2×2, chroma always 1×1 — the standard profiles); chroma planes
    are box-averaged down. ``restart_interval`` > 0 emits a DRI
    segment and an RSTn marker (byte-aligned, DC predictors reset)
    every that-many MCUs."""
    h, w, n_comp, samp, qtabs, hmax, vmax, mcx, mcy, qgrids = _frame_setup(
        pixels, gray, subsampling
    )
    out = _encode_headers(h, w, n_comp, samp, qtabs, restart_interval, 0xFFC0)
    sos = bytes([n_comp])
    for ci in range(n_comp):
        tid = min(ci, 1)
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += _marker(0xFFDA, sos)
    writer = _BitWriter()
    preds = [0] * n_comp
    rst = 0
    since_rst = 0
    # one tolist per component grid instead of a numpy row slice +
    # newaxis per block (r15) — same values, same MCU walk
    qlists = [g.tolist() for g in qgrids]
    for my in range(mcy):
        for mx in range(mcx):
            if restart_interval and since_rst == restart_interval:
                writer.emit_rst(rst)
                rst = (rst + 1) & 7
                preds = [0] * n_comp
                since_rst = 0
            for ci in range(n_comp):
                hi, vi = samp[ci]
                for by in range(vi):
                    for bx in range(hi):
                        blk = qlists[ci][my * vi + by][mx * hi + bx]
                        preds[ci] = _encode_blocks(
                            writer, [blk], min(ci, 1), preds[ci]
                        )
            since_rst += 1
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: divide by 2^Al truncating toward ZERO
    (T.81 G.1.2.2 — unlike the DC point transform, which is an
    arithmetic shift)."""
    return -((-v) >> al) if v < 0 else v >> al


def _enc_dc_scan(writer, qgrids, comp_list, samp, mcx, mcy, ah, al, ri):
    """Progressive DC scan: first scan (Ah=0) codes the DC values
    arithmetic-shifted by Al as huffman-coded diffs; refinement
    scans (Ah>0) emit one raw bit (bit Al of the DC value) per
    block. Interleaved MCU walk when the scan has >1 component."""
    dc_codes = {ci: _ENC_TABLES[("dc", min(ci, 1))] for ci in comp_list}
    preds = {ci: 0 for ci in comp_list}
    rst = 0
    since_rst = 0
    for my in range(mcy):
        for mx in range(mcx):
            if ri and since_rst == ri:
                writer.emit_rst(rst)
                rst = (rst + 1) & 7
                preds = {ci: 0 for ci in comp_list}
                since_rst = 0
            for ci in comp_list:
                hi, vi = samp[ci]
                for by in range(vi):
                    for bx in range(hi):
                        dc = qgrids[ci][my * vi + by][mx * hi + bx][0]
                        if ah == 0:
                            v = dc >> al  # arithmetic shift per spec
                            diff = v - preds[ci]
                            preds[ci] = v
                            cat = _category(diff)
                            code, ln = dc_codes[ci][cat]
                            writer.write(code, ln)
                            if cat:
                                writer.write(_amplitude_bits(diff, cat), cat)
                        else:
                            writer.write((dc >> al) & 1, 1)
            since_rst += 1


def _enc_ac_first_block(writer, ac_codes, blk, ss, se, al):
    """One block of an AC first scan: run/size coding of the point-
    transformed band; end-of-band always coded as EOB0 (legal — an
    EOB run of one), so the Annex K tables need no EOBn symbols.
    ``blk`` is a plain list of 64 ints (r15 — see _enc_ac_scan)."""
    band = [_pt_ac(v, al) for v in blk[ss : se + 1]]
    last = -1
    for i, v in enumerate(band):
        if v:
            last = i
    if last < 0:
        code, ln = ac_codes[0x00]
        writer.write(code, ln)
        return
    run = 0
    for i in range(last + 1):
        v = band[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        cat = _category(v)
        code, ln = ac_codes[(run << 4) | cat]
        writer.write(code, ln)
        writer.write(_amplitude_bits(v, cat), cat)
        run = 0
    if last < se - ss:
        code, ln = ac_codes[0x00]
        writer.write(code, ln)


def _enc_ac_refine_block(writer, ac_codes, blk, ss, se, al):
    """One block of an AC refinement scan (T.81 G.1.2.3): newly-
    nonzero coefficients (|v|>>Al == 1) are coded as run/1 symbols
    plus a sign bit; already-nonzero coefficients contribute one
    buffered correction bit each, emitted after the next symbol;
    trailing content folds into EOB0."""
    absv = [abs(v) >> al for v in blk[ss : se + 1]]
    eob_idx = -1  # index of the LAST newly-nonzero coefficient
    for i, t in enumerate(absv):
        if t == 1:
            eob_idx = i
    run = 0
    pending: list[int] = []  # correction bits since the last symbol
    for i, t in enumerate(absv):
        if t == 0:
            run += 1
            continue
        # ZRLs are only needed before the last new coefficient;
        # beyond it, zeros fold into the final EOB
        while run > 15 and i <= eob_idx:
            code, ln = ac_codes[0xF0]
            writer.write(code, ln)
            run -= 16
            for b in pending:
                writer.write(b, 1)
            pending = []
        if t > 1:  # already nonzero: just the next magnitude bit
            pending.append(t & 1)
            continue
        code, ln = ac_codes[(run << 4) | 1]
        writer.write(code, ln)
        writer.write(1 if blk[ss + i] >= 0 else 0, 1)
        for b in pending:
            writer.write(b, 1)
        pending = []
        run = 0
    if run > 0 or pending:
        code, ln = ac_codes[0x00]  # EOB0
        writer.write(code, ln)
        for b in pending:
            writer.write(b, 1)


def _enc_ac_scan(writer, grid, rows, cols, ss, se, ah, al, table_id, ri):
    """Progressive AC scan over one component's TRUE (unpadded)
    block grid (nested lists, see encode_jpeg_progressive),
    non-interleaved per spec."""
    ac_codes = _ENC_TABLES[("ac", table_id)]
    rst = 0
    since_rst = 0
    for row in range(rows):
        for col in range(cols):
            if ri and since_rst == ri:
                writer.emit_rst(rst)
                rst = (rst + 1) & 7
                since_rst = 0
            blk = grid[row][col]
            if ah == 0:
                _enc_ac_first_block(writer, ac_codes, blk, ss, se, al)
            else:
                _enc_ac_refine_block(writer, ac_codes, blk, ss, se, al)
            since_rst += 1


#: libjpeg-style default progressive scan scripts: DC of every
#: component at Al=1, luma AC split into a low band (1-5) and the
#: rest, chroma AC whole-band, then successive-approximation
#: refinements down to Al=0. (comp_list, Ss, Se, Ah, Al) per scan.
_PROG_SCRIPT_COLOR = [
    ([0, 1, 2], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2),
    ([1], 1, 63, 0, 1),
    ([2], 1, 63, 0, 1),
    ([0], 6, 63, 0, 2),
    ([0], 1, 63, 2, 1),
    ([0, 1, 2], 0, 0, 1, 0),
    ([1], 1, 63, 1, 0),
    ([2], 1, 63, 1, 0),
    ([0], 1, 63, 1, 0),
]
_PROG_SCRIPT_GRAY = [
    ([0], 0, 0, 0, 1),
    ([0], 1, 5, 0, 2),
    ([0], 6, 63, 0, 2),
    ([0], 1, 63, 2, 1),
    ([0], 0, 0, 1, 0),
    ([0], 1, 63, 1, 0),
]


def encode_jpeg_progressive(
    pixels: np.ndarray,
    gray: bool = False,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode as a PROGRESSIVE JPEG (SOF2, T.81 Annex G): the same
    quantized coefficients as :func:`encode_jpeg`, delivered across
    a libjpeg-style 10-scan (6 for grayscale) script with spectral
    selection and successive approximation. End-of-band is always
    coded EOB0 so the Annex K tables suffice (the decoder handles
    general EOBn). ``restart_interval`` applies per scan: every
    ``ri`` MCUs in DC scans, every ``ri`` BLOCKS in the
    non-interleaved AC scans, as the spec defines."""
    h, w, n_comp, samp, qtabs, hmax, vmax, mcx, mcy, qgrids = _frame_setup(
        pixels, gray, subsampling
    )
    out = _encode_headers(h, w, n_comp, samp, qtabs, restart_interval, 0xFFC2)
    script = _PROG_SCRIPT_COLOR if n_comp == 3 else _PROG_SCRIPT_GRAY
    # one tolist per component grid: the scan loops then walk plain
    # Python ints (r15 — per-coefficient numpy scalar extraction was
    # 40% of the progressive-encode profile); same bits out
    qgrids = [g.tolist() for g in qgrids]
    for comp_list, ss, se, ah, al in script:
        sos = bytes([len(comp_list)])
        for ci in comp_list:
            tid = min(ci, 1)
            sos += bytes([ci + 1, (tid << 4) | tid])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _marker(0xFFDA, sos)
        writer = _BitWriter()
        if ss == 0:
            _enc_dc_scan(
                writer, qgrids, comp_list, samp, mcx, mcy, ah, al,
                restart_interval,
            )
        else:
            ci = comp_list[0]
            hi, vi = samp[ci]
            rows, cols, _stride = _comp_block_dims(
                h, w, hi, vi, hmax, vmax, mcx
            )
            _enc_ac_scan(
                writer, qgrids[ci], rows, cols, ss, se, ah, al,
                min(ci, 1), restart_interval,
            )
        out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with
    0xFF00 byte-unstuffing; stops at any real marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        p = self.pos
        if p >= len(d):
            raise ValueError("truncated JPEG entropy data")
        byte = d[p]
        if byte == 0xFF:
            if p + 1 < len(d) and d[p + 1] == 0x00:
                self.pos = p + 2
            else:
                raise ValueError("hit marker inside entropy data")
        else:
            self.pos = p + 1
        # mask before shifting in the new byte: keeps the accumulator
        # bounded (stale consumed bits otherwise pile up forever and
        # make every shift O(segment length) — ADVICE r6)
        self.acc = (((self.acc & ((1 << self.nbits) - 1)) << 8)) | byte
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self, expected_m: int) -> None:
        """Consume an RSTm marker at a restart boundary: discard the
        fill bits to the byte boundary, check the marker cycles
        mod 8 as the spec requires, and resume clean."""
        self.acc = 0
        self.nbits = 0
        d, p = self.data, self.pos
        if p + 2 > len(d) or d[p] != 0xFF:
            raise ValueError("expected restart marker")
        tag = d[p + 1]
        if not (0xD0 <= tag <= 0xD7):
            raise ValueError(f"expected RSTn, found marker 0x{tag:02x}")
        if tag - 0xD0 != (expected_m & 7):
            raise ValueError(
                f"restart marker out of sequence: RST{tag - 0xD0}, "
                f"expected RST{expected_m & 7}"
            )
        self.pos = p + 2


def _read_symbol(reader: _BitReader, table) -> int:
    """Canonical limit walk (T.81 F.16): extend the code one bit at a
    time until it falls inside its length's [mincode, maxcode] range.
    Identical symbols and identical 16-bit failure point as the old
    per-length dict probe; bits are drained from the reader's
    accumulator locally to avoid a method call per bit (r15)."""
    maxcode, mincode, valptr, huffval = table
    acc = reader.acc
    nbits = reader.nbits
    code = 0
    for length in range(1, 17):
        if nbits == 0:
            reader.nbits = 0
            reader._fill()
            acc = reader.acc
            nbits = reader.nbits
        nbits -= 1
        code = (code << 1) | ((acc >> nbits) & 1)
        if code <= maxcode[length]:
            reader.nbits = nbits
            return huffval[valptr[length] + code - mincode[length]]
    reader.nbits = nbits
    raise ValueError("invalid huffman code in JPEG stream")


def _extend(bits: int, cat: int) -> int:
    """Undo signed-magnitude: values with MSB 0 are negative."""
    if cat == 0:
        return 0
    if bits < (1 << (cat - 1)):
        return bits - (1 << cat) + 1
    return bits


def _next_marker(data: bytes, pos: int) -> int:
    """Scan forward from ``pos`` to the next real marker (0xFF
    followed by a non-0x00, non-fill byte) after an entropy-coded
    segment ends. End-of-payload with no marker is treated as an
    implicit EOI (``len(data)`` returned): a stream whose scan data
    decoded completely but whose trailing EOI was cut off —
    interrupted transfers, common in crawled corpora — still yields
    its pixels (review r8 pass 2: the multi-scan rewrite had
    regressed this vs the single-scan parser). Truncation INSIDE
    scan data still raises, from the bit reader."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] != 0x00:
            while pos + 1 < n and data[pos + 1] == 0xFF:  # fill bytes
                pos += 1
            return pos
        pos += 1
    return n


def _parse_sof(body: bytes):
    prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
    if prec != 8:
        raise ValueError("only 8-bit JPEG supported")
    comps = []
    for ci in range(nc):
        cid, sampling, tq = body[6 + ci * 3 : 9 + ci * 3]
        hi, vi = sampling >> 4, sampling & 0xF
        if hi not in (1, 2, 4) or vi not in (1, 2, 4):
            raise ValueError(f"sampling factors {hi}x{vi} out of range")
        comps.append((cid, hi, vi, tq))
    if not (1 <= len(comps) <= 3):
        raise ValueError("1 or 3 components supported")
    if len(comps) == 1 and comps[0][1] * comps[0][2] != 1:
        # a single-component scan is non-interleaved per spec (MCU =
        # one data unit, sampling ignored); only 1×1 grayscale is
        # meaningful for this profile
        raise ValueError("grayscale JPEG must use 1x1 sampling")
    return h, w, comps


def _parse_sos(body: bytes):
    """SOS header -> ([(cid, TdTa)], Ss, Se, Ah, Al). Baseline scans
    carry Ss=0 Se=63 Ah=Al=0; progressive scans use all four."""
    nc = body[0]
    if len(body) < 4 + 2 * nc:
        raise ValueError("truncated SOS header")
    comps = [(body[1 + 2 * i], body[2 + 2 * i]) for i in range(nc)]
    ss, se, ahal = body[1 + 2 * nc], body[2 + 2 * nc], body[3 + 2 * nc]
    return comps, ss, se, ahal >> 4, ahal & 0xF


def _scan_tables(state, scan_comps, comps, need_dc, need_ac):
    """Resolve (comp_index, dc_table, ac_table) per scan component,
    validating against the frame's component list."""
    index = {cid: i for i, (cid, _hi, _vi, _tq) in enumerate(comps)}
    out = []
    for cid, td_ta in scan_comps:
        ci = index.get(cid)
        if ci is None:
            raise ValueError(f"SOS references unknown component id {cid}")
        dc_tab = state["huff"].get((0, td_ta >> 4)) if need_dc else None
        ac_tab = state["huff"].get((1, td_ta & 0xF)) if need_ac else None
        if (need_dc and dc_tab is None) or (need_ac and ac_tab is None):
            raise ValueError("missing huffman table for scan")
        out.append((ci, dc_tab, ac_tab))
    return out


def _decode_baseline_scan(payload, pos, state, coeff):
    """Decode the single interleaved baseline scan (all components,
    full 0..63 band); returns the next marker offset."""
    h, w, comps = state["frame"]
    hmax, vmax, mcx, mcy = _mcu_geometry(h, w, comps)
    tabs = {
        ci: (dc, ac)
        for ci, dc, ac in _scan_tables(
            state, state["scan"], comps, need_dc=True, need_ac=True
        )
    }
    if len(tabs) != len(comps):
        raise ValueError("baseline scan must include every component")
    reader = _BitReader(payload, pos)
    ri = state.get("ri", 0)
    preds = [0] * len(comps)
    rst = 0
    since_rst = 0
    for my in range(mcy):
        for mx in range(mcx):
            if ri and since_rst == ri:
                reader.restart(rst)
                rst = (rst + 1) & 7
                preds = [0] * len(comps)
                since_rst = 0
            for ci, (_cid, hi, vi, _tq) in enumerate(comps):
                dc_tab, ac_tab = tabs[ci]
                for by in range(vi):
                    for bx in range(hi):
                        row = my * vi + by
                        col = mx * hi + bx
                        blk = coeff[ci][row * (mcx * hi) + col]
                        cat = _read_symbol(reader, dc_tab)
                        diff = _extend(reader.read_bits(cat), cat)
                        preds[ci] += diff
                        blk[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = _read_symbol(reader, ac_tab)
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            run, cat = rs >> 4, rs & 0xF
                            k += run
                            if k > 63:
                                raise ValueError("AC run past end of block")
                            blk[k] = _extend(reader.read_bits(cat), cat)
                            k += 1
            since_rst += 1
    return _next_marker(payload, reader.pos)


def _ac_first_block(reader, blk, ac_tab, ss, se, al, eobrun):
    """One block of a progressive AC FIRST scan (Ah=0): T.81 G.1.2.2
    run/size coding with end-of-band (EOBn) runs and the Al point
    transform; returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_symbol(reader, ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s:
            k += r
            if k > se:
                raise ValueError("AC run past end of band")
            blk[k] = _extend(reader.read_bits(s), s) << al
            k += 1
        elif r != 15:
            eobrun = (1 << r) - 1  # this block counts as one of 2^r
            if r:
                eobrun += reader.read_bits(r)
            return eobrun
        else:
            k += 16  # ZRL
    return 0


def _ac_refine_block(reader, blk, ac_tab, ss, se, al, eobrun):
    """One block of a progressive AC REFINEMENT scan (Ah=Al+1): T.81
    G.1.2.3 — newly-nonzero coefficients arrive as ±1 in the Al bit
    position; already-nonzero coefficients receive one correction
    bit each as the band is traversed; EOB runs cover all-zero
    remainders. Returns the remaining EOB run."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_symbol(reader, ac_tab)
            r, s = rs >> 4, rs & 0xF
            if s:
                if s != 1:
                    raise ValueError(
                        "refinement scan coefficient size must be 1"
                    )
                newval = p1 if reader.read_bit() else m1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.read_bits(r)
                break
            else:
                newval = 0  # ZRL: skip 16 zero-history coefficients
            # advance over r zero-history coefficients, appending one
            # correction bit to each already-nonzero coefficient passed
            while k <= se:
                if blk[k] != 0:
                    if reader.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        # the EOB run still owes correction bits for every nonzero
        # coefficient in the rest of THIS block's band
        while k <= se:
            if blk[k] != 0:
                if reader.read_bit() and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_scan(payload, pos, state, coeff, ss, se, ah, al):
    """Decode one progressive scan (DC or AC band, first or
    refinement); returns the next marker offset."""
    h, w, comps = state["frame"]
    hmax, vmax, mcx, mcy = _mcu_geometry(h, w, comps)
    scan_comps = state["scan"]
    reader = _BitReader(payload, pos)
    ri = state.get("ri", 0)
    rst = 0
    since_rst = 0
    if ss == 0:
        # DC scan: Se must be 0; interleaved when >1 component
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        tabs = _scan_tables(
            state, scan_comps, comps, need_dc=(ah == 0), need_ac=False
        )
        preds = [0] * len(tabs)
        if len(tabs) > 1:
            members = []
            for si, (ci, dc_tab, _ac) in enumerate(tabs):
                _cid, hi, vi, _tq = comps[ci]
                members.append((si, ci, hi, vi, dc_tab))
            for my in range(mcy):
                for mx in range(mcx):
                    if ri and since_rst == ri:
                        reader.restart(rst)
                        rst = (rst + 1) & 7
                        preds = [0] * len(tabs)
                        since_rst = 0
                    for si, ci, hi, vi, dc_tab in members:
                        for by in range(vi):
                            for bx in range(hi):
                                row = my * vi + by
                                col = mx * hi + bx
                                blk = coeff[ci][row * (mcx * hi) + col]
                                if ah == 0:
                                    cat = _read_symbol(reader, dc_tab)
                                    diff = _extend(
                                        reader.read_bits(cat), cat
                                    )
                                    preds[si] += diff
                                    blk[0] = preds[si] << al
                                elif reader.read_bit():
                                    blk[0] |= 1 << al
                    since_rst += 1
            return _next_marker(payload, reader.pos)
        # single-component DC scan: non-interleaved block walk
        ci, dc_tab, _ac = tabs[0]
        _cid, hi, vi, _tq = comps[ci]
        rows, cols, stride = _comp_block_dims(h, w, hi, vi, hmax, vmax, mcx)
        for row in range(rows):
            for col in range(cols):
                if ri and since_rst == ri:
                    reader.restart(rst)
                    rst = (rst + 1) & 7
                    preds = [0]
                    since_rst = 0
                blk = coeff[ci][row * stride + col]
                if ah == 0:
                    cat = _read_symbol(reader, dc_tab)
                    preds[0] += _extend(reader.read_bits(cat), cat)
                    blk[0] = preds[0] << al
                elif reader.read_bit():
                    blk[0] |= 1 << al
                since_rst += 1
        return _next_marker(payload, reader.pos)
    # AC scan: spec requires exactly one component, non-interleaved
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scans must be single-component")
    if not (ss <= se <= 63):
        raise ValueError("bad spectral band")
    (ci, _dc, ac_tab), = _scan_tables(
        state, scan_comps, comps, need_dc=False, need_ac=True
    )
    _cid, hi, vi, _tq = comps[ci]
    rows, cols, stride = _comp_block_dims(h, w, hi, vi, hmax, vmax, mcx)
    eobrun = 0
    for row in range(rows):
        for col in range(cols):
            if ri and since_rst == ri:
                reader.restart(rst)
                rst = (rst + 1) & 7
                since_rst = 0
                eobrun = 0
            blk = coeff[ci][row * stride + col]
            if ah == 0:
                eobrun = _ac_first_block(
                    reader, blk, ac_tab, ss, se, al, eobrun
                )
            else:
                eobrun = _ac_refine_block(
                    reader, blk, ac_tab, ss, se, al, eobrun
                )
            since_rst += 1
    return _next_marker(payload, reader.pos)


def _comp_block_dims(h, w, hi, vi, hmax, vmax, mcx):
    """Non-interleaved block dims for one component: the TRUE
    ceil(sample/8) grid (edge padding blocks exist only in the
    interleaved storage grid and are never coded non-interleaved),
    plus the storage row stride."""
    ch = -(-h * vi // vmax)
    cw = -(-w * hi // hmax)
    return -(-ch // 8), -(-cw // 8), mcx * hi


def _mcu_geometry(h: int, w: int, comps):
    """(hmax, vmax, mcx, mcy) for the interleaved-MCU grid."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for _cid, hi, vi, _tq in comps:
        if hmax % hi or vmax % vi:
            raise ValueError(
                f"non-integer sampling ratio {hi}x{vi} vs {hmax}x{vmax}"
            )
    return hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax))


def decode_jpeg_coefficients(payload: bytes):
    """Entropy-decode to QUANTIZED coefficient blocks — the lossless
    half of JPEG, exposed for bit-exact round-trip tests: whatever
    integers the encoder wrote must come back identically. Handles
    arbitrary 1/2/4 sampling factors (the interleaved-MCU walk:
    hi×vi blocks per component per MCU, raster within the MCU),
    restart intervals (byte-aligned RSTn + DC predictor reset every
    ``ri`` MCUs), and PROGRESSIVE (SOF2) multi-scan streams —
    spectral selection and successive approximation accumulate into
    the same coefficient grids across scans. Returns (height, width,
    [per-component (n_blocks, 64) zigzag-order arrays in block-grid
    raster order], state); ``state["progressive"]`` says which frame
    type was decoded. All malformed-payload failures surface as
    ``ValueError`` (the permissive-mode quarantine contract), never
    ``struct.error``/``IndexError``."""
    try:
        return _decode_all_scans(payload)
    except (struct.error, IndexError, OverflowError) as e:
        # OverflowError: a malformed DHT can define symbols >= 64,
        # making read_bits() produce values too large for the int64
        # coefficient store (review r8 pass 1 — fuzz-found); all
        # three escape routes collapse to the quarantine ValueError
        raise ValueError(f"malformed JPEG segment structure: {e}") from e


def _decode_all_scans(payload: bytes):
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    state: dict = {
        "qt": {},
        "huff": {},
        "frame": None,
        "scan": None,
        "ri": 0,
        "progressive": False,
    }
    coeff = None
    n_scans = 0
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        tag = payload[pos + 1]
        if tag == 0xD9:  # EOI
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated marker segment")
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        if tag == 0xDB:  # DQT
            bp = 0
            while bp < len(body):
                pq_tq = body[bp]
                if pq_tq >> 4 != 0:
                    raise ValueError("16-bit quant tables unsupported")
                state["qt"][pq_tq & 0xF] = np.frombuffer(
                    body, dtype=np.uint8, count=64, offset=bp + 1
                ).astype(np.int64)
                bp += 65
        elif tag == 0xC4:  # DHT (may also appear between scans)
            bp = 0
            while bp < len(body):
                tc_th = body[bp]
                bits = list(body[bp + 1 : bp + 17])
                nv = sum(bits)
                vals = list(body[bp + 17 : bp + 17 + nv])
                state["huff"][(tc_th >> 4, tc_th & 0xF)] = (
                    _build_decode_table((bits, vals))
                )
                bp += 17 + nv
        elif tag in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if state["frame"] is not None:
                raise ValueError("multiple SOF markers")
            state["frame"] = _parse_sof(body)
            state["progressive"] = tag == 0xC2
            h, w, comps = state["frame"]
            hmax, vmax, mcx, mcy = _mcu_geometry(h, w, comps)
            # per-component block grid: (mcy*vi) rows × (mcx*hi) cols.
            # Plain lists during entropy decode (r15 — per-coefficient
            # numpy scalar reads/writes were the scan-loop profile);
            # converted to int64 arrays at the end, INSIDE the
            # OverflowError->ValueError quarantine, so a malformed DHT
            # whose oversized category produces a >int64 coefficient
            # still collapses to the same ValueError as the array
            # store's assignment did.
            coeff = [
                [[0] * 64 for _ in range(mcy * vi * mcx * hi)]
                for _cid, hi, vi, _tq in comps
            ]
        elif tag in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                     0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0) and progressive (SOF2) supported"
            )
        elif tag == 0xDD:  # DRI
            (ri,) = struct.unpack_from(">H", body, 0)
            state["ri"] = ri
        elif tag == 0xDA:  # SOS
            if state["frame"] is None:
                raise ValueError("SOS before SOF frame header")
            scan_comps, ss, se, ah, al = _parse_sos(body)
            state["scan"] = scan_comps
            data_pos = pos + 2 + seglen
            if state["progressive"]:
                pos = _decode_progressive_scan(
                    payload, data_pos, state, coeff, ss, se, ah, al
                )
            else:
                if (ss, se, ah, al) != (0, 63, 0, 0):
                    raise ValueError(
                        "baseline scan must cover band 0..63 with no "
                        "successive approximation"
                    )
                pos = _decode_baseline_scan(payload, data_pos, state, coeff)
            n_scans += 1
            continue
        # APPn / COM / anything else: skip
        pos += 2 + seglen
    if state["frame"] is None:
        raise ValueError("missing SOF frame header")
    if n_scans == 0:
        raise ValueError("no SOS marker found")
    h, w, _comps = state["frame"]
    # list -> int64 arrays (the API callers and tests see, unchanged);
    # raises OverflowError inside the caller's quarantine for
    # coefficients a malformed stream pushed past int64
    coeff = [
        np.asarray(c, dtype=np.int64).reshape(len(c), 64) for c in coeff
    ]
    return h, w, coeff, state


def decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline JPEG to (width, height, RGB uint8 array).

    Entropy decode per MCU (sequential by nature), then everything
    heavy — dequantization, un-zigzag, the 8×8 IDCT over every block
    of the image at once, level shift, clamp, and YCbCr→RGB — runs
    as whole-image numpy array math. Subsampled chroma planes are
    upsampled by pixel replication (nearest neighbor — what the spec
    suggests and what keeps constant chroma exact). Grayscale
    payloads replicate luma into all three channels."""
    h, w, coeff, state = decode_jpeg_coefficients(payload)
    _h, _w, comps = state["frame"]
    hmax, vmax, mcx, mcy = _mcu_geometry(h, w, comps)
    planes = []
    inv_zig = np.empty(64, dtype=np.int64)
    inv_zig[ZIGZAG] = np.arange(64)
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        q = state["qt"].get(tq)
        if q is None:
            raise ValueError(f"missing quant table {tq}")
        deq = (coeff[ci] * q[np.newaxis, :])[:, inv_zig].reshape(-1, 8, 8)
        spatial = _idct2(deq.astype(np.float64)) + 128.0
        # this component's true sample dims, then upsample to (h, w)
        ch = -(-h * vi // vmax)
        cw = -(-w * hi // hmax)
        plane = _from_blocks(spatial, mcy * vi, mcx * hi, ch, cw)
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
            plane = plane[:h, :w]
        planes.append(plane)
    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return w, h, np.stack([y, y, y], axis=-1)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return w, h, np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_jpeg_features(payload: bytes) -> dict:
    """:func:`..bmp.channel_features` of :func:`decode_jpeg`."""
    from .bmp import channel_features

    return channel_features(*decode_jpeg(payload))


def decode_jpeg_phash(payload: bytes) -> dict:
    """:func:`..bmp.average_hash` of :func:`decode_jpeg`."""
    from .bmp import average_hash

    return average_hash(*decode_jpeg(payload))


# ---------------------------------------------------------------------------
# Deterministic synthesis for the oracle-checked registry query.
# ---------------------------------------------------------------------------


def synth_jpeg_size(seed: int) -> tuple[int, int]:
    """12..33 × 10..34, mostly non-multiples of 8 so edge-block
    padding/cropping is exercised on every run."""
    return 12 + (seed % 4) * 7, 10 + (seed % 5) * 6


def synth_jpeg_pixels(seed: int, width: int, height: int) -> np.ndarray:
    """(h, w, 3) uint8 where every 8×8 block is a constant gray —
    the construction that makes lossy JPEG decode EXACT (DC-only
    blocks, DC quant step 1, gray ⇒ Cb=Cr=128)."""
    x = np.arange(width, dtype=np.int64)[np.newaxis, :]
    y = np.arange(height, dtype=np.int64)[:, np.newaxis]
    v = (seed * 7 + (x // 8) * 13 + (y // 8) * 29) % 256
    g = v.astype(np.uint8)
    return np.stack([g, g, g], axis=-1)


def synth_jpeg(seed: int) -> bytes:
    """Synthesize the deterministic test image for ``seed``."""
    w, h = synth_jpeg_size(seed)
    return encode_jpeg(synth_jpeg_pixels(seed, w, h))


def synth_jpeg420_size(seed: int) -> tuple[int, int]:
    """20..56 × 18..51, mostly non-multiples of 16 so partial edge
    MCUs (the 4:2:0 MCU is 16×16 luma pixels) are exercised on every
    run."""
    return 20 + (seed % 5) * 9, 18 + (seed % 4) * 11


def synth_jpeg420_pixels(seed: int, width: int, height: int) -> np.ndarray:
    """(h, w, 3) uint8 where every 16×16 MACROBLOCK is a constant
    gray — the 4:2:0 exactness construction: all four luma blocks of
    an MCU are constant (DC-only, DC quant step 1 ⇒ exact), gray
    keeps Cb=Cr=128 so the box-averaged chroma is the constant 128
    (DC coefficient exactly 0), and nearest-neighbor upsampling of a
    constant is exact. Mirrored verbatim in the DuckDB oracle as
    ``(seed*11 + (x//16)*17 + (y//16)*23) % 256``."""
    x = np.arange(width, dtype=np.int64)[np.newaxis, :]
    y = np.arange(height, dtype=np.int64)[:, np.newaxis]
    v = (seed * 11 + (x // 16) * 17 + (y // 16) * 23) % 256
    g = v.astype(np.uint8)
    return np.stack([g, g, g], axis=-1)


def synth_jpeg420(seed: int) -> bytes:
    """Deterministic 4:2:0 test image with restart intervals — the
    real-world camera/web profile (2×2 luma sampling, RSTn every 2
    MCUs)."""
    w, h = synth_jpeg420_size(seed)
    return encode_jpeg(
        synth_jpeg420_pixels(seed, w, h),
        subsampling="420",
        restart_interval=2,
    )


def synth_jpeg_progressive_size(seed: int) -> tuple[int, int]:
    """22..50 × 14..59, mostly non-multiples of 16 so partial edge
    MCUs and the padded-vs-true block-grid split (interleaved DC
    scans cover padding blocks, non-interleaved AC scans don't) are
    exercised on every run."""
    return 22 + (seed % 5) * 7, 14 + (seed % 6) * 9


def synth_jpeg_progressive_pixels(seed: int, width: int, height: int) -> np.ndarray:
    """(h, w, 3) uint8 where every 16×16 MACROBLOCK is a constant
    gray — the progressive exactness construction: constant blocks
    are DC-only (exact under DC quant step 1), and successive
    approximation loses nothing because the DC first scan sends
    DC>>1 and the refinement scan restores bit 0, so
    ((dc>>1)<<1)|(dc&1) == dc for every (two's-complement) value.
    All AC coefficients are zero, so every AC scan codes pure
    end-of-band. Mirrored verbatim in the DuckDB oracle as
    ``(seed*13 + (x//16)*19 + (y//16)*31) % 256``."""
    x = np.arange(width, dtype=np.int64)[np.newaxis, :]
    y = np.arange(height, dtype=np.int64)[:, np.newaxis]
    v = (seed * 13 + (x // 16) * 19 + (y // 16) * 31) % 256
    g = v.astype(np.uint8)
    return np.stack([g, g, g], axis=-1)


def synth_jpeg_progressive(seed: int) -> bytes:
    """Deterministic PROGRESSIVE 4:2:0 test image with restart
    intervals — the web-delivery profile (SOF2 10-scan script, 2×2
    luma sampling, RSTn every 3 MCUs/blocks per scan)."""
    w, h = synth_jpeg_progressive_size(seed)
    return encode_jpeg_progressive(
        synth_jpeg_progressive_pixels(seed, w, h),
        subsampling="420",
        restart_interval=3,
    )
