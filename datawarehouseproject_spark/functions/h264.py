"""H.264 Annex B structure codec: NAL walk + exp-Golomb SPS parse.

The video analogue of :mod:`.mpeg_audio`: corpus-scale video
triage needs "what are the dimensions, how many key frames, is the
bitstream intact?" BEFORE any pixel work decides what's worth
transcoding. This is a REAL bit-level parse of the H.264 byte
stream (ITU-T H.264 Annex B, public spec): start-code scan,
emulation-prevention (0x000003) removal, NAL type classification,
and a full exp-Golomb sequence-parameter-set parse that recovers
profile/level and the true picture dimensions (macroblock counts
minus frame cropping). Slice-level macroblock decode (CABAC/CAVLC →
pixels) remains the documented extension point; structure is native.

Round-13 scope note on CAVLC: extending the pixel path past I_PCM
needs the spec's tabulated VLC codebooks (T-REC H.264 Table 9-5
coeff_token over four nC contexts, Tables 9-7/9-8 total_zeros,
Table 9-10 run_before).  This container has no network and no local
copy of those tables, and this repo refuses to fabricate tabulated
spec data from memory: a misremembered codeword would round-trip
against our own encoder (the only producer available here — no
ffmpeg/x264 in the container) and still be confidently WRONG on
every real stream.  The formulaic parts that need no table — the
exp-Golomb layer, slice-header walk, intra-prediction arithmetic,
and the 4x4 integer transform — are the parts implemented; CAVLC
entropy decode stays a LOUD boundary until a verifiable table
source (spec text or an independent encoder) is present in the
environment.

The synthesizer emits a valid stream — SPS (with cropping when the
size isn't a macroblock multiple), PPS, one IDR slice, and a
deterministic number of non-IDR slices — whose payload bytes are
chosen to CONTAIN 0x000001/0x000003-lookalike sequences, so the
escape/unescape machinery is exercised on every document.
"""

from __future__ import annotations

NAL_SPS = 7
NAL_PPS = 8
NAL_IDR = 5
NAL_NON_IDR = 1


class _BitWriter:
    """MSB-first bit assembler on (full-byte buffer, pending-bit
    accumulator) locals — r15: the per-bit list (8 appends per raw
    I_PCM byte, then a per-bit repack in rbsp) was 80% of the h264
    synth profile.  Semantics are unchanged bit for bit."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0  # pending bits, MSB-first, < 1 << nbits
        self.nbits = 0  # 0..7

    def u(self, value: int, n: int) -> None:
        acc = (self.acc << n) | (value & ((1 << n) - 1))
        nbits = self.nbits + n
        buf = self.buf
        while nbits >= 8:
            nbits -= 8
            buf.append((acc >> nbits) & 0xFF)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def ue(self, value: int) -> None:
        """Unsigned exp-Golomb: (leading zeros)·0 + 1 + value+1 bits."""
        code = value + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def se(self, value: int) -> None:
        """Signed exp-Golomb: v>0 -> 2v-1, v<=0 -> -2v."""
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def align_zero(self) -> None:
        """pcm_alignment_zero_bit padding to the next byte boundary."""
        if self.nbits:
            self.u(0, 8 - self.nbits)

    def raw_bytes(self, data: bytes) -> None:
        """Byte-aligned raw samples (I_PCM); caller must align first."""
        if self.nbits == 0:
            self.buf += data
        else:  # unaligned caller: keep the general per-byte path
            for b in data:
                self.u(b, 8)

    def rbsp(self) -> bytes:
        """Close with the RBSP stop bit + alignment, then escape
        (non-mutating, like the list version)."""
        acc = (self.acc << 1) | 1
        nbits = self.nbits + 1
        raw = bytes(self.buf) + bytes([(acc << (8 - nbits) % 8) & 0xFF])
        return _escape(raw)


def _escape(rbsp: bytes) -> bytes:
    """Insert emulation-prevention 0x03 after any 0x0000 that would
    otherwise form 0x000000/0x000001/0x000002/0x000003.

    Scans with C-speed ``find`` over zero pairs instead of per byte
    (r15); equivalence with the stateful per-byte loop (insertion
    resets the zero count) is pinned by the fuzz property test."""
    out = bytearray()
    i = 0
    j = 0
    n = len(rbsp)
    while True:
        j = rbsp.find(b"\x00\x00", j)
        if j < 0 or j + 2 >= n:
            break
        if rbsp[j + 2] <= 3:
            out += rbsp[i : j + 2]
            out.append(3)
            i = j + 2  # zero count resets; the escaped byte starts fresh
            j = i
        else:
            j += 3  # rbsp[j+2] >= 4 is nonzero: no pair ends before j+3
    out += rbsp[i:]
    return bytes(out)


def _unescape(ebsp: bytes) -> bytes:
    # equivalent to the stateful walk (drop 0x03 after each 0x0000):
    # left-to-right non-overlapping replacement consumes exactly the
    # same three bytes and leaves the same reset state — fuzz-pinned
    # against the per-byte reference in tests
    return ebsp.replace(b"\x00\x00\x03", b"\x00\x00")


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            if (self.pos >> 3) >= len(self.data):
                raise ValueError("truncated RBSP bitstream")
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("exp-Golomb code too long")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self) -> None:
        """Consume pcm_alignment_zero_bits to the byte boundary."""
        while self.pos & 7:
            if self.u(1):
                raise ValueError("nonzero pcm_alignment bit")

    def bytes_aligned(self, n: int) -> bytes:
        """Read n byte-aligned raw bytes (I_PCM samples)."""
        if self.pos & 7:
            raise ValueError("raw byte read while not byte-aligned")
        start = self.pos >> 3
        if start + n > len(self.data):
            raise ValueError("truncated I_PCM samples")
        self.pos += 8 * n
        return self.data[start : start + n]


def encode_sps(width: int, height: int) -> bytes:
    """Baseline-profile SPS encoding arbitrary even dimensions via
    macroblock counts + frame cropping (4:2:0 crop units = 2 px)."""
    if width % 2 or height % 2:
        raise ValueError("dimensions must be even (4:2:0 crop units)")
    mb_w = -(-width // 16)
    mb_h = -(-height // 16)
    crop_r = (mb_w * 16 - width) // 2
    crop_b = (mb_h * 16 - height) // 2
    w = _BitWriter()
    w.u(66, 8)  # profile_idc: baseline (no chroma_format block in SPS)
    w.u(0, 8)  # constraint flags + reserved
    w.u(30, 8)  # level_idc 3.0
    w.ue(0)  # seq_parameter_set_id
    w.ue(4)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type = 2 (no extra fields)
    w.ue(1)  # max_num_ref_frames
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(mb_w - 1)  # pic_width_in_mbs_minus1
    w.ue(mb_h - 1)  # pic_height_in_map_units_minus1
    w.u(1, 1)  # frame_mbs_only_flag
    w.u(0, 1)  # direct_8x8_inference_flag
    if crop_r or crop_b:
        w.u(1, 1)  # frame_cropping_flag
        w.ue(0)
        w.ue(crop_r)
        w.ue(0)
        w.ue(crop_b)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present_flag
    return bytes([0x67]) + w.rbsp()  # nal_ref_idc=3, type=7


def parse_sps(nal: bytes) -> dict:
    """Exp-Golomb SPS parse → profile, level, true width/height.

    Follows the spec field order for non-high profiles; high-profile
    (100/110/122/244/44/83/86/118/128) chroma-format blocks are
    parsed far enough to keep field alignment (no scaling lists)."""
    if not nal or (nal[0] & 0x1F) != NAL_SPS:
        raise ValueError("not an SPS NAL unit")
    r = _BitReader(_unescape(nal[1:]))
    profile_idc = r.u(8)
    r.u(8)  # constraint flags
    level_idc = r.u(8)
    r.ue()  # sps id
    chroma_format_idc = 1
    if profile_idc in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.u(1)
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):  # seq_scaling_matrix_present_flag
            raise ValueError("scaling lists unsupported")
    r.ue()  # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()
    elif poc_type == 1:
        r.u(1)
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.u(1)
    mb_w = r.ue() + 1
    mb_h_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop = [0, 0, 0, 0]
    if r.u(1):  # frame_cropping_flag
        crop = [r.ue(), r.ue(), r.ue(), r.ue()]
    mb_h = (2 - frame_mbs_only) * mb_h_units
    # 4:2:0 / 4:2:2 crop units: x2 horizontally (and x2 vertically for
    # 4:2:0 frame-coded); 4:4:4 crops in luma samples
    cw = 2 if chroma_format_idc in (1, 2) else 1
    ch = (2 if chroma_format_idc == 1 else 1) * (2 - frame_mbs_only)
    width = mb_w * 16 - cw * (crop[0] + crop[1])
    height = mb_h * 16 - ch * (crop[2] + crop[3])
    return {
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": width,
        "height": height,
    }


def synth_h264_params(seed: int) -> tuple[int, int, int]:
    """(width, height, n_non_idr_slices) — even dimensions that are
    mostly NOT macroblock multiples, so cropping is exercised."""
    return 48 + (seed % 9) * 2, 32 + (seed % 7) * 2, 2 + seed % 5


def synth_h264(seed: int) -> bytes:
    """A valid Annex B stream: SPS + PPS + IDR + n non-IDR slices.
    Slice payloads deliberately contain 0x000001/0x000002 byte runs
    so emulation prevention is exercised both ways."""
    width, height, n_slices = synth_h264_params(seed)
    start = b"\x00\x00\x00\x01"
    pps_w = _BitWriter()
    pps_w.ue(0)  # pps id
    pps_w.ue(0)  # sps id
    pps_w.u(0, 2)  # entropy flag + bottom_field_pic_order
    pps_w.ue(0)  # num_slice_groups_minus1
    out = bytearray()
    out += start + encode_sps(width, height)
    out += start + bytes([0x68]) + pps_w.rbsp()
    for i in range(n_slices + 1):  # slice 0 is the IDR
        w = _BitWriter()
        w.ue(0)  # first_mb_in_slice
        w.ue(7 if i == 0 else 5)  # slice_type: I / P (..5/7 variants)
        w.ue(0)  # pps id
        w.u((seed + i) % 16, 4)  # frame_num (log2_max_frame_num = 8 -> 8 bits)
        w.u((seed + i) % 16, 4)
        # filler engineered to hit zero runs after byte alignment
        for j in range(24):
            w.u(0 if (j + i) % 3 else 1, 8)
        body = w.rbsp()
        out += start + bytes([0x65 if i == 0 else 0x41]) + body
    return bytes(out)


def _split_nals(payload: bytes) -> list[bytes]:
    """Annex B start-code scan (3- and 4-byte forms) -> NAL units."""
    nals = []
    n = len(payload)
    first = payload.find(b"\x00\x00\x01")
    if first < 0:
        raise ValueError("no Annex B start code found")
    i = first + 3
    start = i
    while True:
        nxt = payload.find(b"\x00\x00\x01", i)
        if nxt < 0:
            nals.append(payload[start:n])
            break
        end = nxt
        if end > start and payload[end - 1] == 0:
            end -= 1  # 4-byte start code: 00 00 00 01
        nals.append(payload[start:end])
        i = nxt + 3
        start = i
    return nals


def scan_h264(payload: bytes) -> dict:
    """Walk an Annex B byte stream: start-code scan (3- and 4-byte
    forms), NAL type histogram, SPS dimensions. Returns integer-exact
    ``width``, ``height``, ``profile_idc``, ``level_idc``,
    ``n_nal_units``, ``n_idr_slices``, ``n_slices``,
    ``payload_bytes``. Raises on streams with no SPS or no start
    code (permissive-harness contract)."""
    nals = _split_nals(payload)
    sps = None
    n_idr = 0
    n_slices = 0
    for nal in nals:
        if not nal:
            raise ValueError("empty NAL unit")
        ntype = nal[0] & 0x1F
        if ntype == NAL_SPS and sps is None:
            sps = parse_sps(nal)
        elif ntype == NAL_IDR:
            n_idr += 1
            n_slices += 1
        elif ntype == NAL_NON_IDR:
            n_slices += 1
    if sps is None:
        raise ValueError("no SPS in stream")
    return {
        "width": sps["width"],
        "height": sps["height"],
        "profile_idc": sps["profile_idc"],
        "level_idc": sps["level_idc"],
        "n_nal_units": len(nals),
        "n_idr_slices": n_idr,
        "n_slices": n_slices,
        "payload_bytes": len(payload),
    }


# ---------------------------------------------------------------------------
# I_PCM macroblock pixel decode (round 8 — VERDICT r7 item 3: the
# honest first PIXEL path for H.264). I_PCM (ITU-T H.264 §7.3.5,
# mb_type 25 in I slices) carries RAW luma/chroma samples in the
# bitstream — byte-aligned, losslessly, with NO entropy machinery —
# so an all-I_PCM stream is value-oracle-checkable exactly like the
# other codecs. Full CAVLC/CABAC residual decode remains the
# documented extension point; this gives the spec-correct slice
# header / PPS / macroblock-layer walk those decoders would sit in.
# ---------------------------------------------------------------------------

MB_TYPE_I_PCM = 25  # I-slice mb_type table, ITU-T H.264 table 7-11


def encode_pps() -> bytes:
    """Spec-complete minimal PPS: CAVLC entropy, one slice group, no
    deblocking-control or redundant-count fields in slice headers."""
    w = _BitWriter()
    w.ue(0)  # pic_parameter_set_id
    w.ue(0)  # seq_parameter_set_id
    w.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    w.u(0, 1)  # bottom_field_pic_order_in_frame_present_flag
    w.ue(0)  # num_slice_groups_minus1
    w.ue(0)  # num_ref_idx_l0_default_active_minus1
    w.ue(0)  # num_ref_idx_l1_default_active_minus1
    w.u(0, 1)  # weighted_pred_flag
    w.u(0, 2)  # weighted_bipred_idc
    w.se(0)  # pic_init_qp_minus26
    w.se(0)  # pic_init_qs_minus26
    w.se(0)  # chroma_qp_index_offset
    w.u(0, 1)  # deblocking_filter_control_present_flag
    w.u(0, 1)  # constrained_intra_pred_flag
    w.u(0, 1)  # redundant_pic_cnt_present_flag
    return bytes([0x68]) + w.rbsp()


def parse_pps(nal: bytes) -> dict:
    """Minimal PPS parse — enough to validate the profile this
    decoder supports (CAVLC, single slice group, no slice-header
    extras)."""
    if not nal or (nal[0] & 0x1F) != NAL_PPS:
        raise ValueError("not a PPS NAL unit")
    r = _BitReader(_unescape(nal[1:]))
    pps_id = r.ue()
    sps_id = r.ue()
    entropy_coding_mode = r.u(1)
    bottom_field_poc = r.u(1)
    n_slice_groups = r.ue() + 1
    if entropy_coding_mode != 0:
        raise ValueError("CABAC streams unsupported (CAVLC only)")
    if n_slice_groups != 1:
        raise ValueError("slice groups unsupported")
    r.ue()  # num_ref_idx_l0
    r.ue()  # num_ref_idx_l1
    r.u(1)  # weighted_pred_flag
    r.u(2)  # weighted_bipred_idc
    r.se()  # pic_init_qp_minus26
    r.se()  # pic_init_qs_minus26
    r.se()  # chroma_qp_index_offset
    deblock_ctrl = r.u(1)
    r.u(1)  # constrained_intra_pred_flag
    redundant_cnt = r.u(1)
    return {
        "pps_id": pps_id,
        "sps_id": sps_id,
        "deblocking_control": bool(deblock_ctrl),
        "redundant_pic_cnt": bool(redundant_cnt),
        "bottom_field_poc": bool(bottom_field_poc),
    }


def encode_h264_ipcm(y, cb, cr) -> bytes:
    """Encode YCbCr 4:2:0 planes (uint8 arrays: y is (h, w) with h,
    w EVEN; cb/cr are (h/2, w/2)) as a valid Annex B stream whose
    single IDR slice codes every macroblock I_PCM — lossless raw
    samples, byte-aligned per macroblock, emulation-escaped like any
    RBSP. SPS cropping expresses non-multiple-of-16 dims."""
    import numpy as np

    y = np.asarray(y, dtype=np.uint8)
    cb = np.asarray(cb, dtype=np.uint8)
    cr = np.asarray(cr, dtype=np.uint8)
    h, w_ = y.shape
    if h % 2 or w_ % 2:
        raise ValueError("dimensions must be even (4:2:0)")
    if cb.shape != (h // 2, w_ // 2) or cr.shape != cb.shape:
        raise ValueError("chroma planes must be (h/2, w/2)")
    mb_w, mb_h = -(-w_ // 16), -(-h // 16)
    ypad = np.pad(y, ((0, mb_h * 16 - h), (0, mb_w * 16 - w_)), mode="edge")
    cpad = [
        np.pad(
            c,
            ((0, mb_h * 8 - h // 2), (0, mb_w * 8 - w_ // 2)),
            mode="edge",
        )
        for c in (cb, cr)
    ]
    start = b"\x00\x00\x00\x01"
    out = bytearray()
    out += start + encode_sps(w_, h)
    out += start + encode_pps()
    wtr = _BitWriter()
    wtr.ue(0)  # first_mb_in_slice
    wtr.ue(7)  # slice_type: I (the ..7 "all slices are I" variant)
    wtr.ue(0)  # pic_parameter_set_id
    wtr.u(0, 8)  # frame_num (log2_max_frame_num = 8)
    wtr.ue(0)  # idr_pic_id
    # pic_order_cnt_type = 2 in the SPS: no POC fields
    wtr.u(0, 1)  # no_output_of_prior_pics_flag
    wtr.u(0, 1)  # long_term_reference_flag
    wtr.se(0)  # slice_qp_delta
    for my in range(mb_h):
        for mx in range(mb_w):
            wtr.ue(MB_TYPE_I_PCM)
            wtr.align_zero()
            wtr.raw_bytes(
                ypad[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16]
                .tobytes()
            )
            for c in cpad:
                wtr.raw_bytes(
                    c[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8].tobytes()
                )
    out += start + bytes([0x65]) + wtr.rbsp()
    return bytes(out)


def decode_h264_ipcm(payload: bytes) -> dict:
    """Decode an all-I_PCM Annex B stream to pixel planes: NAL walk,
    SPS/PPS parse, spec-order IDR slice header, then the macroblock
    layer — mb_type must be I_PCM (25); anything else raises the
    documented "CAVLC residual decode not implemented" boundary.
    Returns ``width``, ``height``, ``n_mbs`` and the CROPPED ``y``,
    ``cb``, ``cr`` planes (numpy uint8). Raises ``ValueError`` on
    malformed streams (permissive-quarantine contract)."""
    import numpy as np

    nals = _split_nals(payload)
    sps = None
    pps = None
    planes = None
    n_mbs = 0
    for nal in nals:
        if not nal:
            raise ValueError("empty NAL unit")
        ntype = nal[0] & 0x1F
        if ntype == NAL_SPS and sps is None:
            sps = parse_sps(nal)
            if sps["profile_idc"] in (100, 110, 122, 244, 44, 83, 86,
                                      118, 128):
                raise ValueError("high-profile pixel decode unsupported")
        elif ntype == NAL_PPS and pps is None:
            pps = parse_pps(nal)
        elif ntype in (NAL_IDR, NAL_NON_IDR):
            if sps is None or pps is None:
                raise ValueError("slice before SPS/PPS")
            if ntype == NAL_NON_IDR:
                raise ValueError("only IDR (all-intra) pixel decode")
            if planes is not None:
                # a second access unit would overwrite the planes
                # while n_mbs kept summing (review r8 pass 2) — this
                # decoder is single-frame by design; multi-AU streams
                # go through scan_h264 triage
                raise ValueError(
                    "multiple IDR frames: single-frame decode only"
                )
            w_, h = sps["width"], sps["height"]
            mb_w, mb_h = -(-w_ // 16), -(-h // 16)
            r = _BitReader(_unescape(nal[1:]))
            first_mb = r.ue()
            slice_type = r.ue()
            if slice_type % 5 != 2:  # 2/7 are the I-slice codes
                raise ValueError("only I slices supported")
            r.ue()  # pic_parameter_set_id
            r.u(8)  # frame_num (log2_max_frame_num = 8)
            r.ue()  # idr_pic_id
            # pic_order_cnt_type = 2: no POC fields
            r.u(1)  # no_output_of_prior_pics_flag
            r.u(1)  # long_term_reference_flag
            r.se()  # slice_qp_delta
            if pps["deblocking_control"] or pps["redundant_pic_cnt"]:
                raise ValueError("PPS slice-header extras unsupported")
            ymat = np.zeros((mb_h * 16, mb_w * 16), dtype=np.uint8)
            cmats = [
                np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8)
                for _ in range(2)
            ]
            for mb in range(first_mb, mb_w * mb_h):
                mb_type = r.ue()
                if mb_type != MB_TYPE_I_PCM:
                    raise ValueError(
                        f"mb_type {mb_type}: CAVLC residual decode not "
                        "implemented (I_PCM only)"
                    )
                r.align()
                my, mx = divmod(mb, mb_w)
                ymat[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = (
                    np.frombuffer(r.bytes_aligned(256), dtype=np.uint8)
                    .reshape(16, 16)
                )
                for c in cmats:
                    c[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
                        np.frombuffer(r.bytes_aligned(64), dtype=np.uint8)
                        .reshape(8, 8)
                    )
                n_mbs += 1
            planes = (
                ymat[:h, :w_],
                cmats[0][: h // 2, : w_ // 2],
                cmats[1][: h // 2, : w_ // 2],
            )
    if sps is None:
        raise ValueError("no SPS in stream")
    if planes is None:
        raise ValueError("no decodable IDR slice in stream")
    return {
        "width": sps["width"],
        "height": sps["height"],
        "n_mbs": n_mbs,
        "y": planes[0],
        "cb": planes[1],
        "cr": planes[2],
    }


def decode_h264_ipcm_sums(payload: bytes) -> dict:
    """:func:`decode_h264_ipcm` reduced to integer plane sums, the
    row of ``extract_h264_ipcm_features``."""
    d = decode_h264_ipcm(payload)
    return {
        "width": d["width"],
        "height": d["height"],
        "n_mbs": d["n_mbs"],
        "sum_y": int(d["y"].sum(dtype="int64")),
        "sum_cb": int(d["cb"].sum(dtype="int64")),
        "sum_cr": int(d["cr"].sum(dtype="int64")),
    }


def synth_h264_ipcm_params(seed: int) -> tuple[int, int]:
    """(width, height): even, mostly NOT macroblock multiples so SPS
    cropping and partial edge macroblocks are exercised."""
    return 34 + (seed % 6) * 2, 18 + (seed % 5) * 2


def synth_h264_ipcm_planes(seed: int, width: int, height: int):
    """Deterministic YCbCr planes, mirrored verbatim in the DuckDB
    oracle: Y[y][x] = (seed*5 + x*3 + y*7) % 256 on the luma grid;
    Cb/Cr[y][x] = (seed*11 + x + y*2) % 256 / (seed*17 + x*2 + y) %
    256 on the (w/2, h/2) chroma grid. I_PCM is lossless, so decode
    returns these EXACTLY."""
    import numpy as np

    x = np.arange(width, dtype=np.int64)[np.newaxis, :]
    y = np.arange(height, dtype=np.int64)[:, np.newaxis]
    luma = ((seed * 5 + x * 3 + y * 7) % 256).astype(np.uint8)
    cx = np.arange(width // 2, dtype=np.int64)[np.newaxis, :]
    cy = np.arange(height // 2, dtype=np.int64)[:, np.newaxis]
    cb = ((seed * 11 + cx + cy * 2) % 256).astype(np.uint8)
    cr = ((seed * 17 + cx * 2 + cy) % 256).astype(np.uint8)
    return luma, cb, cr


def synth_h264_ipcm(seed: int) -> bytes:
    """Deterministic all-I_PCM test stream for ``seed``."""
    w_, h = synth_h264_ipcm_params(seed)
    return encode_h264_ipcm(*synth_h264_ipcm_planes(seed, w_, h))
