"""Media format sniffing: magic-byte dispatch for unlabeled corpora.

A real crawl corpus does NOT arrive labeled — content-type headers
lie, extensions lie, and the first routing decision every multimodal
pipeline makes is "what IS this payload?" from its leading bytes.
This is the dispatcher in front of the per-format triage scanners
(SURVEY §8.4): cheap (a few byte compares per payload), exhaustive
over the formats this engine parses, and honest about the rest
(``unknown``, never a guess).

All signatures are public format facts: JPEG ``FF D8 FF``, PNG's
8-byte signature, ``GIF8``, ``BM``, RIFF fourccs (WEBP/AVI /WAVE),
``fLaC``, TIFF ``II*\\0``/``MM\\0*``, ZIP local/EOCD ``PK``, gzip
``1F 8B``, MP3 (ID3v2 tag or an 11-bit frame sync), H.264 Annex B
start codes, parquet ``PAR1`` at BOTH ends (the head magic alone
also matches the footer-only tail of a partial file — requiring
both avoids that false positive), FLAC, MPEG-1 Layer I's sync
with layer bits 11 (folded into ``mpeg_audio``), SQLite's 16-byte
header string, and tar's ``ustar`` magic at offset 257 (tar has NO
leading magic — the one format here whose signature is interior).

:func:`synth_mixed` makes the unlabeled corpus the sniffer is checked
against: the format rotates through :data:`SNIFF_ROTATION` by seed.
"""

from __future__ import annotations

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def sniff_media_format(payload: bytes) -> str:
    """Leading-bytes format dispatch. Returns one of: jpeg, png,
    gif, bmp, webp, avi, wav, flac, tiff, zip, gzip, mpeg_audio,
    h264, parquet, orc, ico, sqlite, tar, unknown. Never raises — an
    unrecognizable payload IS the answer ``unknown`` (sniffing feeds
    the quarantine decision, it must not need one itself)."""
    if len(payload) < 4:
        return "unknown"
    if payload[:16] == b"SQLite format 3\x00":
        return "sqlite"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[: len(PNG_SIG)] == PNG_SIG:
        return "png"
    if payload[:4] == b"GIF8":
        return "gif"
    if payload[:4] == b"fLaC":
        return "flac"
    if payload[:4] == b"RIFF" and len(payload) >= 12:
        fourcc = payload[8:12]
        if fourcc == b"WEBP":
            return "webp"
        if fourcc == b"AVI ":
            return "avi"
        if fourcc == b"WAVE":
            return "wav"
        return "unknown"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:4] in (b"PK\x03\x04", b"PK\x05\x06", b"PK\x06\x06"):
        return "zip"
    if payload[:2] == b"\x1f\x8b":
        return "gzip"
    if payload[:3] == b"BZh" and 0x31 <= payload[3] <= 0x39:
        return "bzip2"
    if payload[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if payload[:5] == b"WARC/":
        return "warc"  # uncompressed; .warc.gz sniffs as gzip (layered)
    if payload[:4] == b"PAR1" and payload[-4:] == b"PAR1":
        return "parquet"
    if payload[:6] == b"ARROW1" and payload[-6:] == b"ARROW1":
        return "arrow"
    if payload[:3] == b"ORC":
        return "orc"
    if payload[:3] == b"ID3":
        return "mpeg_audio"
    if payload[:4] == b"\x00\x00\x01\x00" and len(payload) >= 6:
        # ICO's full magic collides with the 3-byte Annex B start
        # code prefix; a real H.264 stream never follows 00 00 01
        # with NAL type 0, so the 4-byte ICO check wins
        return "ico"
    if payload[:3] == b"\x00\x00\x01" or payload[:4] == b"\x00\x00\x00\x01":
        return "h264"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0:
        return "mpeg_audio"  # 11-bit frame sync (any MPEG layer)
    if payload[257:263] in (b"ustar\x00", b"ustar "):
        # tar's magic is INTERIOR (byte 257 of the first header
        # block); "ustar " covers the old GNU variant
        return "tar"
    return "unknown"


def sniff_fields(payload: bytes) -> dict:
    """:func:`sniff_media_format` as the ``fmt`` row of
    ``sniff_media``."""
    return {"fmt": sniff_media_format(payload)}


#: the mixed-corpus rotation for `media_format_sniff`: id % 9 picks
#: the synthesizer; these labels are the SINGLE source the
#: synthesizer table derives from (the oracle SQL mirrors them)
SNIFF_ROTATION = ("jpeg", "png", "gif", "webp", "flac", "tiff", "zip",
                  "parquet", "sqlite")


def synth_mixed(seed: int) -> bytes:
    """One payload of the MIXED, unlabeled corpus: the format is
    ``SNIFF_ROTATION[seed % len(SNIFF_ROTATION)]``, made by that
    format's real synthesizer (``synthesize_mixed_media``)."""
    from .flac import synth_flac
    from .gif import synth_gif_anim
    from .jpeg import synth_jpeg420
    from .parquet_footer import synth_parquet
    from .png import synth_png
    from .sqlite_scan import synth_sqlite
    from .tiff import synth_tiff
    from .webp import synth_webp
    from .zipscan import synth_zip

    by_label = {
        "jpeg": synth_jpeg420,
        "png": synth_png,
        "gif": synth_gif_anim,
        "webp": synth_webp,
        "flac": synth_flac,
        "tiff": synth_tiff,
        "zip": synth_zip,
        "parquet": synth_parquet,
        "sqlite": synth_sqlite,
    }
    return by_label[SNIFF_ROTATION[seed % len(SNIFF_ROTATION)]](seed)
