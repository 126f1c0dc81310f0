"""Single-thread kernel throughput for the round-6/7 codecs at
realistic media sizes — the numbers a 100 TB capacity plan needs
(VERDICT r6 item 2: JPEG/MP3/H.264 had no STRESS rows; JPEG's
per-coefficient Python huffman loop is exactly the kernel whose
single-thread rate bounds the fleet size).

Pure driver-side timing (no Spark): `mapInPandas` parallelizes these
kernels per payload, so cluster throughput = single-thread rate ×
executor cores. Content is realistic-entropy (gradient + noise), not
the tiny constant-block oracle images, so the huffman loop sees real
AC activity.

Usage: python tools/stress_codecs.py
Prints one JSON line per kernel.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _timeit(fn, *args, repeat: int = 3):
    best = float("inf")
    out = None
    for _ in range(repeat):
        t0 = time.perf_counter()
        out = fn(*args)
        best = min(best, time.perf_counter() - t0)
    return best, out


def main() -> None:
    from datawarehouseproject_spark.functions.h264 import scan_h264, synth_h264
    from datawarehouseproject_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from datawarehouseproject_spark.functions.mpeg_audio import (
        LAYER1_SAMPLES_PER_FRAME,
        decode_mpeg1_layer1,
        scan_mp3,
        synth_mp3,
        synth_mpeg1_layer1,
    )

    rng = np.random.RandomState(42)
    H, W = 192, 256
    xx, yy = np.meshgrid(np.arange(W), np.arange(H))
    base = ((xx * 2 + yy * 3) % 256).astype(np.int16)
    noise = rng.randint(-24, 25, (H, W, 3), dtype=np.int16)
    px = np.clip(base[..., None] + noise, 0, 255).astype(np.uint8)

    for sub in ("444", "420"):
        payload = encode_jpeg(px, subsampling=sub, restart_interval=8)
        secs, (w, h, rgb) = _timeit(decode_jpeg, payload)
        assert (w, h) == (W, H) and rgb.shape == (H, W, 3)
        print(
            json.dumps(
                {
                    "kernel": f"jpeg_decode_{sub}",
                    "media": f"{W}x{H} RGB gradient+noise",
                    "payload_bytes": len(payload),
                    "mpx_per_s": round(W * H / secs / 1e6, 3),
                    "sec": round(secs, 3),
                }
            )
        )

    # MP3 frame-structure walk: one big VBR stream (repeat the frame
    # ladder of many seeds into ~2 MB)
    stream = b"".join(synth_mp3(s) for s in range(400))
    n_bytes = len(stream)
    # scan per original payload (scan_mp3 rejects mid-stream rate
    # changes across seeds), which matches the per-payload harness
    payloads = [synth_mp3(s) for s in range(400)]

    def scan_all():
        return sum(scan_mp3(p)["n_frames"] for p in payloads)

    secs, n_frames = _timeit(scan_all)
    print(
        json.dumps(
            {
                "kernel": "mp3_frame_walk",
                "media": f"{n_bytes} bytes, {n_frames} frames",
                "mb_per_s": round(n_bytes / secs / 1e6, 1),
                "frames_per_s": int(n_frames / secs),
                "sec": round(secs, 3),
            }
        )
    )

    # Layer I sample decode: bit-unpack + requantize every sample
    l1_payloads = [synth_mpeg1_layer1(s) for s in range(300)]
    l1_bytes = sum(len(p) for p in l1_payloads)

    def decode_all():
        frames = 0
        for p in l1_payloads:
            rows = decode_mpeg1_layer1(p)
            frames = frames + 1 + max(r["frame"] for r in rows)
        return frames

    secs, frames = _timeit(decode_all)
    samples = frames * LAYER1_SAMPLES_PER_FRAME
    print(
        json.dumps(
            {
                "kernel": "mpeg1_layer1_sample_decode",
                "media": f"{l1_bytes} bytes, {frames} frames",
                "ksamples_per_s": int(samples / secs / 1e3),
                "mb_per_s": round(l1_bytes / secs / 1e6, 2),
                "sec": round(secs, 3),
            }
        )
    )

    # H.264 NAL walk + exp-Golomb SPS parse
    h_payloads = [synth_h264(s) for s in range(400)]
    h_bytes = sum(len(p) for p in h_payloads)

    def scan_h_all():
        return sum(scan_h264(p)["n_nal_units"] for p in h_payloads)

    secs, nals = _timeit(scan_h_all)
    print(
        json.dumps(
            {
                "kernel": "h264_nal_walk",
                "media": f"{h_bytes} bytes, {nals} NAL units",
                "mb_per_s": round(h_bytes / secs / 1e6, 1),
                "nals_per_s": int(nals / secs),
                "sec": round(secs, 3),
            }
        )
    )


def archive_kernels() -> None:
    """Round-7 archive codecs at REALISTIC sizes (hundreds of
    multi-KB members per archive, ~MB payloads): ZIP/tar triage
    should be ~memory-bandwidth-bound (they never touch member
    data); gzip decode is deflate-bound (stdlib zlib C speed plus
    our header/trailer framing)."""
    import io
    import tarfile
    import zipfile
    import zlib

    from datawarehouseproject_spark.functions.zipscan import (
        decode_gzip,
        scan_tar,
        scan_zip,
    )

    member = bytes((j * 7) % 251 for j in range(4096))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for i in range(500):
            info = zipfile.ZipInfo(f"m{i:04d}.bin", date_time=(2026, 8, 14, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED if i % 2 else zipfile.ZIP_STORED
            zf.writestr(info, member)
    big_zip = buf.getvalue()
    secs, n = _timeit(lambda: scan_zip(big_zip)["n_members"])
    print(json.dumps({
        "kernel": "zip_central_dir_scan",
        "media": f"{len(big_zip)} bytes, {n} members",
        "members_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for i in range(500):
            info = tarfile.TarInfo(f"d/m{i:04d}.bin")
            info.size = len(member)
            info.mtime = 1_800_000_000
            tf.addfile(info, io.BytesIO(member))
    big_tar = buf.getvalue()
    secs, n = _timeit(lambda: scan_tar(big_tar)["n_members"])
    print(json.dumps({
        "kernel": "tar_header_walk",
        "media": f"{len(big_tar)} bytes, {n} members",
        "mb_per_s": round(len(big_tar) / secs / 1e6, 1),
        "sec": round(secs, 4),
    }))

    raw = bytes((j * 13 + (j >> 5)) % 251 for j in range(4_000_000))
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = co.compress(raw) + co.flush()
    gz = (
        b"\x1f\x8b\x08\x00" + b"\x00" * 4 + b"\x00\x03"
        + body
        + __import__("struct").pack("<II", zlib.crc32(raw), len(raw) % (1 << 32))
    )
    secs, out = _timeit(lambda: decode_gzip(gz)["n_bytes"])
    print(json.dumps({
        "kernel": "gzip_verified_decode",
        "media": f"{len(gz)} comp bytes -> {out} raw",
        "mb_per_s_raw": round(out / secs / 1e6, 1),
        "sec": round(secs, 4),
    }))


def round8_kernels() -> None:
    """Round-8 codecs at realistic sizes: progressive JPEG (same
    huffman-bound pixel loop as baseline plus the multi-scan
    refinement walks), H.264 I_PCM (raw-sample path — bit-reader
    bound, no entropy machinery), Adam7 PNG (DEFLATE + per-pass
    unfilter + scatter), ZIP64 central-dir scan at >65535 members,
    pax/GNU long-name tar walks, and the WebP/FLAC header triage
    (which should be ~free: tens of bytes per payload)."""
    import io
    import tarfile
    import zipfile

    from datawarehouseproject_spark.functions.flac import (
        scan_flac,
        synth_flac,
    )
    from datawarehouseproject_spark.functions.h264 import (
        decode_h264_ipcm,
        encode_h264_ipcm,
    )
    from datawarehouseproject_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )
    from datawarehouseproject_spark.functions.png import (
        decode_png,
        encode_png,
    )
    from datawarehouseproject_spark.functions.webp import (
        scan_webp,
        synth_webp,
    )
    from datawarehouseproject_spark.functions.zipscan import (
        scan_tar,
        scan_zip,
    )

    rng = np.random.RandomState(7)
    H, W = 192, 256
    xx, yy = np.meshgrid(np.arange(W), np.arange(H))
    base = ((xx * 2 + yy * 3) % 256).astype(np.int16)
    noise = rng.randint(-24, 25, (H, W, 3), dtype=np.int16)
    px = np.clip(base[..., None] + noise, 0, 255).astype(np.uint8)

    payload = encode_jpeg_progressive(px, subsampling="420", restart_interval=8)
    secs, (w, h, rgb) = _timeit(decode_jpeg, payload)
    assert (w, h) == (W, H)
    print(json.dumps({
        "kernel": "jpeg_progressive_decode_420",
        "media": f"{W}x{H} RGB gradient+noise, 10 scans",
        "payload_bytes": len(payload),
        "mpx_per_s": round(W * H / secs / 1e6, 3),
        "sec": round(secs, 3),
    }))

    yplane = px[..., 0]
    cb = px[::2, ::2, 1].copy()
    cr = px[::2, ::2, 2].copy()
    ipcm = encode_h264_ipcm(yplane, cb, cr)
    secs, out = _timeit(decode_h264_ipcm, ipcm)
    assert out["width"] == W
    print(json.dumps({
        "kernel": "h264_ipcm_pixel_decode",
        "media": f"{W}x{H} mono->4:2:0, {out['n_mbs']} MBs",
        "payload_bytes": len(ipcm),
        "mpx_per_s": round(W * H / secs / 1e6, 3),
        "sec": round(secs, 3),
    }))

    il = encode_png(W, H, px, interlace=True)
    secs, (w, h, back) = _timeit(decode_png, il)
    assert (w, h) == (W, H) and np.array_equal(back, px)
    print(json.dumps({
        "kernel": "png_adam7_decode",
        "media": f"{W}x{H} RGB, 7 passes",
        "payload_bytes": len(il),
        "mpx_per_s": round(W * H / secs / 1e6, 3),
        "sec": round(secs, 3),
    }))

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", allowZip64=True) as zf:
        for i in range(70000):
            zf.writestr(
                zipfile.ZipInfo(f"m{i:05d}", date_time=(2026, 1, 1, 0, 0, 0)),
                b"",
            )
    big64 = buf.getvalue()
    secs, n = _timeit(lambda: scan_zip(big64)["n_members"])
    print(json.dumps({
        "kernel": "zip64_central_dir_scan",
        "media": f"{len(big64)} bytes, {n} members (EOCD64)",
        "members_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    member = bytes((j * 7) % 251 for j in range(2048))
    for fmt, name in ((tarfile.PAX_FORMAT, "pax"), (tarfile.GNU_FORMAT, "gnu")):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
            for i in range(400):
                info = tarfile.TarInfo("d/" + "p" * 120 + f"/m{i:04d}.bin")
                info.size = len(member)
                info.mtime = 1_800_000_000
                tf.addfile(info, io.BytesIO(member))
        big = buf.getvalue()
        secs, n = _timeit(lambda b=big: scan_tar(b)["n_members"])
        print(json.dumps({
            "kernel": f"tar_{name}_longname_walk",
            "media": f"{len(big)} bytes, {n} members, 120-char dirs",
            "mb_per_s": round(len(big) / secs / 1e6, 1),
            "sec": round(secs, 4),
        }))

    webp_payloads = [synth_webp(s) for s in range(2000)]
    secs, n = _timeit(lambda: sum(scan_webp(p)["n_chunks"] for p in webp_payloads))
    print(json.dumps({
        "kernel": "webp_header_triage",
        "media": f"{sum(map(len, webp_payloads))} bytes, 2000 files",
        "files_per_s": int(2000 / secs),
        "sec": round(secs, 4),
    }))

    flac_payloads = [synth_flac(s) for s in range(2000)]
    secs, n = _timeit(lambda: sum(scan_flac(p)["n_blocks"] for p in flac_payloads))
    print(json.dumps({
        "kernel": "flac_metadata_triage",
        "media": f"{sum(map(len, flac_payloads))} bytes, 2000 files",
        "files_per_s": int(2000 / secs),
        "sec": round(secs, 4),
    }))




def round8b_kernels() -> None:
    """Late round-8 scanners: palette PNG (bpp=1 filters + gather),
    multi-page TIFF chains, parquet footers (Thrift compact), SRT is
    JVM-side (no Python kernel to measure)."""
    from datawarehouseproject_spark.functions.parquet_footer import (
        scan_parquet_footer,
        synth_parquet,
    )
    from datawarehouseproject_spark.functions.png import (
        decode_png,
        encode_png,
    )
    from datawarehouseproject_spark.functions.tiff import (
        scan_tiff,
        synth_tiff,
    )

    rng = np.random.RandomState(11)
    H, W = 256, 256
    idx = rng.randint(0, 256, (H, W), dtype=np.uint8)
    pal = np.stack(
        [np.arange(256), (2 * np.arange(256) + 9) % 256,
         255 - np.arange(256)], axis=-1
    ).astype(np.uint8)
    payload = encode_png(W, H, idx, interlace=True, color_type=3, palette=pal)
    secs, (w, h, back) = _timeit(decode_png, payload)
    assert (w, h) == (W, H)
    print(json.dumps({
        "kernel": "png_palette_adam7_decode",
        "media": f"{W}x{H} palette, 7 passes",
        "payload_bytes": len(payload),
        "mpx_per_s": round(W * H / secs / 1e6, 3),
        "sec": round(secs, 4),
    }))

    tiffs = [synth_tiff(s) for s in range(2000)]
    secs, n = _timeit(lambda: sum(scan_tiff(t)["n_pages"] for t in tiffs))
    print(json.dumps({
        "kernel": "tiff_chain_triage",
        "media": f"{sum(map(len, tiffs))} bytes, 2000 files, {n} pages",
        "files_per_s": int(2000 / secs),
        "sec": round(secs, 4),
    }))

    pqs = [synth_parquet(s) for s in range(300)]
    secs, n = _timeit(lambda: sum(scan_parquet_footer(p)["n_rows"] for p in pqs))
    print(json.dumps({
        "kernel": "parquet_footer_triage",
        "media": f"{sum(map(len, pqs))} bytes, 300 files, {n} rows",
        "files_per_s": int(300 / secs),
        "sec": round(secs, 4),
    }))


def round9_kernels() -> None:
    """Round-9 readers: parquet data-page value decode (PLAIN /
    dictionary / DELTA_BINARY_PACKED), BI_RLE8 bitmap decode, SQLite
    b-tree table read."""
    from datawarehouseproject_spark.functions.bmp import (
        decode_bmp,
        encode_bmp_rle8,
        synth_rle8_indices,
        synth_rle8_palette,
    )
    from datawarehouseproject_spark.functions.parquet_pages import (
        scan_parquet_values,
        synth_parquet_data,
    )
    from datawarehouseproject_spark.functions.sqlite_scan import (
        scan_sqlite,
        synth_sqlite,
    )

    files = [synth_parquet_data(s) for s in range(100)]
    secs, n = _timeit(
        lambda: sum(scan_parquet_values(p)["n_rows"] for p in files)
    )
    print(json.dumps({
        "kernel": "parquet_page_value_decode",
        "media": f"{sum(map(len, files))} bytes, 100 files, {n} rows x 3 cols",
        "values_per_s": int(3 * n / secs),
        "sec": round(secs, 4),
    }))

    W, H = 512, 384
    payload = encode_bmp_rle8(
        synth_rle8_indices(5, W, H), synth_rle8_palette()
    )
    secs, (w, h, rgb) = _timeit(decode_bmp, payload)
    assert (w, h) == (W, H)
    print(json.dumps({
        "kernel": "bmp_rle8_decode",
        "media": f"{W}x{H} palette RLE8",
        "payload_bytes": len(payload),
        "mpx_per_s": round(W * H / secs / 1e6, 3),
        "sec": round(secs, 4),
    }))

    dbs = [synth_sqlite(s) for s in range(100)]
    secs, n = _timeit(lambda: sum(scan_sqlite(p)["n_rows"] for p in dbs))
    print(json.dumps({
        "kernel": "sqlite_table_read",
        "media": f"{sum(map(len, dbs))} bytes, 100 dbs, {n} rows",
        "rows_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.xz_scan import (
        scan_xz,
        synth_xz,
    )

    xzs = [synth_xz(s) for s in range(2000)]
    secs, n = _timeit(lambda: sum(scan_xz(p)["n_blocks"] for p in xzs))
    print(json.dumps({
        "kernel": "xz_container_triage",
        "media": f"{sum(map(len, xzs))} bytes, 2000 files, {n} blocks",
        "files_per_s": int(2000 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.arrow_ipc import (
        scan_arrow_ipc,
        synth_arrow_ipc,
    )
    from datawarehouseproject_spark.functions.warc import (
        scan_warc,
        synth_warc,
    )

    arrows = [synth_arrow_ipc(s) for s in range(2000)]
    secs, n = _timeit(lambda: sum(scan_arrow_ipc(p)["n_rows"] for p in arrows))
    print(json.dumps({
        "kernel": "arrow_ipc_triage",
        "media": f"{sum(map(len, arrows))} bytes, 2000 files, {n} rows",
        "files_per_s": int(2000 / secs),
        "sec": round(secs, 4),
    }))

    warcs = [synth_warc(s) for s in range(1000)]
    secs, n = _timeit(lambda: sum(scan_warc(p)["n_records"] for p in warcs))
    print(json.dumps({
        "kernel": "warc_record_scan",
        "media": f"{sum(map(len, warcs))} bytes, 1000 archives, {n} records",
        "records_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))


def round10_kernels() -> None:
    """MIME message parse, PDF text extraction, ORC stripe RLEv2
    decode."""
    from datawarehouseproject_spark.functions.mime_mail import (
        parse_mime_message,
        synth_email,
    )
    from datawarehouseproject_spark.functions.orc_pages import (
        scan_orc_values,
        synth_orc_values,
    )
    from datawarehouseproject_spark.functions.pdf_text import (
        extract_pdf_text,
        synth_pdf,
    )

    mails = [synth_email(s) for s in range(2000)]
    secs, n = _timeit(
        lambda: sum(parse_mime_message(p)["n_parts"] for p in mails)
    )
    print(json.dumps({
        "kernel": "mime_message_parse",
        "media": f"{sum(map(len, mails))} bytes, 2000 messages, {n} parts",
        "msgs_per_s": int(2000 / secs),
        "sec": round(secs, 4),
    }))

    pdfs = [synth_pdf(s) for s in range(1000)]
    secs, n = _timeit(
        lambda: sum(extract_pdf_text(p)["text_chars"] for p in pdfs)
    )
    print(json.dumps({
        "kernel": "pdf_text_extract",
        "media": f"{sum(map(len, pdfs))} bytes, 1000 PDFs, {n} text chars",
        "pdfs_per_s": int(1000 / secs),
        "sec": round(secs, 4),
    }))

    orcs = [synth_orc_values(s) for s in range(200)]
    secs, n = _timeit(
        lambda: sum(scan_orc_values(p)["int_count"] for p in orcs)
    )
    print(json.dumps({
        "kernel": "orc_rle_v2_stripe_decode",
        "media": f"{sum(map(len, orcs))} bytes, 200 files, {n} int values"
                 " (+ as many strings)",
        "values_per_s": int(2 * n / secs),
        "sec": round(secs, 4),
    }))


def round11b_kernels() -> None:
    """This session's remaining readers: pickle opcode scan, NPZ
    tensor read, Arrow IPC value decode, TFRecord CRC32C walk."""
    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_values,
        synth_arrow_values,
    )
    from datawarehouseproject_spark.functions.npy_scan import (
        scan_npz,
        synth_npz,
    )
    from datawarehouseproject_spark.functions.pickle_scan import (
        scan_pickle,
        synth_pickle,
    )
    from datawarehouseproject_spark.functions.tfrecord import (
        scan_tfrecord,
        synth_tfrecord,
    )

    pickles = [synth_pickle(s) for s in range(4000)]
    secs, n = _timeit(
        lambda: sum(scan_pickle(p)["n_opcodes"] for p in pickles)
    )
    print(json.dumps({
        "kernel": "pickle_opcode_scan",
        "media": f"{sum(map(len, pickles))} bytes, 4000 pickles,"
                 f" {n} opcodes",
        "payloads_per_s": int(4000 / secs),
        "sec": round(secs, 4),
    }))

    npzs = [synth_npz(s) for s in range(800)]
    secs, n = _timeit(
        lambda: sum(scan_npz(p)["n_elements"] for p in npzs)
    )
    print(json.dumps({
        "kernel": "npz_tensor_scan",
        "media": f"{sum(map(len, npzs))} bytes, 800 containers,"
                 f" {n} elements",
        "payloads_per_s": int(800 / secs),
        "sec": round(secs, 4),
    }))

    arrows = [synth_arrow_values(s) for s in range(600)]
    secs, n = _timeit(
        lambda: sum(decode_arrow_values(p)["n_rows"] for p in arrows)
    )
    print(json.dumps({
        "kernel": "arrow_ipc_value_decode",
        "media": f"{sum(map(len, arrows))} bytes, 600 files, {n} rows"
                 " x 3 cols",
        "rows_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    import pyarrow as pa

    from datawarehouseproject_spark.functions.lz4_codec import (
        decode_lz4_frame,
    )
    from datawarehouseproject_spark.functions.snappy import decode_snappy

    text = ("the quick brown fox jumps over the lazy dog. " * 10000).encode()
    sn = bytes(pa.Codec("snappy").compress(text))
    secs, out = _timeit(decode_snappy, sn)
    assert out == text
    print(json.dumps({
        "kernel": "snappy_hand_decode",
        "media": f"{len(text)} bytes text -> {len(sn)} snappy",
        "mb_per_s": round(len(text) / secs / 1e6, 2),
        "sec": round(secs, 4),
    }))

    lz = bytes(pa.Codec("lz4").compress(text))
    secs, out = _timeit(decode_lz4_frame, lz)
    assert out == text
    print(json.dumps({
        "kernel": "lz4_frame_hand_decode",
        "media": f"{len(text)} bytes text -> {len(lz)} lz4 frame",
        "mb_per_s": round(len(text) / secs / 1e6, 2),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.zstd_codec import (
        _decode_zstd_hand,
        decode_zstd,
    )

    # dictionary-less frames: decode_zstd runs libzstd, the hand
    # decoder is its reference; time both, each labelled
    zstd_paths = {
        "hand": lambda p: _decode_zstd_hand(p, 1 << 24, None),
        "libzstd": lambda p: decode_zstd(p, max_output=1 << 24),
    }
    z3 = bytes(pa.Codec("zstd", compression_level=3).compress(text))
    rng11 = np.random.RandomState(4)
    zblob = rng11.randint(0, 256, 400_000, dtype=np.uint8).tobytes()
    zr = bytes(pa.Codec("zstd").compress(zblob))
    cases = (
        ("zstd_decode", text, z3,
         f"{len(text)} bytes text -> {len(z3)} zstd (FSE+huffman)"),
        ("zstd_decode_incompressible", zblob, zr,
         f"{len(zblob)} random bytes (raw blocks)"),
    )
    for kernel, plain, frame, media in cases:
        for path, decode in zstd_paths.items():
            secs, out = _timeit(decode, frame)
            assert out == plain
            print(json.dumps({
                "kernel": f"{kernel}_{path}",
                "media": media,
                "mb_per_s": round(len(plain) / secs / 1e6, 2),
                "sec": round(secs, 4),
            }))

    tfrs = [synth_tfrecord(s) for s in range(2000)]
    secs, n = _timeit(
        lambda: sum(scan_tfrecord(p)["n_records"] for p in tfrs)
    )
    print(json.dumps({
        "kernel": "tfrecord_crc32c_scan",
        "media": f"{sum(map(len, tfrs))} bytes, 2000 shards,"
                 f" {n} records",
        "records_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))




def round13_kernels() -> None:
    """This session's readers (driver round 11): Delta _delta_log
    snapshot reconstruction, Iceberg v2 equality-delete +
    transform-pruned scan, Avro complex-type decode, and the rich
    (compressed/nullable/dictionary) ORC stripe decode."""
    from datawarehouseproject_spark.functions.delta_log import (
        scan_delta,
        synth_delta,
    )

    tables = [synth_delta(s) for s in range(300)]
    secs, n = _timeit(
        lambda: sum(scan_delta(t)["rows_scanned"] for t in tables)
    )
    print(json.dumps({
        "kernel": "delta_log_scan",
        "media": f"300 tables (checkpoint parquet + 1 JSON commit + "
                 f"tombstone), {n} rows scanned",
        "tables_per_s": int(300 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.iceberg_scan import (
        scan_iceberg_v2,
        synth_iceberg_v2,
    )

    tables = [synth_iceberg_v2(s) for s in range(300)]
    secs, n = _timeit(
        lambda: sum(scan_iceberg_v2(t)["rows_scanned"] for t in tables)
    )
    print(json.dumps({
        "kernel": "iceberg_v2_equality_scan",
        "media": f"300 tables (bucket/truncate transforms + equality "
                 f"deletes), {n} rows scanned",
        "tables_per_s": int(300 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.avro_scan import (
        scan_avro_complex,
        synth_avro_complex,
    )

    payloads = [synth_avro_complex(s) for s in range(1500)]
    secs, n = _timeit(
        lambda: sum(scan_avro_complex(p)["n_records"] for p in payloads)
    )
    print(json.dumps({
        "kernel": "avro_complex_scan",
        "media": f"1500 containers (array/map/enum/fixed/3-way "
                 f"union), {n} records",
        "records_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.orc_pages import (
        scan_orc_rich,
        synth_orc_rich,
    )

    files = [synth_orc_rich(s) for s in range(400)]
    secs, n = _timeit(
        lambda: sum(scan_orc_rich(f)["n_rows"] for f in files)
    )
    print(json.dumps({
        "kernel": "orc_rich_decode",
        "media": f"400 files (zlib/snappy + PRESENT + DICTIONARY_V2), "
                 f"{n} rows",
        "rows_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))


def round12_kernels() -> None:
    """This session's readers (driver round 10): dictionary-zstd
    decode, PDF 1.5 xref-stream extraction, Avro container scan,
    parquet page-index scan, SQLite WITHOUT ROWID walk, compressed
    ORC footers."""
    import subprocess
    import tempfile
    import os

    from datawarehouseproject_spark.functions.warc import _zstd_cli
    from datawarehouseproject_spark.functions.zstd_codec import (
        decode_zstd,
        parse_zstd_dictionary,
    )

    text = ("the quick brown fox jumps over the lazy dog. " * 10000).encode()
    with tempfile.TemporaryDirectory() as td:
        spaths = []
        for i in range(12):
            p = os.path.join(td, f"s{i}")
            with open(p, "wb") as fh:
                fh.write(text[i * 1000 : i * 1000 + 4000])
            spaths.append(p)
        dpath = os.path.join(td, "d.bin")
        subprocess.run(
            [_zstd_cli(), "-q", "--train", *spaths, "-o", dpath,
             "--maxdict=16384"],
            check=True, capture_output=True,
        )
        tpath = os.path.join(td, "t")
        with open(tpath, "wb") as fh:
            fh.write(text)
        subprocess.run(
            [_zstd_cli(), "-q", "-f", "-3", "-D", dpath, tpath],
            check=True, capture_output=True,
        )
        with open(dpath, "rb") as fh:
            zd = parse_zstd_dictionary(fh.read())
        with open(tpath + ".zst", "rb") as fh:
            frame = fh.read()
    secs, out = _timeit(lambda: decode_zstd(frame, dictionary=zd))
    print(json.dumps({
        "kernel": "zstd_dictionary_decode",
        "media": f"{len(text)} bytes text, trained dict, level 3",
        "mb_per_s": round(len(out) / secs / 1e6, 1),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.pdf_text import (
        extract_pdf_text,
        synth_pdf_xref_stream,
    )

    pdfs = [synth_pdf_xref_stream(s) for s in range(1000)]
    secs, n = _timeit(
        lambda: sum(extract_pdf_text(p)["n_pages"] for p in pdfs)
    )
    print(json.dumps({
        "kernel": "pdf_xref_stream_extract",
        "media": f"1000 PDF 1.5 files (ObjStm + XRef stream + "
                 f"predictor 12), {n} pages",
        "pdfs_per_s": int(1000 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.avro_scan import (
        scan_avro,
        synth_avro,
    )

    avros = [synth_avro(s) for s in range(1500)]
    secs, n = _timeit(
        lambda: sum(scan_avro(p)["n_records"] for p in avros)
    )
    print(json.dumps({
        "kernel": "avro_container_scan",
        "media": f"{sum(map(len, avros))} bytes, 1500 containers "
                 f"(null/deflate/snappy), {n} records",
        "records_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.parquet_pageindex import (
        scan_parquet_page_index,
        synth_parquet_page_index,
    )

    pqs = [synth_parquet_page_index(s) for s in range(300)]
    secs, n = _timeit(
        lambda: sum(scan_parquet_page_index(p)["n_pages_k"] for p in pqs)
    )
    print(json.dumps({
        "kernel": "parquet_page_index_scan",
        "media": f"300 files, {n} page-index entries",
        "pages_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.sqlite_scan import (
        scan_sqlite_without_rowid,
        synth_sqlite_wr,
    )

    dbs = [synth_sqlite_wr(s) for s in range(300)]
    secs, n = _timeit(
        lambda: sum(scan_sqlite_without_rowid(p)["n_rows"] for p in dbs)
    )
    print(json.dumps({
        "kernel": "sqlite_without_rowid_scan",
        "media": f"300 dbs, {n} rows (table + secondary index walks)",
        "rows_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.orc_footer import (
        scan_orc_footer,
        synth_orc_compressed,
    )

    orcs = [synth_orc_compressed(s) for s in range(800)]
    secs, n = _timeit(
        lambda: sum(scan_orc_footer(p)["n_rows"] for p in orcs)
    )
    print(json.dumps({
        "kernel": "orc_compressed_footer_scan",
        "media": f"800 files rotating zlib/snappy/lz4/zstd, {n} rows",
        "files_per_s": int(800 / secs),
        "sec": round(secs, 4),
    }))




def round12b_kernels() -> None:
    """Driver round 10, closing additions: Iceberg snapshot planning
    and the generic nested Avro decode."""
    from datawarehouseproject_spark.functions.iceberg_scan import (
        scan_iceberg,
        synth_iceberg,
    )

    bundles = [synth_iceberg(s) for s in range(400)]
    secs, n = _timeit(
        lambda: sum(scan_iceberg(b)["total_rows"] for b in bundles)
    )
    print(json.dumps({
        "kernel": "iceberg_snapshot_scan",
        "media": f"400 tables, {n} rows planned",
        "tables_per_s": int(400 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.avro_scan import (
        decode_avro_blocks,
        synth_avro,
    )

    avros = [synth_avro(s) for s in range(1500)]
    secs, n = _timeit(
        lambda: sum(len(decode_avro_blocks(b)) for b in avros)
    )
    print(json.dumps({
        "kernel": "avro_nested_decode",
        "media": f"1500 containers, {n} records",
        "records_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

def round14_kernels() -> None:
    """Round-11 continuation readers: Delta deletion vectors + column
    mapping, Iceberg sequence-scoped deletes + time transforms, ORC
    scalar battery, bloom membership, Avro schema resolution."""
    from datawarehouseproject_spark.functions.delta_log import (
        scan_delta_cm,
        scan_delta_dv,
        synth_delta_cm,
        synth_delta_dv,
    )

    tables = [synth_delta_dv(s) for s in range(200)]
    secs, n = _timeit(
        lambda: sum(scan_delta_dv(b)["live_rows"] for b in tables)
    )
    print(json.dumps({
        "kernel": "delta_deletion_vectors",
        "media": f"200 tables, {n} live rows after DV masking",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))

    tables = [synth_delta_cm(s) for s in range(200)]
    secs, n = _timeit(
        lambda: sum(scan_delta_cm(b)["total_rows"] for b in tables)
    )
    print(json.dumps({
        "kernel": "delta_column_mapping",
        "media": f"200 tables, {n} rows via physical names",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.iceberg_scan import (
        scan_iceberg_v2,
        synth_iceberg_seq,
        synth_iceberg_time,
    )

    tables = [synth_iceberg_seq(s) for s in range(200)]
    secs, n = _timeit(
        lambda: sum(scan_iceberg_v2(b)["live_rows"] for b in tables)
    )
    print(json.dumps({
        "kernel": "iceberg_sequence_scan",
        "media": f"200 tables, {n} live rows (seq-scoped deletes)",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))

    tables = [synth_iceberg_time(s) for s in range(200)]
    secs, n = _timeit(
        lambda: sum(
            scan_iceberg_v2(b)["rows_scanned"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "iceberg_time_transform_scan",
        "media": f"200 tables, {n} rows scanned after time pruning",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.orc_pages import (
        scan_orc_bloom,
        scan_orc_scalars,
        synth_orc_bloom,
        synth_orc_scalars,
    )

    payloads = [synth_orc_scalars(s) for s in range(150)]
    secs, n = _timeit(
        lambda: sum(scan_orc_scalars(b)["n_rows"] for b in payloads)
    )
    print(json.dumps({
        "kernel": "orc_scalar_types",
        "media": f"150 files, {n} rows x 5 typed columns",
        "files_per_s": int(150 / secs),
        "sec": round(secs, 4),
    }))

    payloads = [synth_orc_bloom(s) for s in range(150)]
    secs, n = _timeit(
        lambda: sum(
            scan_orc_bloom(b)["int_present_hits"] for b in payloads
        )
    )
    print(json.dumps({
        "kernel": "orc_bloom_membership",
        "media": f"150 files, {n} positive probes",
        "files_per_s": int(150 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.avro_scan import (
        scan_avro_evolved,
        synth_avro_evolved,
    )

    payloads = [synth_avro_evolved(s) for s in range(800)]
    secs, n = _timeit(
        lambda: sum(
            scan_avro_evolved(b)["n_records"] for b in payloads
        )
    )
    print(json.dumps({
        "kernel": "avro_schema_resolution",
        "media": f"800 containers, {n} records resolved",
        "records_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))



def round14b_kernels() -> None:
    """Round-11 continuation, second wave: Delta time travel + v2
    checkpoints, Iceberg multi-field conjunction pruning."""
    from datawarehouseproject_spark.functions.delta_log import (
        scan_delta_time_travel,
        scan_delta_v2cp,
        synth_delta_tt,
        synth_delta_v2cp,
    )

    tables = [synth_delta_tt(s) for s in range(150)]
    secs, n = _timeit(
        lambda: sum(
            scan_delta_time_travel(b)["total_rows_current"]
            for b in tables
        )
    )
    print(json.dumps({
        "kernel": "delta_time_travel",
        "media": f"150 tables x 3 versions, {n} current rows",
        "tables_per_s": int(150 / secs),
        "sec": round(secs, 4),
    }))

    tables = [synth_delta_v2cp(s) for s in range(150)]
    secs, n = _timeit(
        lambda: sum(
            scan_delta_v2cp(b)["total_live_rows"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "delta_v2_checkpoint",
        "media": f"150 tables, 2 sidecars each, {n} live rows",
        "tables_per_s": int(150 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.iceberg_scan import (
        scan_iceberg_v2,
        synth_iceberg_multi,
    )

    tables = [synth_iceberg_multi(s) for s in range(150)]
    secs, n = _timeit(
        lambda: sum(
            scan_iceberg_v2(b)["rows_scanned"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "iceberg_multi_partition",
        "media": f"150 tables, {n} rows after conjunction pruning",
        "tables_per_s": int(150 / secs),
        "sec": round(secs, 4),
    }))

def round14c_kernels() -> None:
    """Round-11 continuation, third wave: Puffin DVs and the
    composed DV-on-column-mapped Delta scan."""
    from datawarehouseproject_spark.functions.iceberg_scan import (
        scan_iceberg_puffin,
        synth_iceberg_puffin,
    )

    tables = [synth_iceberg_puffin(s) for s in range(200)]
    secs, n = _timeit(
        lambda: sum(
            scan_iceberg_puffin(b)["live_rows"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "iceberg_puffin_dv",
        "media": f"200 tables, {n} live rows after puffin masking",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.delta_log import (
        scan_delta_dvcm,
        synth_delta_dvcm,
    )

    tables = [synth_delta_dvcm(s) for s in range(200)]
    secs, n = _timeit(
        lambda: sum(
            scan_delta_dvcm(b)["live_rows"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "delta_dv_column_mapping",
        "media": f"200 tables, {n} live rows (composed features)",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))


def round15_kernels() -> None:
    """Round 12: Delta change data feed, Iceberg string transforms,
    ORC nested types, Puffin compressed blobs, multi-part
    checkpoints."""
    from datawarehouseproject_spark.functions.delta_log import (
        scan_delta,
        scan_delta_cdf,
        synth_delta,
        synth_delta_cdf,
    )

    tables = [synth_delta_cdf(s) for s in range(150)]
    secs, n = _timeit(
        lambda: sum(
            scan_delta_cdf(b)["change_rows"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "delta_change_data_feed",
        "media": f"150 tables x 4 commits, {n} change rows",
        "tables_per_s": int(150 / secs),
        "sec": round(secs, 4),
    }))

    # odd seeds = the 2-part classic checkpoint layout
    tables = [synth_delta(2 * s + 1) for s in range(150)]
    secs, n = _timeit(
        lambda: sum(
            scan_delta(b)["total_live_rows"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "delta_multipart_checkpoint",
        "media": f"150 tables, 2-part checkpoints, {n} live rows",
        "tables_per_s": int(150 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.iceberg_scan import (
        scan_iceberg_puffin,
        scan_iceberg_str,
        synth_iceberg_puffin,
        synth_iceberg_str,
    )

    tables = [synth_iceberg_str(s) for s in range(150)]
    secs, n = _timeit(
        lambda: sum(
            scan_iceberg_str(b)["rows_scanned"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "iceberg_string_transforms",
        "media": f"150 tables, utf8 murmur3 pruning, {n} rows",
        "tables_per_s": int(150 / secs),
        "sec": round(secs, 4),
    }))

    # seeds 1,2 mod 3 = lz4/zstd-compressed DV blobs
    tables = [synth_iceberg_puffin(s) for s in range(150) if s % 3]
    secs, n = _timeit(
        lambda: sum(
            scan_iceberg_puffin(b)["live_rows"] for b in tables
        )
    )
    print(json.dumps({
        "kernel": "puffin_compressed_blobs",
        "media": f"{len(tables)} tables, lz4/zstd DV blobs, {n} live",
        "tables_per_s": int(len(tables) / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.orc_pages import (
        scan_orc_nested,
        synth_orc_nested,
    )

    payloads = [synth_orc_nested(s) for s in range(100)]
    secs, n = _timeit(
        lambda: sum(
            scan_orc_nested(b)["n_rows"] for b in payloads
        )
    )
    print(json.dumps({
        "kernel": "orc_nested_types",
        "media": f"100 files, struct+list+map, {n} rows",
        "rows_per_s": int(n / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.iceberg_scan import (
        list_iceberg_files,
        synth_iceberg_seq,
    )

    tables = [synth_iceberg_seq(s) for s in range(200)]
    secs, n = _timeit(
        lambda: sum(
            len(list_iceberg_files(b)) for b in tables
        )
    )
    print(json.dumps({
        "kernel": "iceberg_files_metadata",
        "media": f"200 tables, {n} manifest entries, zero data reads",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))



def round16_kernels() -> None:
    """Round-13 (build round) additions: Arrow IPC BodyCompression
    decode and the four Iceberg inspection tables."""
    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_values,
        synth_arrow_values,
    )

    # seeds 1,2 mod 3 are lz4/zstd-compressed; 0 uncompressed
    comp = [synth_arrow_values(s) for s in range(1, 600) if s % 3]
    secs, n = _timeit(
        lambda: sum(decode_arrow_values(p)["n_rows"] for p in comp)
    )
    print(json.dumps({
        "kernel": "arrow_ipc_body_compression",
        "media": f"{sum(map(len, comp))} bytes, {len(comp)} files "
                 f"(lz4+zstd), {n} rows",
        "files_per_s": int(len(comp) / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.iceberg_scan import (
        iceberg_all_manifests_table,
        iceberg_history_table,
        iceberg_manifests_table,
        iceberg_partitions_table,
        iceberg_refs_table,
        iceberg_snapshots_table,
        synth_iceberg_inspect,
    )

    tables = [synth_iceberg_inspect(s) for s in range(200)]

    def all_six():
        total = 0
        for b in tables:
            total += len(iceberg_snapshots_table(b))
            total += len(iceberg_history_table(b))
            total += len(iceberg_manifests_table(b))
            total += len(iceberg_partitions_table(b))
            total += len(iceberg_refs_table(b))
            total += len(iceberg_all_manifests_table(b))
        return total

    secs, n = _timeit(all_six)
    print(json.dumps({
        "kernel": "iceberg_inspection_tables",
        "media": f"200 tables x 6 views, {n} rows, zero data reads",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))

    from datawarehouseproject_spark.functions.delta_log import (
        delta_history_table,
        delta_vacuum_candidates,
        synth_delta_history,
    )

    logs = [synth_delta_history(s) for s in range(200)]

    def both_views():
        total = 0
        for b in logs:
            total += len(delta_history_table(b))
            total += len(delta_vacuum_candidates(b))
        return total

    secs, n = _timeit(both_views)
    print(json.dumps({
        "kernel": "delta_table_ops_views",
        "media": f"200 logs x 2 views (history+vacuum), {n} rows",
        "tables_per_s": int(200 / secs),
        "sec": round(secs, 4),
    }))



def round17_kernels() -> None:
    """Round-14-continuation addition: the Hudi COPY_ON_WRITE
    timeline + file-slice reader (synth bundles: 2 completed
    commits, 1 inflight orphan, write-stats cross-checks, every
    base file's parquet read through pyarrow)."""
    from datawarehouseproject_spark.functions.hudi_scan import (
        scan_hudi,
        synth_hudi,
    )

    tables = [synth_hudi(s) for s in range(300)]
    secs, n = _timeit(
        lambda: sum(scan_hudi(t)["total_rows"] for t in tables)
    )
    print(json.dumps({
        "kernel": "hudi_cow_scan",
        "media": f"300 tables ({sum(map(len, tables))} bytes), "
                 f"{n} live rows",
        "tables_per_s": int(300 / secs),
        "sec": round(secs, 4),
    }))


if __name__ == "__main__":
    main()
    archive_kernels()
    round8_kernels()
    round8b_kernels()
    round9_kernels()
    round10_kernels()
    round11b_kernels()
    round12_kernels()
    round12b_kernels()
    round13_kernels()
    round14_kernels()
    round14b_kernels()
    round14c_kernels()
    round15_kernels()
    round16_kernels()
    round17_kernels()
