"""Deterministic fuzz of the permissive-quarantine contract (round
8): every parser in the multimodal/archive surface must either
succeed or raise ValueError on mutated and truncated inputs — any
other exception type escapes `except ValueError` in the permissive
extractors and kills a whole Spark task for one corrupt payload.
The round-8 review passes found three such escapes (OverflowError
from a malformed JPEG DHT, struct.error from PNG CRC truncation and
from a short IHDR) by exactly this procedure; this test pins the
class closed for every parser at once."""

from __future__ import annotations

import numpy as np
import pytest


def _cases():
    from datawarehouseproject_spark.functions import (
        arrow_ipc,
        avi,
        avro_scan,
        bmp,
        bzip2,
        exif,
        flac,
        gif,
        h264,
        hudi_scan,
        inflate,
        ico,
        delta_log,
        iceberg_scan,
        jpeg,
        lz4_codec,
        lzma_codec,
        mime_mail,
        npy_scan,
        pickle_scan,
        tfrecord,
        mpeg_audio,
        orc_footer,
        orc_pages,
        parquet_footer,
        pdf_text,
        parquet_pageindex,
        parquet_pages,
        png,
        protowire,
        sqlite_scan,
        tiff,
        warc,
        wav,
        webp,
        xz_scan,
        zipscan,
        zstd_codec,
    )

    return [
        ("bmp", bmp.synth_bmp, bmp.decode_bmp),
        ("bmp_rle8", bmp.synth_bmp_rle8, bmp.decode_bmp),
        ("wav", wav.synth_wav, wav.decode_wav),
        ("avi", avi.synth_avi, avi.decode_avi),
        ("jpeg", jpeg.synth_jpeg, jpeg.decode_jpeg),
        ("jpeg420", jpeg.synth_jpeg420, jpeg.decode_jpeg),
        ("jpeg_prog", jpeg.synth_jpeg_progressive, jpeg.decode_jpeg),
        ("png", png.synth_png, png.decode_png),
        ("png_palette", png.synth_png_palette, png.decode_png),
        ("gif", gif.synth_gif, gif.decode_gif),
        ("gif_anim", gif.synth_gif_anim, gif.scan_gif_anim),
        ("exif", exif.synth_jpeg_with_exif, exif.parse_exif),
        ("webp", webp.synth_webp, webp.scan_webp),
        ("flac", flac.synth_flac, flac.scan_flac),
        ("tiff", tiff.synth_tiff, tiff.scan_tiff),
        ("zip", zipscan.synth_zip, zipscan.scan_zip),
        ("zip64", zipscan.synth_zip64, zipscan.scan_zip),
        ("tar", zipscan.synth_tar, zipscan.scan_tar),
        ("gzip", zipscan.synth_gzip, zipscan.decode_gzip),
        ("bzip2", bzip2.synth_bz2, bzip2.scan_bz2),
        ("xz", xz_scan.synth_xz, xz_scan.scan_xz),
        (
            "arrow",
            arrow_ipc.synth_arrow_ipc,
            arrow_ipc.scan_arrow_ipc,
        ),
        ("warc", warc.synth_warc, warc.scan_warc),
        ("warc_zst_dict", warc.synth_warc_zst_dict, warc.scan_warc),
        ("mp3", mpeg_audio.synth_mp3, mpeg_audio.scan_mp3),
        (
            "layer1",
            mpeg_audio.synth_mpeg1_layer1,
            mpeg_audio.decode_mpeg1_layer1,
        ),
        ("h264", h264.synth_h264, h264.scan_h264),
        ("h264_ipcm", h264.synth_h264_ipcm, h264.decode_h264_ipcm),
        (
            "parquet",
            parquet_footer.synth_parquet,
            parquet_footer.scan_parquet_footer,
        ),
        (
            "parquet_pages",
            parquet_pages.synth_parquet_data,
            parquet_pages.scan_parquet_values,
        ),
        (
            "parquet_page_index",
            parquet_pageindex.synth_parquet_page_index,
            parquet_pageindex.scan_parquet_page_index,
        ),
        ("orc", orc_footer.synth_orc, orc_footer.scan_orc_footer),
        (
            "orc_compressed",
            orc_footer.synth_orc_compressed,
            orc_footer.scan_orc_footer,
        ),
        (
            "orc_values",
            orc_pages.synth_orc_values,
            orc_pages.scan_orc_values,
        ),
        (
            "orc_rich",
            orc_pages.synth_orc_rich,
            orc_pages.scan_orc_rich,
        ),
        (
            "orc_bloom",
            orc_pages.synth_orc_bloom,
            orc_pages.scan_orc_bloom,
        ),
        (
            "orc_scalars",
            orc_pages.synth_orc_scalars,
            orc_pages.scan_orc_scalars,
        ),
        (
            "orc_nested",
            orc_pages.synth_orc_nested,
            orc_pages.scan_orc_nested,
        ),
        ("ico", ico.synth_ico, ico.scan_ico),
        ("sqlite", sqlite_scan.synth_sqlite, sqlite_scan.scan_sqlite),
        (
            "sqlite_wr",
            sqlite_scan.synth_sqlite_wr,
            sqlite_scan.scan_sqlite_without_rowid,
        ),
        ("mime", mime_mail.synth_email, mime_mail.parse_mime_message),
        ("avro", avro_scan.synth_avro, avro_scan.scan_avro),
        (
            "avro_complex",
            avro_scan.synth_avro_complex,
            avro_scan.scan_avro_complex,
        ),
        (
            "avro_logical",
            avro_scan.synth_avro_logical,
            avro_scan.scan_avro_logical,
        ),
        (
            "avro_evolved",
            avro_scan.synth_avro_evolved,
            avro_scan.scan_avro_evolved,
        ),
        (
            "iceberg",
            iceberg_scan.synth_iceberg,
            iceberg_scan.scan_iceberg,
        ),
        (
            "iceberg_v2",
            iceberg_scan.synth_iceberg_v2,
            iceberg_scan.scan_iceberg_v2,
        ),
        (
            "iceberg_time_travel",
            iceberg_scan.synth_iceberg,
            iceberg_scan.scan_iceberg_time_travel,
        ),
        (
            "iceberg_time_transform",
            iceberg_scan.synth_iceberg_time,
            iceberg_scan.scan_iceberg_v2,
        ),
        (
            "iceberg_seq",
            iceberg_scan.synth_iceberg_seq,
            iceberg_scan.scan_iceberg_v2,
        ),
        (
            "iceberg_multi",
            iceberg_scan.synth_iceberg_multi,
            iceberg_scan.scan_iceberg_v2,
        ),
        (
            "iceberg_puffin",
            iceberg_scan.synth_iceberg_puffin,
            iceberg_scan.scan_iceberg_puffin,
        ),
        (
            "iceberg_str",
            iceberg_scan.synth_iceberg_str,
            iceberg_scan.scan_iceberg_str,
        ),
        (
            "iceberg_dec",
            iceberg_scan.synth_iceberg_dec,
            iceberg_scan.scan_iceberg_dec,
        ),
        (
            "iceberg_files_meta",
            iceberg_scan.synth_iceberg_seq,
            iceberg_scan.list_iceberg_files,
        ),
        (
            "iceberg_snapshots",
            iceberg_scan.synth_iceberg_inspect,
            iceberg_scan.iceberg_snapshots_table,
        ),
        (
            "iceberg_history",
            iceberg_scan.synth_iceberg_inspect,
            iceberg_scan.iceberg_history_table,
        ),
        (
            "iceberg_manifests",
            iceberg_scan.synth_iceberg_inspect,
            iceberg_scan.iceberg_manifests_table,
        ),
        (
            "iceberg_partitions",
            iceberg_scan.synth_iceberg_inspect,
            iceberg_scan.iceberg_partitions_table,
        ),
        (
            "iceberg_refs",
            iceberg_scan.synth_iceberg_inspect,
            iceberg_scan.iceberg_refs_table,
        ),
        (
            "iceberg_all_manifests",
            iceberg_scan.synth_iceberg_inspect,
            iceberg_scan.iceberg_all_manifests_table,
        ),
        (
            "iceberg_expire",
            iceberg_scan.synth_iceberg_expire,
            iceberg_scan.iceberg_expire_snapshots_plan,
        ),
        ("delta", delta_log.synth_delta, delta_log.scan_delta),
        ("hudi", hudi_scan.synth_hudi, hudi_scan.scan_hudi),
        (
            "delta_history",
            delta_log.synth_delta_history,
            delta_log.delta_history_table,
        ),
        (
            "delta_vacuum",
            delta_log.synth_delta_history,
            delta_log.delta_vacuum_candidates,
        ),
        (
            "delta_detail",
            delta_log.synth_delta_history,
            delta_log.delta_detail_table,
        ),
        (
            "delta_partitioned",
            delta_log.synth_delta_partitioned,
            delta_log.scan_delta_partitioned,
        ),
        (
            "delta_dv",
            delta_log.synth_delta_dv,
            delta_log.scan_delta_dv,
        ),
        (
            "delta_cm",
            delta_log.synth_delta_cm,
            delta_log.scan_delta_cm,
        ),
        (
            "delta_tt",
            delta_log.synth_delta_tt,
            delta_log.scan_delta_time_travel,
        ),
        (
            "delta_v2cp",
            delta_log.synth_delta_v2cp,
            delta_log.scan_delta_v2cp,
        ),
        (
            "delta_dvcm",
            delta_log.synth_delta_dvcm,
            delta_log.scan_delta_dvcm,
        ),
        (
            "delta_cdf",
            delta_log.synth_delta_cdf,
            delta_log.scan_delta_cdf,
        ),
        (
            "delta_cdf_cm",
            delta_log.synth_delta_cdf_cm,
            delta_log.scan_delta_cdf_cm,
        ),
        ("deflate", inflate.synth_deflate, inflate.inflate),
        ("pdf", pdf_text.synth_pdf, pdf_text.extract_pdf_text),
        (
            "pdf_xref_stream",
            pdf_text.synth_pdf_xref_stream,
            pdf_text.extract_pdf_text,
        ),
        (
            "pdf_incremental",
            pdf_text.synth_pdf_incremental,
            pdf_text.extract_pdf_text,
        ),
        ("xz_full", lzma_codec.synth_xz_text, lzma_codec.decode_xz),
        ("lz4_frame", lz4_codec.synth_lz4, lz4_codec.scan_lz4_frame),
        ("zstd", zstd_codec.synth_zstd, zstd_codec.decode_zstd),
        ("pickle", pickle_scan.synth_pickle, pickle_scan.scan_pickle),
        ("npz", npy_scan.synth_npz, npy_scan.scan_npz),
        ("tfrecord", tfrecord.synth_tfrecord, tfrecord.scan_tfrecord),
        (
            "tfrecord_compressed",
            tfrecord.synth_tfrecord_compressed,
            tfrecord.scan_tfrecord,
        ),
        (
            "arrow_values",
            arrow_ipc.synth_arrow_values,
            arrow_ipc.decode_arrow_values,
        ),
        (
            "arrow_stream",
            arrow_ipc.synth_arrow_stream,
            arrow_ipc.decode_arrow_stream,
        ),
        (
            "arrow_dict",
            arrow_ipc.synth_arrow_dict,
            arrow_ipc.decode_arrow_values,
        ),
        (
            "arrow_dict_stream",
            arrow_ipc.synth_arrow_dict_stream,
            arrow_ipc.decode_arrow_stream,
        ),
        # the parse functions the extract_* operators call directly
        ("deflate_decode", inflate.synth_deflate, inflate.decode_deflate),
        ("id3", mpeg_audio.synth_mp3_id3, mpeg_audio.parse_id3),
        ("proto", protowire.synth_record, protowire.parse_record),
        ("xz_text", lzma_codec.synth_xz_text, lzma_codec.decode_xz_text),
        ("zstd_text", zstd_codec.synth_zstd, zstd_codec.decode_zstd_text),
        (
            "h264_ipcm_sums",
            h264.synth_h264_ipcm,
            h264.decode_h264_ipcm_sums,
        ),
        ("bmp_features", bmp.synth_bmp, bmp.decode_bmp_features),
        ("png_features", png.synth_png, png.decode_png_features),
        ("gif_features", gif.synth_gif, gif.decode_gif_features),
        ("jpeg_features", jpeg.synth_jpeg420, jpeg.decode_jpeg_features),
    ]


@pytest.mark.parametrize("name,synth,scan", _cases(), ids=lambda c: c if isinstance(c, str) else "")
def test_mutation_and_truncation_only_raise_valueerror(name, synth, scan):
    rng = np.random.RandomState(0xC0FFEE)
    payload = bytearray(synth(7))
    n = len(payload)
    # 150 deterministic single-byte mutations
    for _ in range(150):
        i = int(rng.randint(0, n))
        old = payload[i]
        payload[i] = int(rng.randint(0, 256))
        try:
            scan(bytes(payload))
        except ValueError:
            pass  # the quarantine contract
        finally:
            payload[i] = old
    # truncation sweep (40 cut points incl. the tail bytes)
    cuts = sorted(
        set(
            list(range(max(0, n - 12), n))
            + [int(rng.randint(0, n)) for _ in range(28)]
        )
    )
    for cut in cuts:
        try:
            scan(bytes(payload[:cut]))
        except ValueError:
            pass


def test_every_permissive_parser_is_fuzzed(multimodal_kernel_calls):
    """A parser an operator runs with ``permissive=True`` must be in
    :func:`_cases`, or a non-ValueError escape from it goes unseen."""
    import importlib

    fuzzed = {scan for _, _, scan in _cases()}
    permissive = {
        (module, fn)
        for calls in multimodal_kernel_calls.values()
        for _, module, fn, is_permissive in calls
        if is_permissive
    }
    assert len(permissive) > 60
    missing = [
        f"{module}.{fn}"
        for module, fn in sorted(permissive)
        if getattr(
            importlib.import_module(f"datawarehouseproject_spark.functions.{module}"),
            fn,
        ) not in fuzzed
    ]
    assert missing == []
