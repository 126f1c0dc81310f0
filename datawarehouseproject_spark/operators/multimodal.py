"""Multimodal column plumbing: binary payloads + typed metadata.

Treats image/audio/video as opaque ``binary`` columns with a typed
metadata struct, processed by Arrow-batched ``mapInPandas`` — the
shape a 100 TB multimodal training pipeline needs from Spark:

- payloads stay as bytes end to end (no base64, no driver round-trip);
- feature extraction is per-batch Python over Arrow buffers;
- partitioning is by content size so decode work balances.

Decode is REAL for the codec-free formats of each modality, all via
pure-Python parsers (no codec libs needed) with integer-exact DuckDB
oracles over synthesized media:

- image: 24-bit BMP (``extract_image_features``, ``resize_bmp``;
  :mod:`..functions.bmp`);
- audio: 16-bit PCM WAV (``extract_audio_features``;
  :mod:`..functions.wav`);
- video: uncompressed-DIB AVI (``sample_frames``;
  :mod:`..functions.avi`), sampled frames re-encoded as BMPs so the
  image operators compose downstream.

The generic byte-statistics path (``decode_stub``) remains for
arbitrary payloads. Compressed formats decode natively too: PNG
(DEFLATE + Adam7 + gray/palette, :mod:`..functions.png`), GIF (LZW +
89a animation triage, :mod:`..functions.gif`), JPEG — baseline,
subsampled 4:2:0/4:2:2 with restarts, AND progressive SOF2
(:mod:`..functions.jpeg`), ADPCM audio (:mod:`..functions.adpcm`),
MPEG-1 Layer I samples (:mod:`..functions.mpeg_audio`), H.264 I_PCM
pixels (:mod:`..functions.h264`). Structure/metadata triage covers
MP3/ID3, H.264 NAL/SPS, EXIF + multi-page TIFF, WebP, FLAC, GIF
animations, ZIP/ZIP64, tar (pax/GNU), gzip, protobuf, and the
engine's own parquet/ORC footers — fronted by the magic-byte format
sniffer (``sniff_media``) that routes an unlabeled corpus. The remaining
decode boundaries are documented per module: MP3 Layer II/III PCM
(unreproducible ISO tables), H.264 CAVLC/CABAC residuals, VP8
entropy, TIFF strips — a production pipeline routes those payloads
to ffmpeg AFTER this triage layer decides what is worth routing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.StructType(
            [
                T.StructField("mime", T.StringType()),
                T.StructField("width", T.IntegerType()),
                T.StructField("height", T.IntegerType()),
            ]
        )),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("thumb_checksum", T.LongType()),
    ]
)


def decode_stub(payload: bytes) -> dict:
    """Deterministic stand-in for a real media decode.

    Production would return pixels/samples; the stub derives cheap,
    reproducible statistics so tests exercise the full batch path.
    Vectorized (``np.bincount`` histogram + weighted prefix sum) so
    even the generic path has no per-byte Python.
    """
    import math

    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    n = arr.size or 1
    # histogram via bincount; the -p*log2(p) sum runs over <=256
    # unique byte values in FIRST-OCCURRENCE order, exactly matching
    # the original Counter-based formula (the oracle compares float
    # repr, so summation order must stay bit-identical)
    if arr.size:
        vals, first_idx = np.unique(arr, return_index=True)
        counts = np.bincount(arr)[vals][np.argsort(first_idx)]
        entropy = -sum((int(c) / n) * math.log2(int(c) / n) for c in counts)
    else:
        entropy = 0.0
    head = arr[:64].astype(np.int64)
    checksum = int((head * np.arange(1, head.size + 1)).sum() % (1 << 31))
    return {"n_bytes": len(payload), "byte_entropy": entropy, "thumb_checksum": checksum}


def extract_media_features(media: DataFrame) -> DataFrame:
    """binary payloads -> feature rows via Arrow-batched mapInPandas.

    One pass, no shuffle; each Arrow batch is decoded in a single
    Python call. At scale, precede with
    ``repartitionByRange(n, "media_id")`` if payload sizes are skewed.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decode_stub(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_images(
    media: DataFrame, width: int = 224, height: int = 224
) -> DataFrame:
    """Batch image resize via mapInPandas.

    The pixel work is STUBBED (no imaging libs in this container):
    the stub emits a deterministic payload of the target byte size so
    partitioning/schema/batch behavior is real and testable; swap
    ``_resize_stub`` for PIL's ``Image.resize`` in production.
    """

    def _resize_stub(payload: bytes) -> bytes:
        # deterministic fake: tile the source bytes to w*h length
        target = width * height
        if not payload:
            return bytes(target)
        reps = target // len(payload) + 1
        return (payload * reps)[:target]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "payload": [_resize_stub(bytes(p)) for p in pdf["payload"]],
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(batches, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 30) -> DataFrame:
    """REAL video frame sampling via mapInPandas (1:N row expansion).

    Demuxes uncompressed-DIB AVI payloads (pure-Python RIFF walker,
    :mod:`..functions.avi` — no ffmpeg needed for this codec), keeps
    every ``every_n``-th frame, and re-encodes each kept frame as a
    standalone BMP so downstream image operators
    (:func:`extract_image_features`, :func:`resize_bmp`) compose
    directly. ``frame_idx`` is the ORIGINAL stream index (0, n, 2n…).
    Compressed codecs still need ffmpeg/pyav — swap the decode call
    for production formats.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.avi import decode_avi
        from ..functions.bmp import encode_bmp

        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, all_frames = decode_avi(bytes(p))
                except ValueError as e:
                    raise ValueError(f"media_id={mid}: {e}") from e
                for i in range(0, len(all_frames), every_n):
                    ids.append(int(mid))
                    idxs.append(i)
                    frames.append(encode_bmp(w, h, all_frames[i]))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(batches, schema=FRAME_SCHEMA)


def synthesize_avi_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real uncompressed-DIB AVI
    clips (``functions/avi.py:synth_avi``): frame count, size, and
    every pixel derive from the id by modular arithmetic."""

    def loader():
        from ..functions.avi import synth_avi

        return synth_avi

    return _synthesize_media(ids, id_col, loader)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sum_amplitude", T.LongType()),
        T.StructField("sum_abs_amplitude", T.LongType()),
    ]
)


def synthesize_wav_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real 16-bit PCM WAV clips
    (``functions/wav.py:synth_wav``), deterministic per id."""

    def loader():
        from ..functions.wav import synth_wav

        return synth_wav

    return _synthesize_media(ids, id_col, loader)


def resample_wav(media: DataFrame, factor: int) -> DataFrame:
    """REAL audio resample: decode WAV -> integer decimation (every
    ``factor``-th frame) -> re-encode at rate/factor, per Arrow batch.

    Output payloads are valid WAVs, so :func:`extract_audio_features`
    composes downstream (the audio analogue of :func:`resize_bmp`).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.wav import decimate, decode_wav, encode_wav

        for pdf in it:
            payloads = []
            for p in pdf["payload"]:
                rate, channels, frames = decode_wav(bytes(p))
                payloads.append(
                    encode_wav(rate // factor, channels, decimate(frames, factor))
                )
            yield pd.DataFrame({"media_id": pdf["media_id"].values, "payload": payloads})

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode: RIFF/PCM WAV header+sample parse per
    payload via Arrow-batched mapInPandas.

    Emits integer-exact statistics (frame count, signed and absolute
    amplitude sums over all channels) so the value oracle needs no
    float tolerance; rate/channel metadata come from the actual fmt
    chunk, not the synthesis formula.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.wav import decode_wav

        for pdf in it:
            out = {k: [] for k in ("media_id", "sample_rate", "channels",
                                   "n_frames", "sum_amplitude",
                                   "sum_abs_amplitude")}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                try:
                    rate, channels, frames = decode_wav(bytes(p))
                except ValueError as e:
                    raise ValueError(f"media_id={mid}: {e}") from e
                wide = frames.astype("int64")  # vectorized amplitude sums
                out["media_id"].append(int(mid))
                out["sample_rate"].append(rate)
                out["channels"].append(channels)
                out["n_frames"].append(len(frames))
                out["sum_amplitude"].append(int(wide.sum()))
                out["sum_abs_amplitude"].append(int(abs(wide).sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=AUDIO_FEATURE_SCHEMA)


#: Feature columns appended to the passthrough (non-payload) columns.
IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def _balanced_ids(ids: DataFrame, id_col: str) -> DataFrame:
    """Round-robin the id column across the session's parallelism
    before a per-payload mapInPandas: the documents table is a single
    small parquet file (1 input split), so without this EVERY
    synthesized payload is encoded and decoded on ONE Python worker —
    observed as jpeg_image_features running ~12× slower than its
    single-thread codec cost. The shuffled rows are bare ids, so the
    exchange is a few KB; the payload work is what gets spread."""
    n = ids.sparkSession.sparkContext.defaultParallelism
    return ids.select(id_col).repartition(n)


def synthesize_bmp_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real 24-bit BMP bytes.

    Deterministic synthesis (``functions/bmp.py:synth_bmp``): size and
    every pixel derive from the id by modular arithmetic, so the DuckDB
    oracle can recompute any statistic the decoder extracts. This is
    the test-scaffolding half; the operator under test is the DECODE.
    """

    def loader():
        from ..functions.bmp import synth_bmp

        return synth_bmp

    return _synthesize_media(ids, id_col, loader)


def synthesize_png_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real 8-bit truecolor PNG
    bytes (``functions/png.py:synth_png``): size and every pixel
    derive from the id by modular arithmetic (distinct formulas from
    the BMP family), then pass through filter + DEFLATE encoding —
    so the oracle-checked decode has to undo real compression."""

    def loader():
        from ..functions.png import synth_png

        return synth_png

    return _synthesize_media(ids, id_col, loader)


def synthesize_gif_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real GIF87a bytes
    (``functions/gif.py:synth_gif``): palette indices from modular
    arithmetic over the id, then REAL variable-width LZW encoding —
    the second compressed format, with a different compression
    algorithm than PNG's DEFLATE."""

    def loader():
        from ..functions.gif import synth_gif

        return synth_gif

    return _synthesize_media(ids, id_col, loader)


def synthesize_jpeg_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real baseline JPEG bytes
    (``functions/jpeg.py:synth_jpeg``): every 8×8 block is a constant
    gray from modular arithmetic over the id, which is exactly the
    construction that survives lossy JPEG bit-exactly (DC-only
    blocks, DC quant step 1, gray ⇒ Cb=Cr=128) — so the decode is
    value-checkable by the DuckDB oracle like the lossless codecs."""

    def loader():
        from ..functions.jpeg import synth_jpeg

        return synth_jpeg

    return _synthesize_media(ids, id_col, loader)


def synthesize_jpeg420_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real 4:2:0-subsampled
    JPEGs WITH restart intervals
    (``functions/jpeg.py:synth_jpeg420``) — the profile virtually
    every camera/web photo uses (2×2 luma sampling, RSTn markers).
    Every 16×16 MACROBLOCK is a constant gray from modular
    arithmetic over the id: all four luma blocks of an MCU are
    DC-only (exact under DC quant step 1), gray keeps the
    box-averaged chroma at the constant 128, and nearest-neighbor
    upsampling of a constant is exact — so even the subsampled lossy
    path is value-checkable by the DuckDB oracle."""

    def loader():
        from ..functions.jpeg import synth_jpeg420

        return synth_jpeg420

    return _synthesize_media(ids, id_col, loader)


def synthesize_progressive_jpeg_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of real PROGRESSIVE (SOF2)
    4:2:0 JPEGs with restart intervals
    (``functions/jpeg.py:synth_jpeg_progressive``) — the web-delivery
    profile: a libjpeg-style 10-scan script with spectral selection
    and successive approximation. Every 16×16 MACROBLOCK is a
    constant gray from modular arithmetic over the id, so DC
    successive approximation is lossless (first scan sends DC>>1,
    the refinement scan restores bit 0) and every AC scan codes pure
    end-of-band — the decoded pixels equal the synthesis formula
    EXACTLY and stay value-checkable by the DuckDB oracle."""

    def loader():
        from ..functions.jpeg import synth_jpeg_progressive

        return synth_jpeg_progressive

    return _synthesize_media(ids, id_col, loader)


def extract_image_features(
    media: DataFrame, permissive: bool = False, codec: str = "bmp"
) -> DataFrame:
    """REAL image decode per payload, via Arrow-batched mapInPandas.

    ``codec='bmp'`` parses the uncompressed DIB format (bottom-up BGR
    rows, 4-byte row padding); ``codec='png'`` runs the full
    compressed path (chunk walk + CRC + DEFLATE inflate + per-row
    un-filtering, :mod:`..functions.png`). Both aggregate integer
    channel sums — exact, so the value-level oracle needs no float
    tolerance. One pass, no shuffle. Every non-``payload`` input
    column is passed through (so e.g. ``frame_idx`` from
    :func:`sample_frames` survives into the feature rows).

    Error contract, chosen per job: strict (default) raises with the
    offending media_id — right for synthesized/trusted inputs where a
    decode error means a code bug; ``permissive=True`` emits the row
    with NULL features and the message in ``decode_error`` — right
    for web-scale corpora where one corrupt payload must not kill a
    100 TB job (mirrors Spark's PERMISSIVE reader mode +
    ``_corrupt_record``).
    """
    if codec not in ("bmp", "png", "gif", "jpeg"):
        raise ValueError(f"unsupported image codec {codec!r}")
    keep = [f for f in media.schema.fields if f.name != "payload"]
    fields = list(keep) + list(IMAGE_FEATURE_SCHEMA.fields)
    if permissive:
        fields.append(T.StructField("decode_error", T.StringType()))
    schema = T.StructType(fields)
    keep_names = [f.name for f in keep]
    feat_names = ("width", "height", "n_pixels", "sum_r", "sum_g", "sum_b")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if codec == "png":
            from ..functions.png import decode_png as decode_bmp
        elif codec == "gif":
            from ..functions.gif import decode_gif as decode_bmp
        elif codec == "jpeg":
            from ..functions.jpeg import decode_jpeg as decode_bmp
        else:
            from ..functions.bmp import decode_bmp

        for pdf in it:
            feats: dict[str, list] = {k: [] for k in feat_names}
            errors: list[str | None] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, rows = decode_bmp(bytes(p))
                except ValueError as e:
                    if not permissive:
                        raise ValueError(f"media_id={mid}: {e}") from e
                    for k in feat_names:
                        feats[k].append(None)
                    errors.append(str(e))
                    continue
                sums = rows.astype("int64").sum(axis=(0, 1))  # vectorized channel sums
                feats["width"].append(w)
                feats["height"].append(h)
                feats["n_pixels"].append(w * h)
                feats["sum_r"].append(int(sums[0]))
                feats["sum_g"].append(int(sums[1]))
                feats["sum_b"].append(int(sums[2]))
                errors.append(None)
            cols = {k: pdf[k].array for k in keep_names}
            cols.update(feats)
            if permissive:
                cols["decode_error"] = errors
            yield pd.DataFrame(cols)

    return media.mapInPandas(batches, schema=schema)


def resize_bmp(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize: decode BMP -> nearest-neighbor resample ->
    re-encode BMP, per Arrow batch.

    The index mapping (``x*sw//tw``) is floor-division, mirrored in
    the oracle SQL, so features of the resized output are also
    integer-exact. Output payloads are valid BMPs — the pipeline
    composes (resize -> extract_image_features) like production would.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.bmp import decode_bmp, encode_bmp, resize_nearest

        for pdf in it:
            payloads = []
            for p in pdf["payload"]:
                _, _, rows = decode_bmp(bytes(p))
                payloads.append(encode_bmp(width, height, resize_nearest(rows, width, height)))
            yield pd.DataFrame({"media_id": pdf["media_id"].values, "payload": payloads})

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


ADPCM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("encoded_bytes", T.LongType()),
        T.StructField("sum_amplitude", T.LongType()),
        T.StructField("max_abs_error", T.LongType()),
    ]
)


def adpcm_roundtrip_features(media: DataFrame) -> DataFrame:
    """COMPRESSED audio: IMA ADPCM 4:1 round-trip per WAV payload
    (:mod:`..functions.adpcm` — the audio analogue of PNG/GIF's
    compressed decode, but LOSSY and inherently sequential, so the
    registry entry is rows-only; the state machine is pinned by
    tests/test_adpcm.py goldens instead of a SQL oracle).

    Per clip: decode WAV, take channel 0, encode to 4-bit ADPCM,
    decode back, and report reconstruction stats — sample count,
    compressed size, amplitude sum of the reconstruction, and the
    max absolute reconstruction error vs the original.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions.adpcm import decode_adpcm, encode_adpcm
        from ..functions.wav import decode_wav

        for pdf in it:
            out = {k: [] for k in ("media_id", "n_samples", "encoded_bytes",
                                   "sum_amplitude", "max_abs_error")}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                _, _, frames = decode_wav(bytes(p))
                mono = frames[:, 0].astype(np.int64)
                enc = encode_adpcm(mono)
                rec = decode_adpcm(enc).astype(np.int64)
                out["media_id"].append(int(mid))
                out["n_samples"].append(int(mono.size))
                out["encoded_bytes"].append(len(enc))
                out["sum_amplitude"].append(int(rec.sum()))
                out["max_abs_error"].append(
                    int(np.abs(rec - mono).max()) if mono.size else 0
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=ADPCM_FEATURE_SCHEMA)


def resize_png(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL compressed-image resize: inflate + un-filter PNG ->
    nearest-neighbor resample -> re-filter + deflate PNG, per Arrow
    batch. Same floor-division index mapping as :func:`resize_bmp`,
    so resized features stay integer-exact; output payloads are valid
    PNGs and compose with ``extract_image_features(codec='png')``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.bmp import resize_nearest
        from ..functions.png import decode_png, encode_png

        for pdf in it:
            payloads = []
            for p in pdf["payload"]:
                _, _, rows = decode_png(bytes(p))
                payloads.append(
                    encode_png(width, height, resize_nearest(rows, width, height))
                )
            yield pd.DataFrame({"media_id": pdf["media_id"].values, "payload": payloads})

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


PHASH_W, PHASH_H = 7, 9  # 63 bits — fits signed BIGINT exactly


def image_phash(media: DataFrame, codec: str = "bmp") -> DataFrame:
    """Perceptual average-hash per image — the content-based IMAGE
    dedup key (byte-level dedup misses re-encodes; aHash survives
    them): decode, nearest-neighbor resample to a fixed 7×9 grid
    (63 cells so the hash fits a signed BIGINT), integer grayscale
    ``(r+g+b) div 3``, threshold each cell at the integer mean
    ``sum div 63``, pack bits little-endian. Every step is integer
    arithmetic on the floor-division resample — the DuckDB oracle
    recomputes the hash bit-for-bit from the synth-pixel formula.
    Returns ``(media_id, phash)``; near-dup images then dedup by
    exact hash equality (or Hamming-distance bucketing at scale).
    """
    if codec not in ("bmp", "png", "gif", "jpeg"):
        raise ValueError(f"unsupported image codec {codec!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions.bmp import resize_nearest

        # same codec dispatch as extract_image_features — the codec
        # parameter was previously accepted but silently ignored
        # (every payload was parsed as BMP)
        if codec == "png":
            from ..functions.png import decode_png as decode_img
        elif codec == "gif":
            from ..functions.gif import decode_gif as decode_img
        elif codec == "jpeg":
            from ..functions.jpeg import decode_jpeg as decode_img
        else:
            from ..functions.bmp import decode_bmp as decode_img

        for pdf in it:
            ids, hashes = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                _, _, rows = decode_img(bytes(p))
                grid = resize_nearest(rows, PHASH_W, PHASH_H).astype(np.int64)
                gray = grid.sum(axis=2) // 3  # integer grayscale per cell
                mean = int(gray.sum()) // (PHASH_W * PHASH_H)
                bits = (gray >= mean).reshape(-1)  # row-major, y*W+x
                h = int(
                    (bits.astype(np.int64) << np.arange(PHASH_W * PHASH_H)).sum()
                )
                ids.append(int(mid))
                hashes.append(h)
            yield pd.DataFrame({"media_id": ids, "phash": hashes})

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("phash", T.LongType()),
        ]
    )
    return media.mapInPandas(batches, schema=schema)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for tests/bench: treat document text bytes as an
    opaque payload with fake image metadata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            (F.col("doc_id") % 640).cast("int").alias("width"),
            (F.col("doc_id") % 480).cast("int").alias("height"),
        ).alias("meta"),
    )


def audio_frame_energy(media: DataFrame) -> DataFrame:
    """REAL audio decode to per-frame energy rows: ``(media_id,
    frame_idx, energy)`` where energy is the integer sum of absolute
    amplitudes across channels for that frame — the 1:N expansion
    that temporal audio operators (VAD-style activity segmentation,
    silence trimming) window over.

    Vectorized per Arrow batch: one ``np.abs(...).sum(axis=1)`` per
    payload, no per-sample Python. Only three longs per frame leave
    the executor — raw samples never ship. Composes with
    :func:`resample_wav` upstream (payloads are plain WAVs)."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.wav import decode_wav

        for pdf in it:
            mids, idxs, energies = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                _, _, frames = decode_wav(bytes(p))
                e = np.abs(frames.astype(np.int64)).sum(axis=1)
                n = len(e)
                mids.extend([int(mid)] * n)
                idxs.extend(range(n))
                energies.extend(int(x) for x in e)
            yield pd.DataFrame(
                {"media_id": mids, "frame_idx": idxs, "energy": energies}
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("energy", T.LongType()),
        ]
    )
    return media.select("media_id", "payload").mapInPandas(
        batches, schema=schema
    )


def synthesize_mp3_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real MPEG-1 Layer III
    frame sequences behind ID3v2 tags (``functions/mpeg_audio.py``):
    frame count, VBR bitrate ladder, paddings and tag size all derive
    from the id by modular arithmetic, so the oracle can recompute
    every statistic the frame walk extracts — including the total
    byte length, which validates the 144·kbps/rate arithmetic."""

    def loader():
        from ..functions.mpeg_audio import synth_mp3

        return synth_mp3

    return _synthesize_media(ids, id_col, loader)


def synthesize_layer1_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real MPEG-1 Layer I mono
    streams (``functions/mpeg_audio.py:synth_mpeg1_layer1``): frame
    count, sample rate, per-subband allocation/scalefactor/sample
    codes all derive from the id by modular arithmetic, so the
    oracle can recompute every requantized amplitude the decoder
    extracts."""

    def loader():
        from ..functions.mpeg_audio import synth_mpeg1_layer1

        return synth_mpeg1_layer1

    return _synthesize_media(ids, id_col, loader)


LAYER1_SUBBAND_SCHEMA = T.StructType(
    [
        T.StructField("frame", T.IntegerType()),
        T.StructField("subband", T.IntegerType()),
        T.StructField("nb", T.IntegerType()),
        T.StructField("sf_idx", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sum_amp_micro", T.LongType()),
        T.StructField("max_amp_micro", T.LongType()),
    ]
)


def extract_layer1_subband_features(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """MPEG-1 Layer I SAMPLE decode per payload via Arrow-batched
    mapInPandas: bit-exact allocation/scalefactor/sample unpacking +
    ISO requantization to integer micro-unit amplitudes
    (:func:`..functions.mpeg_audio.decode_mpeg1_layer1`). One output
    row per (payload, frame, active subband) — the subband-domain
    audio content a corpus pipeline aggregates for loudness/activity
    features. Error contract mirrors
    :func:`extract_image_features`: strict raises with the media_id;
    ``permissive=True`` quarantines the payload as a single
    NULL-feature row with ``decode_error``."""
    keep = [f for f in media.schema.fields if f.name != "payload"]
    fields = list(keep) + list(LAYER1_SUBBAND_SCHEMA.fields)
    if permissive:
        fields.append(T.StructField("decode_error", T.StringType()))
    schema = T.StructType(fields)
    keep_names = [f.name for f in keep]
    feat_names = tuple(f.name for f in LAYER1_SUBBAND_SCHEMA.fields)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.mpeg_audio import decode_mpeg1_layer1

        for pdf in it:
            out_rows: list[dict] = []
            for _, row in pdf.iterrows():
                mid = row["media_id"]
                base = {k: row[k] for k in keep_names}
                try:
                    decoded = decode_mpeg1_layer1(bytes(row["payload"]))
                except ValueError as e:
                    if not permissive:
                        raise ValueError(f"media_id={mid}: {e}") from e
                    quarantined = dict(base)
                    quarantined.update({k: None for k in feat_names})
                    quarantined["decode_error"] = str(e)
                    out_rows.append(quarantined)
                    continue
                for d in decoded:
                    r = dict(base)
                    r.update(d)
                    if permissive:
                        r["decode_error"] = None
                    out_rows.append(r)
            yield pd.DataFrame(
                out_rows, columns=[f.name for f in schema.fields]
            )

    return media.mapInPandas(batches, schema=schema)


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("byte_order", T.StringType()),
        T.StructField("make", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("xres_num", T.IntegerType()),
        T.StructField("datetime", T.StringType()),
        T.StructField("iso", T.IntegerType()),
        T.StructField("exposure_den", T.IntegerType()),
    ]
)


def synthesize_exif_jpeg_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of real 4:2:0 JPEGs carrying
    an EXIF APP1 segment (``functions/exif.py``): TIFF header with
    id-alternating II/MM byte order, IFD0
    (make/model/orientation/resolution/datetime) and the Exif
    sub-IFD (ISO, exposure) — every field modular arithmetic over
    the id, so the oracle recomputes all of them."""

    def loader():
        from ..functions.exif import synth_jpeg_with_exif

        return synth_jpeg_with_exif

    return _synthesize_media(ids, id_col, loader)


def _extract_metadata(
    media: DataFrame,
    feature_schema: T.StructType,
    parser_loader,
    permissive: bool,
) -> DataFrame:
    """Shared shape of every one-row-per-payload extractor, the
    ``extract_*`` metadata triages and full decodes alike:
    Arrow-batched mapInPandas, a dict-returning parser resolved lazily
    ON THE EXECUTOR (``parser_loader``), and the strict/permissive
    error contract of :func:`extract_image_features`. Each output
    batch is the input's non-payload columns plus one column per
    ``feature_schema`` field (and ``decode_error`` when permissive),
    built in one ``pd.DataFrame`` call."""
    keep = [f for f in media.schema.fields if f.name != "payload"]
    fields = list(keep) + list(feature_schema.fields)
    if permissive:
        fields.append(T.StructField("decode_error", T.StringType()))
    schema = T.StructType(fields)
    keep_names = [f.name for f in keep]
    feat_names = tuple(f.name for f in feature_schema.fields)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parse = parser_loader()
        for pdf in it:
            feats: dict[str, list] = {k: [] for k in feat_names}
            errors: list[str | None] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                try:
                    meta = parse(bytes(p))
                except ValueError as e:
                    if not permissive:
                        raise ValueError(f"media_id={mid}: {e}") from e
                    for k in feat_names:
                        feats[k].append(None)
                    errors.append(str(e))
                    continue
                for k in feat_names:
                    feats[k].append(meta[k])
                errors.append(None)
            cols = {k: pdf[k].array for k in keep_names}
            cols.update(feats)
            if permissive:
                cols["decode_error"] = errors
            yield pd.DataFrame(cols)

    return media.mapInPandas(batches, schema=schema)


def extract_exif_metadata(media: DataFrame, permissive: bool = False) -> DataFrame:
    """EXIF metadata triage per JPEG payload: marker walk to APP1,
    II/MM byte-order dispatch, IFD entry decode with
    inline-vs-offset value resolution, Exif sub-IFD recursion
    (:func:`..functions.exif.parse_exif`)."""

    def loader():
        from ..functions.exif import parse_exif

        return parse_exif

    return _extract_metadata(media, EXIF_SCHEMA, loader, permissive)


ID3_SCHEMA = T.StructType(
    [
        T.StructField("version", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("artist", T.StringType()),
        T.StructField("album", T.StringType()),
        T.StructField("track", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def synthesize_id3_mp3_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of MPEG streams behind REAL
    ID3v2.3/v2.4 tags (``functions/mpeg_audio.py:synth_mp3_id3``) —
    version alternates by id so both frame-size codecs (big-endian
    vs syncsafe) run on every batch."""

    def loader():
        from ..functions.mpeg_audio import synth_mp3_id3

        return synth_mp3_id3

    return _synthesize_media(ids, id_col, loader)


def extract_id3_tags(media: DataFrame, permissive: bool = False) -> DataFrame:
    """ID3v2 tag triage per MP3 payload
    (:func:`..functions.mpeg_audio.parse_id3`): header validation,
    the v2.3/v2.4 frame-size fork, frame walk, text decode."""

    def loader():
        from ..functions.mpeg_audio import parse_id3

        return parse_id3

    return _extract_metadata(media, ID3_SCHEMA, loader, permissive)


PROTO_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("event_count", T.LongType()),
        T.StructField("balance", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("sub_kind", T.IntegerType()),
        T.StructField("sub_tag", T.StringType()),
        T.StructField("packed_sum", T.LongType()),
        T.StructField("n_unknown", T.IntegerType()),
    ]
)


def synthesize_proto_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of serialized protobuf wire
    records (``functions/protowire.py:synth_record``): varints,
    zigzag, fixed32, strings, a nested message, packed repeated
    ints, and one deliberately unknown field."""

    def loader():
        from ..functions.protowire import synth_record

        return synth_record

    return _synthesize_media(ids, id_col, loader)


def extract_proto_records(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Protobuf wire-format decode per payload
    (:func:`..functions.protowire.parse_record`): varint/zigzag/
    fixed/length-delimited walk, nested-message recursion, packed
    repeated scalars, unknown-field skipping."""

    def loader():
        from ..functions.protowire import parse_record

        return parse_record

    return _extract_metadata(media, PROTO_RECORD_SCHEMA, loader, permissive)


ZIP_SCHEMA = T.StructType(
    [
        T.StructField("n_members", T.IntegerType()),
        T.StructField("n_stored", T.IntegerType()),
        T.StructField("n_deflated", T.IntegerType()),
        T.StructField("total_uncompressed", T.LongType()),
        T.StructField("member_names", T.StringType()),
    ]
)


def synthesize_zip_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of ZIP archives written by
    the STDLIB ``zipfile`` producer (``functions/zipscan.py``) — an
    independent writer, so the scanner parses a real third-party
    byte layout."""

    def loader():
        from ..functions.zipscan import synth_zip

        return synth_zip

    return _synthesize_media(ids, id_col, loader)


def extract_zip_structure(media: DataFrame, permissive: bool = False) -> DataFrame:
    """ZIP central-directory triage per payload
    (:func:`..functions.zipscan.scan_zip`): EOCD backward scan,
    entry validation, central-header walk. Reads the archive TAIL —
    member data never decompresses."""

    def loader():
        from ..functions.zipscan import scan_zip

        def parse(payload: bytes) -> dict:
            out = scan_zip(payload)
            out.pop("members")
            return out

        return parse

    return _extract_metadata(media, ZIP_SCHEMA, loader, permissive)


TAR_SCHEMA = T.StructType(
    [
        T.StructField("n_members", T.IntegerType()),
        T.StructField("total_bytes", T.LongType()),
        T.StructField("n_dirs_refd", T.IntegerType()),
        T.StructField("member_names", T.StringType()),
    ]
)


def synthesize_tar_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of ustar archives written by
    the STDLIB ``tarfile`` producer (``functions/zipscan.py``)."""

    def loader():
        from ..functions.zipscan import synth_tar

        return synth_tar

    return _synthesize_media(ids, id_col, loader)


def extract_tar_structure(media: DataFrame, permissive: bool = False) -> DataFrame:
    """ustar header-walk triage per payload
    (:func:`..functions.zipscan.scan_tar`): octal fields, checksum
    verification, 512-aligned skips, end-of-archive marker."""

    def loader():
        from ..functions.zipscan import scan_tar

        def parse(payload: bytes) -> dict:
            out = scan_tar(payload)
            out.pop("members")
            return out

        return parse

    return _extract_metadata(media, TAR_SCHEMA, loader, permissive)


GZIP_SCHEMA = T.StructType(
    [
        T.StructField("fname", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_bytes", T.LongType()),
    ]
)


def synthesize_gzip_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of RFC 1952 gzip members
    (stdlib zlib producer, FNAME flag set, fixed mtime)."""

    def loader():
        from ..functions.zipscan import synth_gzip

        return synth_gzip

    return _synthesize_media(ids, id_col, loader)


def extract_gzip_content(media: DataFrame, permissive: bool = False) -> DataFrame:
    """FULL verified gzip decode per payload
    (:func:`..functions.zipscan.decode_gzip`): header flags, raw
    DEFLATE inflate, CRC32 + ISIZE trailer verification against the
    recovered bytes."""

    def loader():
        from ..functions.zipscan import decode_gzip

        def parse(payload: bytes) -> dict:
            out = decode_gzip(payload)
            out.pop("content")
            return out

        return parse

    return _extract_metadata(media, GZIP_SCHEMA, loader, permissive)


def synthesize_sitemap_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of XML sitemaps written by
    the STDLIB ElementTree producer (``functions/sitemap_xml.py``);
    the parse side is zero-UDF JVM SQL in `xml_sitemap_scan`."""

    def loader():
        from ..functions.sitemap_xml import synth_sitemap

        return synth_sitemap

    return _synthesize_media(ids, id_col, loader)


PDF_SCHEMA = T.StructType(
    [
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_objects", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("text_chars", T.IntegerType()),
    ]
)


def synthesize_pdf_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of classic-xref PDFs with
    FlateDecode content streams (``functions/pdf_text.py``)."""

    def loader():
        from ..functions.pdf_text import synth_pdf

        return synth_pdf

    return _synthesize_media(ids, id_col, loader)


def synthesize_pdf_xref_stream_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of PDF 1.5 files: xref
    STREAM + object stream + PNG-predictor FlateDecode
    (``functions/pdf_text.py:synth_pdf_xref_stream``)."""

    def loader():
        from ..functions.pdf_text import synth_pdf_xref_stream

        return synth_pdf_xref_stream

    return _synthesize_media(ids, id_col, loader)


def synthesize_pdf_incremental_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of incrementally-updated
    PDFs: base file + appended update section + /Prev chain
    (``functions/pdf_text.py:synth_pdf_incremental``)."""

    def loader():
        from ..functions.pdf_text import synth_pdf_incremental

        return synth_pdf_incremental

    return _synthesize_media(ids, id_col, loader)


def extract_pdf_text_features(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Full PDF reader walk per payload
    (:func:`..functions.pdf_text.extract_pdf_text`): xref table,
    object tokenizer, page tree, inflated content streams,
    Tj/'/TJ text operators."""

    def loader():
        from ..functions.pdf_text import extract_pdf_text

        return extract_pdf_text

    return _extract_metadata(media, PDF_SCHEMA, loader, permissive)


ORC_VALUES_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_stripes", T.IntegerType()),
        T.StructField("int_sum", T.LongType()),
        T.StructField("int_count", T.LongType()),
        T.StructField("str_bytes", T.LongType()),
        T.StructField("str_count", T.LongType()),
    ]
)


def synthesize_orc_values_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of uncompressed ORC files
    written by the INDEPENDENT pyarrow producer
    (``functions/orc_pages.py``), with column shapes chosen to hit
    all four RLEv2 sub-encodings."""

    def loader():
        from ..functions.orc_pages import synth_orc_values

        return synth_orc_values

    return _synthesize_media(ids, id_col, loader)


def extract_orc_values(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Stripe DATA decode per payload
    (:func:`..functions.orc_pages.scan_orc_values`): stripe-footer
    protobuf walk, full RLEv2 integer decode, string LENGTH+DATA
    reassembly, row counts cross-checked against the footer."""

    def loader():
        from ..functions.orc_pages import scan_orc_values

        return scan_orc_values

    return _extract_metadata(media, ORC_VALUES_SCHEMA, loader, permissive)


DEFLATE_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_bytes", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("last_byte", T.IntegerType()),
    ]
)


def synthesize_deflate_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of raw DEFLATE streams
    written by the STDLIB zlib compressor (levels 0-9 + Z_FIXED
    rotation — ``functions/inflate.py``)."""

    def loader():
        from ..functions.inflate import synth_deflate

        return synth_deflate

    return _synthesize_media(ids, id_col, loader)


def extract_deflate_content(media: DataFrame, permissive: bool = False) -> DataFrame:
    """RFC 1951 inflate per payload through the stdlib zlib
    decompressor (:func:`..functions.inflate.inflate`): bounded
    output, truncation rejected."""

    def loader():
        from ..functions.inflate import decode_deflate

        def parse(payload: bytes) -> dict:
            out = decode_deflate(payload)
            out.pop("content")
            return out

        return parse

    return _extract_metadata(media, DEFLATE_SCHEMA, loader, permissive)


MIME_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType()),
        T.StructField("from_domain", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("n_parts", T.IntegerType()),
        T.StructField("n_attachments", T.IntegerType()),
        T.StructField("body_chars", T.IntegerType()),
        T.StructField("attach_bytes", T.LongType()),
        T.StructField("qp_text", T.StringType()),
        T.StructField("message_id", T.StringType()),
        T.StructField("in_reply_to", T.StringType()),
    ]
)


def synthesize_email_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of RFC 5322 messages written
    by the STDLIB ``email`` producer (``functions/mime_mail.py``) —
    encoded-word subjects, multipart/mixed, base64 and
    quoted-printable transfer encodings."""

    def loader():
        from ..functions.mime_mail import synth_email

        return synth_email

    return _synthesize_media(ids, id_col, loader)


def extract_email_metadata(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Hand-rolled MIME parse per payload
    (:func:`..functions.mime_mail.parse_mime_message`): header
    unfolding, RFC 2047 decode, boundary split, base64/QP transfer
    decode — zero shared code with the stdlib producer."""

    def loader():
        from ..functions.mime_mail import parse_mime_message

        return parse_mime_message

    return _extract_metadata(media, MIME_SCHEMA, loader, permissive)


def synthesize_h264_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of valid H.264 Annex B byte
    streams (``functions/h264.py``): SPS (with real exp-Golomb
    dimension/cropping encoding) + PPS + IDR + id-derived non-IDR
    slices, with payload bytes engineered to exercise emulation
    prevention."""

    def loader():
        from ..functions.h264 import synth_h264

        return synth_h264

    return _synthesize_media(ids, id_col, loader)


def _synthesize_media(ids: DataFrame, id_col: str, synth_loader) -> DataFrame:
    """Shared shape of the per-id payload synthesizers: resolve the
    synth function lazily ON THE EXECUTOR, emit (media_id, payload)
    via Arrow-batched mapInPandas over salt-balanced ids."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        synth = synth_loader()
        for pdf in it:
            ids_ = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids_.values,
                    "payload": [synth(int(i)) for i in ids_],
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return _balanced_ids(ids, id_col).mapInPandas(batches, schema=schema)


def synthesize_palette_png_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of PALETTE (color type 3)
    PNGs (``functions/png.py:synth_png_palette``): index planes from
    modular arithmetic through a fixed 256-entry PLTE table; every
    2nd seed Adam7-interlaced on top — the icon/web-graphic profile
    that dominates real PNG corpora by file count."""

    def loader():
        from ..functions.png import synth_png_palette

        return synth_png_palette

    return _synthesize_media(ids, id_col, loader)


#: the mixed-corpus rotation for `media_format_sniff`: id % 9 picks
#: the synthesizer; these labels are the SINGLE source the
#: synthesizer table derives from (the oracle SQL mirrors them)
SNIFF_ROTATION = ("jpeg", "png", "gif", "webp", "flac", "tiff", "zip",
                  "parquet", "sqlite")


def synthesize_mixed_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of a MIXED, unlabeled corpus:
    the format rotates with id % len(SNIFF_ROTATION) through eight
    real synthesizers — how a crawl actually arrives, and the
    fixture the sniffer runs against."""

    def loader():
        from ..functions.flac import synth_flac
        from ..functions.gif import synth_gif_anim
        from ..functions.jpeg import synth_jpeg420
        from ..functions.parquet_footer import synth_parquet
        from ..functions.png import synth_png
        from ..functions.sqlite_scan import synth_sqlite
        from ..functions.tiff import synth_tiff
        from ..functions.webp import synth_webp
        from ..functions.zipscan import synth_zip

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
        table = tuple(by_label[label] for label in SNIFF_ROTATION)

        def synth(i: int) -> bytes:
            return table[i % len(table)](i)

        return synth

    return _synthesize_media(ids, id_col, loader)


SNIFF_SCHEMA = T.StructType([T.StructField("fmt", T.StringType())])


def sniff_media(media: DataFrame) -> DataFrame:
    """Magic-byte format dispatch per payload
    (:func:`..functions.sniff.sniff_media_format`) — never raises,
    so no permissive mode is needed: unknown IS the answer."""

    def loader():
        from ..functions.sniff import sniff_media_format

        def parse(payload: bytes) -> dict:
            return {"fmt": sniff_media_format(payload)}

        return parse

    return _extract_metadata(media, SNIFF_SCHEMA, loader, False)


def synthesize_parquet_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of REAL parquet files
    written by pyarrow (``functions/parquet_footer.py``) — the
    independent producer pinning the hand-rolled Thrift reader."""

    def loader():
        from ..functions.parquet_footer import synth_parquet

        return synth_parquet

    return _synthesize_media(ids, id_col, loader)


PARQUET_FOOTER_SCHEMA = T.StructType(
    [
        T.StructField("version", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_row_groups", T.IntegerType()),
        T.StructField("n_columns", T.IntegerType()),
        T.StructField("total_byte_size", T.LongType()),
        T.StructField("created_by", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def extract_parquet_footer(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Parquet footer triage per payload: Thrift compact-protocol
    FileMetaData parse
    (:func:`..functions.parquet_footer.scan_parquet_footer`)."""

    def loader():
        from ..functions.parquet_footer import scan_parquet_footer

        return scan_parquet_footer

    return _extract_metadata(media, PARQUET_FOOTER_SCHEMA, loader, permissive)


def synthesize_warc_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of spec-conformant .warc.gz
    crawl archives (``functions/warc.py:synth_warc``): one gzip
    member per record, warcinfo + request/response pairs."""

    def loader():
        from ..functions.warc import synth_warc

        return synth_warc

    return _synthesize_media(ids, id_col, loader)


WARC_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_records", T.IntegerType()),
        T.StructField("n_responses", T.IntegerType()),
        T.StructField("n_requests", T.IntegerType()),
        T.StructField("n_distinct_uris", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("response_bytes", T.LongType()),
    ]
)


def synthesize_warc_zst_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of .warc.zst archives — the
    layout Common Crawl actually distributes: zstd frames of records
    behind a skippable dictionary frame
    (``functions/warc.py:synth_warc_zst``)."""

    def loader():
        from ..functions.warc import synth_warc_zst

        return synth_warc_zst

    return _synthesize_media(ids, id_col, loader)


def synthesize_warc_zst_dict_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of DICT-TRAINED .warc.zst
    archives: a real ``zstd --train`` dictionary in the IIPC
    ``0x184D2A5D`` skippable frame, record frames compressed with it
    (``functions/warc.py:synth_warc_zst_dict``).  Costs ~30 ms and
    two CLI subprocesses per payload — callers should SAMPLE the id
    column (the registry query keeps ``doc_id % 16 = 0``)."""

    def loader():
        from ..functions.warc import synth_warc_zst_dict

        return synth_warc_zst_dict

    return _synthesize_media(ids, id_col, loader)


def extract_warc_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """WARC record split per payload: member-by-member gzip decode +
    record-grammar parse (:func:`..functions.warc.scan_warc`)."""

    def loader():
        from ..functions.warc import scan_warc

        return scan_warc

    return _extract_metadata(media, WARC_SCAN_SCHEMA, loader, permissive)


def synthesize_warc_text_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of .warc.gz whose response
    payloads are tokenizable text
    (``functions/warc.py:synth_warc_text``)."""

    def loader():
        from ..functions.warc import synth_warc_text

        return synth_warc_text

    return _synthesize_media(ids, id_col, loader)


WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("rec_type", T.StringType()),
        T.StructField("uri", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def explode_warc_records(media: DataFrame) -> DataFrame:
    """One OUTPUT ROW PER WARC RECORD — the handoff from the Python
    record splitter to JVM-side text stages: everything downstream
    (tokenization, filtering, aggregation) runs in whole-stage
    codegen, exactly how a crawl pipeline should split work.  Payload
    bytes decode as UTF-8 with replacement (crawl payloads lie about
    encodings; replacement keeps the row, never kills the task)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.warc import parse_warc_records, split_gzip_members

        for pdf in it:
            rows: dict[str, list] = {
                "media_id": [], "rec_idx": [], "rec_type": [],
                "uri": [], "text": [],
            }
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(p)
                members = split_gzip_members(payload)
                idx = 0
                for m in members:
                    for rec in parse_warc_records(m):
                        rows["media_id"].append(int(mid))
                        rows["rec_idx"].append(idx)
                        rows["rec_type"].append(rec["type"])
                        rows["uri"].append(rec["uri"])
                        rows["text"].append(
                            rec["payload"].decode("utf-8", "replace")
                        )
                        idx += 1
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=WARC_RECORD_SCHEMA)


def synthesize_arrow_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of REAL Arrow IPC files from
    pyarrow's writer (``functions/arrow_ipc.py:synth_arrow_ipc``),
    multi-batch."""

    def loader():
        from ..functions.arrow_ipc import synth_arrow_ipc

        return synth_arrow_ipc

    return _synthesize_media(ids, id_col, loader)


ARROW_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_columns", T.IntegerType()),
        T.StructField("n_batches", T.IntegerType()),
        T.StructField("n_dict_batches", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("body_bytes", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def extract_arrow_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Arrow IPC triage per payload: footer flatbuffer -> blocks ->
    per-batch Message flatbuffers
    (:func:`..functions.arrow_ipc.scan_arrow_ipc`)."""

    def loader():
        from ..functions.arrow_ipc import scan_arrow_ipc

        return scan_arrow_ipc

    return _extract_metadata(media, ARROW_SCAN_SCHEMA, loader, permissive)


def synthesize_xz_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of REAL .xz files from stdlib
    lzma (``functions/xz_scan.py:synth_xz``), check types rotating
    and odd seeds carrying concatenated streams."""

    def loader():
        from ..functions.xz_scan import synth_xz

        return synth_xz

    return _synthesize_media(ids, id_col, loader)


XZ_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_streams", T.IntegerType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("uncompressed_total", T.LongType()),
        T.StructField("check_type", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def extract_xz_scan(media: DataFrame, permissive: bool = False) -> DataFrame:
    """XZ container triage per payload: footer -> index -> block map
    with every skeleton CRC verified
    (:func:`..functions.xz_scan.scan_xz`)."""

    def loader():
        from ..functions.xz_scan import scan_xz

        return scan_xz

    return _extract_metadata(media, XZ_SCAN_SCHEMA, loader, permissive)


ZSTD_TEXT_SCHEMA = T.StructType([T.StructField("text", T.StringType())])


def synthesize_zstd_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of REAL zstd frames from the
    libzstd producer (``functions/zstd_codec.py:synth_zstd``), levels
    rotating 1/3/9/19, odd seeds concatenated two-frame files."""

    def loader():
        from ..functions.zstd_codec import synth_zstd

        return synth_zstd

    return _synthesize_media(ids, id_col, loader)


def extract_zstd_decode(media: DataFrame, permissive: bool = False) -> DataFrame:
    """FULL zstd decode per payload
    (:func:`..functions.zstd_codec.decode_zstd`): these frames need no
    dictionary, so they decode through libzstd (Arrow), content size
    and checksums verified; the hand FSE/Huffman decoder serves
    dictionary frames and is the tests' reference."""

    def loader():
        from ..functions.zstd_codec import decode_zstd

        def parse(payload: bytes) -> dict:
            return {"text": decode_zstd(payload).decode("ascii")}

        return parse

    return _extract_metadata(media, ZSTD_TEXT_SCHEMA, loader, permissive)


LZ4_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("n_distinct", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def synthesize_lz4_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of REAL .lz4 frames from the
    pyarrow (reference C) producer
    (``functions/lz4_codec.py:synth_lz4``)."""

    def loader():
        from ..functions.lz4_codec import synth_lz4

        return synth_lz4

    return _synthesize_media(ids, id_col, loader)


def extract_lz4_decode(media: DataFrame, permissive: bool = False) -> DataFrame:
    """FULL LZ4 frame decode per payload
    (:func:`..functions.lz4_codec.scan_lz4_frame`): descriptor with
    xxh32-derived header checksum, linked-block history, stored
    blocks, content checksum — all verified by hand."""

    def loader():
        from ..functions.lz4_codec import scan_lz4_frame

        return scan_lz4_frame

    return _extract_metadata(media, LZ4_SCAN_SCHEMA, loader, permissive)


TFRECORD_SCHEMA = T.StructType(
    [
        T.StructField("n_records", T.IntegerType()),
        T.StructField("data_bytes", T.LongType()),
        T.StructField("event_sum", T.LongType()),
        T.StructField("balance_sum", T.LongType()),
        T.StructField("name_chars", T.LongType()),
        T.StructField("packed_sum", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def synthesize_tfrecord_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of TFRecord shards whose
    records are protowire protobuf messages
    (``functions/tfrecord.py:synth_tfrecord``)."""

    def loader():
        from ..functions.tfrecord import synth_tfrecord

        return synth_tfrecord

    return _synthesize_media(ids, id_col, loader)


def synthesize_tfrecord_compressed_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of COMPRESSED TFRecord
    shards (.tfrecord.gz multi-member / .tfrecord.zst by seed,
    ``functions/tfrecord.py:synth_tfrecord_compressed``)."""

    def loader():
        from ..functions.tfrecord import synth_tfrecord_compressed

        return synth_tfrecord_compressed

    return _synthesize_media(ids, id_col, loader)


def extract_tfrecord_scan(media: DataFrame, permissive: bool = False) -> DataFrame:
    """TFRecord walk per payload
    (:func:`..functions.tfrecord.scan_tfrecord`): framing + BOTH
    masked CRC32Cs verified per record, then a full protobuf wire
    decode of every record payload."""

    def loader():
        from ..functions.tfrecord import scan_tfrecord

        return scan_tfrecord

    return _extract_metadata(media, TFRECORD_SCHEMA, loader, permissive)


ARROW_VALUES_SCHEMA = T.StructType(
    [
        T.StructField("n_batches", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("int_sum", T.LongType()),
        T.StructField("int_nulls", T.LongType()),
        T.StructField("str_chars", T.LongType()),
        T.StructField("str_nulls", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def synthesize_arrow_stream_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Arrow IPC STREAMS (the
    footer-less wire format) from the pyarrow writer
    (``functions/arrow_ipc.py:synth_arrow_stream``)."""

    def loader():
        from ..functions.arrow_ipc import synth_arrow_stream

        return synth_arrow_stream

    return _synthesize_media(ids, id_col, loader)


def extract_arrow_stream(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Arrow IPC STREAMING decode per payload
    (:func:`..functions.arrow_ipc.decode_arrow_stream`): schema
    message first, schema state carried forward, end-of-stream
    marker honored — the no-footer wire layout."""

    def loader():
        from ..functions.arrow_ipc import decode_arrow_stream

        return decode_arrow_stream

    return _extract_metadata(media, ARROW_VALUES_SCHEMA, loader, permissive)


def synthesize_arrow_values_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Arrow IPC files with
    nullable int64/int32/utf8 columns from the pyarrow writer
    (``functions/arrow_ipc.py:synth_arrow_values``)."""

    def loader():
        from ..functions.arrow_ipc import synth_arrow_values

        return synth_arrow_values

    return _synthesize_media(ids, id_col, loader)


def extract_arrow_values(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Arrow IPC VALUE decode per payload
    (:func:`..functions.arrow_ipc.decode_arrow_values`): schema type
    resolution, FieldNode/Buffer preorder walk, LSB-first validity
    bitmaps, body-relative buffer bounds — exact sums over non-null
    slots only."""

    def loader():
        from ..functions.arrow_ipc import decode_arrow_values

        return decode_arrow_values

    return _extract_metadata(media, ARROW_VALUES_SCHEMA, loader, permissive)


def synthesize_arrow_dict_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Arrow IPC FILES with
    dictionary-encoded utf8/int32 columns
    (``functions/arrow_ipc.py:synth_arrow_dict``)."""

    def loader():
        from ..functions.arrow_ipc import synth_arrow_dict

        return synth_arrow_dict

    return _synthesize_media(ids, id_col, loader)


def synthesize_arrow_dict_stream_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Arrow IPC STREAMS whose
    dictionary grows per batch, forcing initial + DELTA dictionary
    batches (``functions/arrow_ipc.py:synth_arrow_dict_stream``)."""

    def loader():
        from ..functions.arrow_ipc import synth_arrow_dict_stream

        return synth_arrow_dict_stream

    return _synthesize_media(ids, id_col, loader)


NPZ_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_arrays", T.IntegerType()),
        T.StructField("n_elements", T.LongType()),
        T.StructField("value_sum", T.LongType()),
        T.StructField("weighted_sum", T.LongType()),
        T.StructField("n_fortran", T.IntegerType()),
        T.StructField("n_deflated", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def synthesize_npz_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of REAL .npz containers from
    the numpy producer (``functions/npy_scan.py:synth_npz``): 2-3
    arrays each, dtypes i8/i4/u1, mixed C/Fortran order, STORED and
    DEFLATE containers rotating."""

    def loader():
        from ..functions.npy_scan import synth_npz

        return synth_npz

    return _synthesize_media(ids, id_col, loader)


def extract_npz_scan(media: DataFrame, permissive: bool = False) -> DataFrame:
    """NPY/NPZ tensor read from raw bytes per payload
    (:func:`..functions.npy_scan.scan_npz`): hand-rolled ZIP walk ->
    inflate -> regex-grammar NPY header (no eval) -> struct
    data decode with the fortran-order remap pinned by a
    position-weighted checksum."""

    def loader():
        from ..functions.npy_scan import scan_npz

        return scan_npz

    return _extract_metadata(media, NPZ_SCAN_SCHEMA, loader, permissive)


PICKLE_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("protocol", T.IntegerType()),
        T.StructField("n_opcodes", T.IntegerType()),
        T.StructField("n_ints", T.LongType()),
        T.StructField("int_sum", T.LongType()),
        T.StructField("n_strings", T.LongType()),
        T.StructField("str_chars", T.LongType()),
        T.StructField("n_lists", T.IntegerType()),
        T.StructField("n_nones", T.IntegerType()),
        T.StructField("n_globals", T.IntegerType()),
        T.StructField("global_names", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def synthesize_pickle_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of REAL pickles from the
    stdlib producer (``functions/pickle_scan.py:synth_pickle``),
    protocol rotating 0..5 and every 7th payload carrying a class
    (global) reference."""

    def loader():
        from ..functions.pickle_scan import synth_pickle

        return synth_pickle

    return _synthesize_media(ids, id_col, loader)


def extract_pickle_scan(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Pickle opcode triage per payload WITHOUT unpickling
    (:func:`..functions.pickle_scan.scan_pickle`): full opcode
    grammar walk, embedded value stats, and the GLOBAL/STACK_GLOBAL
    ``module qualname`` references that make a payload dangerous —
    surfaced without importing or calling anything."""

    def loader():
        from ..functions.pickle_scan import scan_pickle

        return scan_pickle

    return _extract_metadata(media, PICKLE_SCAN_SCHEMA, loader, permissive)


XZ_TEXT_SCHEMA = T.StructType([T.StructField("text", T.StringType())])


def synthesize_xz_text_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of REAL .xz files from the
    stdlib liblzma producer over a deterministic text plan
    (``functions/lzma_codec.py:synth_xz_text``): check type rotates
    all four, odd seeds ship as two concatenated streams."""

    def loader():
        from ..functions.lzma_codec import synth_xz_text

        return synth_xz_text

    return _synthesize_media(ids, id_col, loader)


def extract_xz_decode(media: DataFrame, permissive: bool = False) -> DataFrame:
    """FULL .xz decode per payload through liblzma, every stream and
    per-block plaintext check verified
    (:func:`..functions.lzma_codec.decode_xz`); the full-decode
    companion of the triage-only :func:`extract_xz_scan`.  Returns the
    recovered plaintext so the STATS stay JVM-side (the
    Python-narrow / JVM-wide split of ``pdf_corpus_text_stats``)."""

    def loader():
        from ..functions.lzma_codec import decode_xz

        def parse(payload: bytes) -> dict:
            return {"text": decode_xz(payload).decode("ascii")}

        return parse

    return _extract_metadata(media, XZ_TEXT_SCHEMA, loader, permissive)


def synthesize_bz2_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of REAL .bz2 streams from the
    stdlib compressor (``functions/bzip2.py:synth_bz2``), levels
    rotating 1..9."""

    def loader():
        from ..functions.bzip2 import synth_bz2

        return synth_bz2

    return _synthesize_media(ids, id_col, loader)


BZ2_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("n_distinct", T.IntegerType()),
        T.StructField("compressed_bytes", T.LongType()),
    ]
)


def extract_bz2_decode(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Full bzip2 decode per payload through libbz2, block and
    stream CRCs verified (:func:`..functions.bzip2.scan_bz2`)."""

    def loader():
        from ..functions.bzip2 import scan_bz2

        return scan_bz2

    return _extract_metadata(media, BZ2_SCAN_SCHEMA, loader, permissive)


def synthesize_sqlite_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of REAL SQLite databases
    produced by the stdlib sqlite3 engine via ``Connection.serialize``
    (``functions/sqlite_scan.py``) — 512-byte pages growing genuine
    multi-level table b-trees."""

    def loader():
        from ..functions.sqlite_scan import synth_sqlite

        return synth_sqlite

    return _synthesize_media(ids, id_col, loader)


def synthesize_sqlite_wr_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of WITHOUT ROWID SQLite
    databases with a secondary index
    (``functions/sqlite_scan.py:synth_sqlite_wr``)."""

    def loader():
        from ..functions.sqlite_scan import synth_sqlite_wr

        return synth_sqlite_wr

    return _synthesize_media(ids, id_col, loader)


SQLITE_WR_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("k_len_sum", T.LongType()),
        T.StructField("score_sum", T.LongType()),
        T.StructField("n_flag_null", T.IntegerType()),
        T.StructField("flag_sum", T.LongType()),
        T.StructField("idx_entries", T.LongType()),
        T.StructField("idx_k_len_sum", T.LongType()),
    ]
)


def extract_sqlite_wr_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """WITHOUT ROWID table + secondary-index read per payload
    (:func:`..functions.sqlite_scan.scan_sqlite_without_rowid`)."""

    def loader():
        from ..functions.sqlite_scan import scan_sqlite_without_rowid

        return scan_sqlite_without_rowid

    return _extract_metadata(media, SQLITE_WR_SCHEMA, loader, permissive)


SQLITE_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_tables", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("rowid_sum", T.LongType()),
        T.StructField("score_sum", T.LongType()),
        T.StructField("score_min", T.LongType()),
        T.StructField("name_len_sum", T.LongType()),
        T.StructField("n_flag_null", T.IntegerType()),
        T.StructField("flag_sum", T.LongType()),
    ]
)


def extract_sqlite_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """SQLite table read per payload: header parse, sqlite_schema
    walk, table b-tree traversal, record decode
    (:func:`..functions.sqlite_scan.scan_sqlite`)."""

    def loader():
        from ..functions.sqlite_scan import scan_sqlite

        return scan_sqlite

    return _extract_metadata(media, SQLITE_SCAN_SCHEMA, loader, permissive)


def synthesize_rle8_bmp_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of 8-bit palette BI_RLE8 BMPs
    (``functions/bmp.py:synth_bmp_rle8``): banded index planes whose
    zero bands encode as delta escapes, the screenshot/diagram profile
    that dominates RLE-compressed bitmaps in the wild."""

    def loader():
        from ..functions.bmp import synth_bmp_rle8

        return synth_bmp_rle8

    return _synthesize_media(ids, id_col, loader)


def synthesize_parquet_data_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of REAL parquet files written
    by pyarrow with the FULL encoding rotation (V1/V2 data pages,
    dictionary on/off, gzip/uncompressed; multi-row-group, multi-page
    chunks) — the fixture for the data-page VALUE decoder
    (``functions/parquet_pages.py``)."""

    def loader():
        from ..functions.parquet_pages import synth_parquet_data

        return synth_parquet_data

    return _synthesize_media(ids, id_col, loader)


PARQUET_VALUES_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("a_sum", T.LongType()),
        T.StructField("a_nulls", T.IntegerType()),
        T.StructField("b_sum", T.LongType()),
        T.StructField("c_len_sum", T.LongType()),
        T.StructField("c_distinct", T.IntegerType()),
        T.StructField("d_sum", T.LongType()),
    ]
)


def extract_parquet_values(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Parquet data-page VALUE decode per payload: page-header walk +
    RLE/bit-packed levels + PLAIN/dictionary values
    (:func:`..functions.parquet_pages.scan_parquet_values`)."""

    def loader():
        from ..functions.parquet_pages import scan_parquet_values

        return scan_parquet_values

    return _extract_metadata(media, PARQUET_VALUES_SCHEMA, loader, permissive)


def synthesize_avro_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Avro object containers,
    codec rotating null/deflate/snappy
    (``functions/avro_scan.py:synth_avro``)."""

    def loader():
        from ..functions.avro_scan import synth_avro

        return synth_avro

    return _synthesize_media(ids, id_col, loader)


def synthesize_iceberg_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Iceberg table bundles
    (metadata JSON + manifest-list/manifest avro + real parquet,
    ``functions/iceberg_scan.py:synth_iceberg``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg

        return synth_iceberg

    return _synthesize_media(ids, id_col, loader)


ICEBERG_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_snapshots", T.IntegerType()),
        T.StructField("n_manifests", T.IntegerType()),
        T.StructField("n_data_files", T.IntegerType()),
        T.StructField("n_deleted_entries", T.IntegerType()),
        T.StructField("n_delete_files", T.IntegerType()),
        T.StructField("files_pruned", T.IntegerType()),
        T.StructField("files_scanned", T.IntegerType()),
        T.StructField("rows_scanned", T.LongType()),
        T.StructField("positions_deleted_scanned", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
    ]
)


def extract_iceberg_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Iceberg snapshot planning + pruned read per payload
    (:func:`..functions.iceberg_scan.scan_iceberg`)."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg

        return scan_iceberg

    return _extract_metadata(media, ICEBERG_SCAN_SCHEMA, loader, permissive)


AVRO_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_records", T.LongType()),
        T.StructField("id_sum", T.LongType()),
        T.StructField("name_chars", T.LongType()),
        T.StructField("ratio_sum", T.DoubleType()),
        T.StructField("n_ok", T.LongType()),
        T.StructField("n_opt_null", T.LongType()),
        T.StructField("opt_sum", T.LongType()),
    ]
)


def extract_avro_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Avro container read per payload
    (:func:`..functions.avro_scan.scan_avro`): metadata map, schema
    JSON -> decode plan, per-block codec + sync verification, binary
    record decode."""

    def loader():
        from ..functions.avro_scan import scan_avro

        return scan_avro

    return _extract_metadata(media, AVRO_SCAN_SCHEMA, loader, permissive)


AVRO_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("ratio", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("opt", T.LongType()),
    ]
)


def explode_avro_records(media: DataFrame) -> DataFrame:
    """One OUTPUT ROW PER AVRO RECORD — the Python-narrow/JVM-wide
    handoff applied to the row-major container: Python does only the
    byte-level work it must (block framing, codec, binary record
    decode), emits TYPED columns, and every downstream stage
    (grouping, aggregation, joins) runs in whole-stage codegen.
    At 100 TB this is the shape an Avro ingest keeps: the decode is
    embarrassingly parallel per file, and the shuffle operates on
    compact typed columns, never on raw payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.avro_scan import iter_avro_records

        for pdf in it:
            rows: dict[str, list] = {
                "media_id": [], "rec_idx": [], "id": [], "name": [],
                "ratio": [], "ok": [], "opt": [],
            }
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for idx, rec in enumerate(iter_avro_records(bytes(p))):
                    rows["media_id"].append(int(mid))
                    rows["rec_idx"].append(idx)
                    rows["id"].append(rec["id"])
                    rows["name"].append(rec["name"])
                    rows["ratio"].append(rec["ratio"])
                    rows["ok"].append(rec["ok"])
                    rows["opt"].append(rec["opt"])
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=AVRO_RECORD_SCHEMA)


def synthesize_parquet_page_index_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of parquet files carrying
    ColumnIndex/OffsetIndex page statistics
    (``functions/parquet_pageindex.py:synth_parquet_page_index``)."""

    def loader():
        from ..functions.parquet_pageindex import synth_parquet_page_index

        return synth_parquet_page_index

    return _synthesize_media(ids, id_col, loader)


PARQUET_PAGE_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_pages_v", T.IntegerType()),
        T.StructField("n_pages_k", T.IntegerType()),
        T.StructField("v_min", T.LongType()),
        T.StructField("v_max", T.LongType()),
        T.StructField("v_null_sum", T.LongType()),
        T.StructField("k_min", T.LongType()),
        T.StructField("k_max", T.LongType()),
        T.StructField("k_ascending", T.BooleanType()),
        T.StructField("pages_touched_point", T.IntegerType()),
    ]
)


def extract_parquet_page_index(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Page-index scan per payload
    (:func:`..functions.parquet_pageindex.scan_parquet_page_index`):
    ColumnIndex/OffsetIndex decode, cross-checks, split-independent
    min/max/null aggregates, point-lookup pruning."""

    def loader():
        from ..functions.parquet_pageindex import scan_parquet_page_index

        return scan_parquet_page_index

    return _extract_metadata(
        media, PARQUET_PAGE_INDEX_SCHEMA, loader, permissive
    )


def synthesize_ico_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of ICO favicon containers
    (``functions/ico.py``): mixed PNG/DIB entries at formula sizes."""

    def loader():
        from ..functions.ico import synth_ico

        return synth_ico

    return _synthesize_media(ids, id_col, loader)


ICO_SCHEMA = T.StructType(
    [
        T.StructField("n_entries", T.IntegerType()),
        T.StructField("max_size", T.IntegerType()),
        T.StructField("n_png", T.IntegerType()),
        T.StructField("n_dib", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def extract_ico_structure(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """ICO directory triage per payload
    (:func:`..functions.ico.scan_ico`)."""

    def loader():
        from ..functions.ico import scan_ico

        return scan_ico

    return _extract_metadata(media, ICO_SCHEMA, loader, permissive)


def synthesize_orc_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of REAL ORC files written by
    pyarrow with uncompressed tails (``functions/orc_footer.py``)."""

    def loader():
        from ..functions.orc_footer import synth_orc

        return synth_orc

    return _synthesize_media(ids, id_col, loader)


def synthesize_orc_compressed_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of ORC files with COMPRESSED
    tails, codec rotating zlib/snappy/lz4/zstd
    (``functions/orc_footer.py:synth_orc_compressed``)."""

    def loader():
        from ..functions.orc_footer import synth_orc_compressed

        return synth_orc_compressed

    return _synthesize_media(ids, id_col, loader)


ORC_FOOTER_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_stripes", T.IntegerType()),
        T.StructField("n_columns", T.IntegerType()),
        T.StructField("compression", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def extract_orc_footer(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """ORC tail triage per payload: postscript + protobuf footer
    (:func:`..functions.orc_footer.scan_orc_footer`)."""

    def loader():
        from ..functions.orc_footer import scan_orc_footer

        return scan_orc_footer

    return _extract_metadata(media, ORC_FOOTER_SCHEMA, loader, permissive)


def synthesize_tiff_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of MULTI-PAGE TIFFs
    (``functions/tiff.py:synth_tiff``): chained IFDs, alternating
    byte order per id, word-aligned directories."""

    def loader():
        from ..functions.tiff import synth_tiff

        return synth_tiff

    return _synthesize_media(ids, id_col, loader)


TIFF_SCHEMA = T.StructType(
    [
        T.StructField("byte_order", T.StringType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("compression", T.IntegerType()),
        T.StructField("total_pixels", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def extract_tiff_structure(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Multi-page TIFF triage per payload: IFD-chain walk with
    cycle detection (:func:`..functions.tiff.scan_tiff`)."""

    def loader():
        from ..functions.tiff import scan_tiff

        return scan_tiff

    return _extract_metadata(media, TIFF_SCHEMA, loader, permissive)


def synthesize_webp_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of WebP RIFF containers
    (``functions/webp.py``) — the profile rotates per id: lossy VP8,
    lossless VP8L, extended VP8X (with EXIF chunks and RIFF padding
    on odd sizes)."""

    def loader():
        from ..functions.webp import synth_webp

        return synth_webp

    return _synthesize_media(ids, id_col, loader)


def synthesize_flac_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """id column -> (media_id, payload) of FLAC files with
    STREAMINFO + Vorbis-comment metadata blocks
    (``functions/flac.py``)."""

    def loader():
        from ..functions.flac import synth_flac

        return synth_flac

    return _synthesize_media(ids, id_col, loader)


def synthesize_jpeg_profile_pair_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> TWO payloads per id of the SAME pixel content in
    different delivery profiles: media_id 2·id is baseline 4:2:0
    (restart intervals), 2·id+1 is PROGRESSIVE 4:2:0 (the 10-scan
    SOF2 script). Pixels are the constant-macroblock progressive
    formula, exact under both codecs — the fixture for cross-profile
    content-hash invariance."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.jpeg import (
            encode_jpeg,
            encode_jpeg_progressive,
            synth_jpeg_progressive_pixels,
            synth_jpeg_progressive_size,
        )

        for pdf in it:
            mids, payloads = [], []
            for i in pdf[id_col].astype("int64"):
                seed = int(i)
                w, h = synth_jpeg_progressive_size(seed)
                px = synth_jpeg_progressive_pixels(seed, w, h)
                mids.append(2 * seed)
                payloads.append(
                    encode_jpeg(px, subsampling="420", restart_interval=2)
                )
                mids.append(2 * seed + 1)
                payloads.append(
                    encode_jpeg_progressive(
                        px, subsampling="420", restart_interval=3
                    )
                )
            yield pd.DataFrame({"media_id": mids, "payload": payloads})

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return _balanced_ids(ids, id_col).mapInPandas(batches, schema=schema)


def synthesize_gif_anim_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of GIF89a ANIMATIONS
    (``functions/gif.py:synth_gif_anim``): NETSCAPE loop extension,
    per-frame Graphic Control Extensions, dirty-rect frames."""

    def loader():
        from ..functions.gif import synth_gif_anim

        return synth_gif_anim

    return _synthesize_media(ids, id_col, loader)


GIF_ANIM_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("total_delay_cs", T.LongType()),
        T.StructField("loop_count", T.IntegerType()),
        T.StructField("n_extensions", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def extract_gif_animation(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """GIF animation triage per payload: block walk with NO pixel
    decode (:func:`..functions.gif.scan_gif_anim`)."""

    def loader():
        from ..functions.gif import scan_gif_anim

        return scan_gif_anim

    return _extract_metadata(media, GIF_ANIM_SCHEMA, loader, permissive)


WEBP_SCHEMA = T.StructType(
    [
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("has_alpha", T.IntegerType()),
        T.StructField("has_exif", T.IntegerType()),
        T.StructField("has_animation", T.IntegerType()),
        T.StructField("n_chunks", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)

FLAC_SCHEMA = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("total_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def extract_webp_structure(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """WebP container triage per payload: RIFF chunk walk + the
    image-header bits of VP8/VP8L/VP8X
    (:func:`..functions.webp.scan_webp`)."""

    def loader():
        from ..functions.webp import scan_webp

        return scan_webp

    return _extract_metadata(media, WEBP_SCHEMA, loader, permissive)


def extract_flac_metadata(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """FLAC metadata triage per payload: STREAMINFO bit unpacking +
    Vorbis-comment TITLE (:func:`..functions.flac.scan_flac`)."""

    def loader():
        from ..functions.flac import scan_flac

        return scan_flac

    return _extract_metadata(media, FLAC_SCHEMA, loader, permissive)


def synthesize_h264_ipcm_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of all-I_PCM H.264 streams
    (``functions/h264.py:synth_h264_ipcm``): SPS with cropping, a
    spec-complete PPS, and one IDR slice whose every macroblock is
    I_PCM — RAW byte-aligned YCbCr samples in the bitstream, so the
    pixel decode is LOSSLESS and the modular-formula planes are
    value-checkable by the DuckDB oracle."""

    def loader():
        from ..functions.h264 import synth_h264_ipcm

        return synth_h264_ipcm

    return _synthesize_media(ids, id_col, loader)


H264_IPCM_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_mbs", T.IntegerType()),
        T.StructField("sum_y", T.LongType()),
        T.StructField("sum_cb", T.LongType()),
        T.StructField("sum_cr", T.LongType()),
    ]
)


def extract_h264_ipcm_features(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """H.264 PIXEL decode per payload (I_PCM profile) via
    Arrow-batched mapInPandas: NAL walk, SPS/PPS parse, IDR slice
    header, macroblock-layer walk, raw sample extraction, SPS crop —
    then integer plane sums (exact, no float tolerance). Same
    strict/permissive error contract as the other codecs."""

    def loader():
        from ..functions.h264 import decode_h264_ipcm

        def parse(payload: bytes) -> dict:
            d = decode_h264_ipcm(payload)
            return {
                "width": d["width"],
                "height": d["height"],
                "n_mbs": d["n_mbs"],
                "sum_y": int(d["y"].sum(dtype="int64")),
                "sum_cb": int(d["cb"].sum(dtype="int64")),
                "sum_cr": int(d["cr"].sum(dtype="int64")),
            }

        return parse

    return _extract_metadata(media, H264_IPCM_SCHEMA, loader, permissive)


MP3_STRUCTURE_SCHEMA = T.StructType(
    [
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("total_samples", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("sum_kbps", T.LongType()),
        T.StructField("n_padded", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)

H264_STRUCTURE_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("profile_idc", T.IntegerType()),
        T.StructField("level_idc", T.IntegerType()),
        T.StructField("n_nal_units", T.IntegerType()),
        T.StructField("n_idr_slices", T.IntegerType()),
        T.StructField("n_slices", T.IntegerType()),
    ]
)


def extract_stream_structure(
    media: DataFrame, fmt: str, permissive: bool = False
) -> DataFrame:
    """REAL bit-level container/structure parse per payload — the
    ffprobe-style triage a 100 TB multimodal corpus runs BEFORE
    deciding what to decode: ``fmt='mp3'`` walks MPEG-1 Layer III
    frame headers (ID3v2 skip, sync check, bitrate/rate tables,
    length arithmetic), ``fmt='h264'`` walks Annex B NAL units
    (start-code scan, emulation-prevention removal, exp-Golomb SPS
    parse for true dimensions). Full PCM/pixel decode for these two
    formats is the remaining documented extension point; structure is
    native. Arrow-batched mapInPandas, one pass, no shuffle; same
    strict/permissive error contract as
    :func:`extract_image_features`."""
    if fmt not in ("mp3", "h264"):
        raise ValueError(f"unsupported stream format {fmt!r}")
    feat_schema = MP3_STRUCTURE_SCHEMA if fmt == "mp3" else H264_STRUCTURE_SCHEMA
    keep = [f for f in media.schema.fields if f.name != "payload"]
    fields = list(keep) + list(feat_schema.fields)
    if permissive:
        fields.append(T.StructField("decode_error", T.StringType()))
    schema = T.StructType(fields)
    keep_names = [f.name for f in keep]
    feat_names = [f.name for f in feat_schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if fmt == "mp3":
            from ..functions.mpeg_audio import scan_mp3 as scan
        else:
            from ..functions.h264 import scan_h264 as scan

        for pdf in it:
            feats: dict[str, list] = {k: [] for k in feat_names}
            errors: list[str | None] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                try:
                    st = scan(bytes(p))
                except ValueError as e:
                    if not permissive:
                        raise ValueError(f"media_id={mid}: {e}") from e
                    for k in feat_names:
                        feats[k].append(None)
                    errors.append(str(e))
                    continue
                for k in feat_names:
                    feats[k].append(st[k])
                errors.append(None)
            cols = {k: pdf[k].array for k in keep_names}
            cols.update(feats)
            if permissive:
                cols["decode_error"] = errors
            yield pd.DataFrame(cols)

    return media.mapInPandas(batches, schema=schema)


def synthesize_iceberg_v2_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Iceberg v2 bundles with a
    partition-spec transform and an equality-delete file
    (``functions/iceberg_scan.py:synth_iceberg_v2``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_v2

        return synth_iceberg_v2

    return _synthesize_media(ids, id_col, loader)


ICEBERG_V2_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("transform", T.StringType()),
        T.StructField("transform_arg", T.IntegerType()),
        T.StructField("n_data_files", T.IntegerType()),
        T.StructField("n_eq_delete_files", T.IntegerType()),
        T.StructField("files_pruned_partition", T.IntegerType()),
        T.StructField("files_pruned_bounds", T.IntegerType()),
        T.StructField("files_scanned", T.IntegerType()),
        T.StructField("rows_scanned", T.LongType()),
        T.StructField("equality_deleted_rows", T.LongType()),
        T.StructField("live_rows", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
    ]
)


def extract_iceberg_v2_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Transform-aware Iceberg planning + equality-delete
    merge-on-read per payload
    (:func:`..functions.iceberg_scan.scan_iceberg_v2`)."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg_v2

        return scan_iceberg_v2

    return _extract_metadata(media, ICEBERG_V2_SCAN_SCHEMA, loader, permissive)


def synthesize_delta_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Delta Lake table bundles
    (checkpoint parquet + _last_checkpoint + post-checkpoint JSON
    commit + real data parquet,
    ``functions/delta_log.py:synth_delta``)."""

    def loader():
        from ..functions.delta_log import synth_delta

        return synth_delta

    return _synthesize_media(ids, id_col, loader)


DELTA_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("checkpoint_version", T.IntegerType()),
        T.StructField("current_version", T.IntegerType()),
        T.StructField("json_commits_replayed", T.IntegerType()),
        T.StructField("files_at_checkpoint", T.IntegerType()),
        T.StructField("live_files", T.IntegerType()),
        T.StructField("min_reader_version", T.IntegerType()),
        T.StructField("files_pruned", T.IntegerType()),
        T.StructField("files_scanned", T.IntegerType()),
        T.StructField("rows_scanned", T.LongType()),
        T.StructField("total_live_rows", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
    ]
)


def extract_delta_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Delta _delta_log snapshot reconstruction + stats-pruned read
    per payload (:func:`..functions.delta_log.scan_delta`)."""

    def loader():
        from ..functions.delta_log import scan_delta

        return scan_delta

    return _extract_metadata(media, DELTA_SCAN_SCHEMA, loader, permissive)


def synthesize_avro_complex_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Avro containers whose
    schema exercises the FULL complex-type set: array, map, enum,
    fixed, and a general 3-branch union
    (``functions/avro_scan.py:synth_avro_complex``)."""

    def loader():
        from ..functions.avro_scan import synth_avro_complex

        return synth_avro_complex

    return _synthesize_media(ids, id_col, loader)


AVRO_COMPLEX_SCHEMA = T.StructType(
    [
        T.StructField("n_records", T.LongType()),
        T.StructField("id_sum", T.LongType()),
        T.StructField("tag_count", T.LongType()),
        T.StructField("tag_chars", T.LongType()),
        T.StructField("prop_count", T.LongType()),
        T.StructField("prop_sum", T.LongType()),
        T.StructField("n_red", T.LongType()),
        T.StructField("n_green", T.LongType()),
        T.StructField("n_blue", T.LongType()),
        T.StructField("fp_sum", T.LongType()),
        T.StructField("u_long_sum", T.LongType()),
        T.StructField("u_str_chars", T.LongType()),
        T.StructField("u_nulls", T.LongType()),
        T.StructField("chain_nodes", T.LongType()),
        T.StructField("chain_sum", T.LongType()),
    ]
)


def extract_avro_complex_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Complex-type Avro container read per payload
    (:func:`..functions.avro_scan.scan_avro_complex`)."""

    def loader():
        from ..functions.avro_scan import scan_avro_complex

        return scan_avro_complex

    return _extract_metadata(media, AVRO_COMPLEX_SCHEMA, loader, permissive)


def synthesize_orc_rich_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of compressed, nullable,
    dictionary-encoded ORC files written by pyarrow
    (``functions/orc_pages.py:synth_orc_rich``)."""

    def loader():
        from ..functions.orc_pages import synth_orc_rich

        return synth_orc_rich

    return _synthesize_media(ids, id_col, loader)


ORC_RICH_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_stripes", T.IntegerType()),
        T.StructField("codec", T.IntegerType()),
        T.StructField("int_sum", T.LongType()),
        T.StructField("int_count", T.LongType()),
        T.StructField("int_nulls", T.LongType()),
        T.StructField("str_bytes", T.LongType()),
        T.StructField("str_count", T.LongType()),
        T.StructField("str_nulls", T.LongType()),
        T.StructField("dict_entries", T.LongType()),
    ]
)


def extract_orc_rich_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Compressed/nullable/dictionary ORC stripe decode per payload
    (:func:`..functions.orc_pages.scan_orc_rich`)."""

    def loader():
        from ..functions.orc_pages import scan_orc_rich

        return scan_orc_rich

    return _extract_metadata(media, ORC_RICH_SCHEMA, loader, permissive)


def synthesize_delta_partitioned_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of partitioned Delta tables
    with half the add actions stats-less
    (``functions/delta_log.py:synth_delta_partitioned``)."""

    def loader():
        from ..functions.delta_log import synth_delta_partitioned

        return synth_delta_partitioned

    return _synthesize_media(ids, id_col, loader)


DELTA_PART_SCHEMA = T.StructType(
    [
        T.StructField("live_files", T.IntegerType()),
        T.StructField("files_without_stats", T.IntegerType()),
        T.StructField("files_pruned_partition", T.IntegerType()),
        T.StructField("files_pruned_stats", T.IntegerType()),
        T.StructField("files_scanned", T.IntegerType()),
        T.StructField("rows_scanned", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
    ]
)


def extract_delta_partitioned_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Partition-pruned Delta planning per payload
    (:func:`..functions.delta_log.scan_delta_partitioned`)."""

    def loader():
        from ..functions.delta_log import scan_delta_partitioned

        return scan_delta_partitioned

    return _extract_metadata(media, DELTA_PART_SCHEMA, loader, permissive)


ICEBERG_TT_SCHEMA = T.StructType(
    [
        T.StructField("n_snapshots", T.IntegerType()),
        T.StructField("files_s1", T.IntegerType()),
        T.StructField("files_current", T.IntegerType()),
        T.StructField("files_added", T.IntegerType()),
        T.StructField("rows_s1", T.LongType()),
        T.StructField("rows_current", T.LongType()),
        T.StructField("rows_added", T.LongType()),
        T.StructField("scanned_s1", T.IntegerType()),
        T.StructField("scanned_current", T.IntegerType()),
        T.StructField("matches_s1", T.LongType()),
        T.StructField("matches_current", T.LongType()),
        T.StructField("delete_files_s1", T.IntegerType()),
        T.StructField("delete_files_current", T.IntegerType()),
    ]
)


def extract_iceberg_time_travel(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Per-snapshot point lookup over the Iceberg fixture
    (:func:`..functions.iceberg_scan.scan_iceberg_time_travel`)."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg_time_travel

        return scan_iceberg_time_travel

    return _extract_metadata(media, ICEBERG_TT_SCHEMA, loader, permissive)


def synthesize_avro_logical_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Avro containers whose
    schema carries logical-type annotations: date, timestamp-micros,
    decimal (``functions/avro_scan.py:synth_avro_logical``)."""

    def loader():
        from ..functions.avro_scan import synth_avro_logical

        return synth_avro_logical

    return _synthesize_media(ids, id_col, loader)


AVRO_LOGICAL_SCHEMA = T.StructType(
    [
        T.StructField("n_records", T.LongType()),
        T.StructField("date_min", T.IntegerType()),
        T.StructField("date_max", T.IntegerType()),
        T.StructField("ts_span_micros", T.LongType()),
        T.StructField("amount_sum_unscaled", T.LongType()),
        T.StructField("n_negative", T.LongType()),
    ]
)


def extract_avro_logical_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Logical-type Avro container read per payload
    (:func:`..functions.avro_scan.scan_avro_logical`)."""

    def loader():
        from ..functions.avro_scan import scan_avro_logical

        return scan_avro_logical

    return _extract_metadata(media, AVRO_LOGICAL_SCHEMA, loader, permissive)


def synthesize_orc_bloom_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of ORC files with
    BLOOM_FILTER_UTF8 indexes on both columns
    (``functions/orc_pages.py:synth_orc_bloom``)."""

    def loader():
        from ..functions.orc_pages import synth_orc_bloom

        return synth_orc_bloom

    return _synthesize_media(ids, id_col, loader)


ORC_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_bloom_columns", T.IntegerType()),
        T.StructField("hash_functions", T.IntegerType()),
        T.StructField("int_present_hits", T.LongType()),
        T.StructField("str_present_hits", T.LongType()),
        T.StructField("int_fp_bounded", T.BooleanType()),
        T.StructField("str_fp_bounded", T.BooleanType()),
    ]
)


def extract_orc_bloom_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """ORC bloom-filter membership scan per payload
    (:func:`..functions.orc_pages.scan_orc_bloom`)."""

    def loader():
        from ..functions.orc_pages import scan_orc_bloom

        return scan_orc_bloom

    return _extract_metadata(media, ORC_BLOOM_SCHEMA, loader, permissive)


def synthesize_delta_dv_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of reader-version-3 Delta
    bundles with deletion vectors: checkpoint-carried inline DV,
    stored DVs sharing one ``.bin`` at two offsets, and a DV
    superseded by a later re-add
    (``functions/delta_log.py:synth_delta_dv``)."""

    def loader():
        from ..functions.delta_log import synth_delta_dv

        return synth_delta_dv

    return _synthesize_media(ids, id_col, loader)


DELTA_DV_SCHEMA = T.StructType(
    [
        T.StructField("checkpoint_version", T.IntegerType()),
        T.StructField("current_version", T.IntegerType()),
        T.StructField("json_commits_replayed", T.IntegerType()),
        T.StructField("live_files", T.IntegerType()),
        T.StructField("files_with_dv", T.IntegerType()),
        T.StructField("inline_dvs", T.IntegerType()),
        T.StructField("file_dvs", T.IntegerType()),
        T.StructField("min_reader_version", T.IntegerType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("deleted_rows", T.LongType()),
        T.StructField("live_rows", T.LongType()),
        T.StructField("surviving_v_sum", T.LongType()),
        T.StructField("replaced_dv_cardinality", T.LongType()),
    ]
)


def extract_delta_dv_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Merge-on-read deletion-vector scan per bundle
    (:func:`..functions.delta_log.scan_delta_dv`)."""

    def loader():
        from ..functions.delta_log import scan_delta_dv

        return scan_delta_dv

    return _extract_metadata(media, DELTA_DV_SCHEMA, loader, permissive)


def synthesize_delta_cm_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of reader-version-2 Delta
    bundles with column mapping (name mode on even seeds, id mode
    with a decoy field_id column on odd seeds,
    ``functions/delta_log.py:synth_delta_cm``)."""

    def loader():
        from ..functions.delta_log import synth_delta_cm

        return synth_delta_cm

    return _synthesize_media(ids, id_col, loader)


DELTA_CM_SCHEMA = T.StructType(
    [
        T.StructField("mapping_mode", T.StringType()),
        T.StructField("min_reader_version", T.IntegerType()),
        T.StructField("live_files", T.IntegerType()),
        T.StructField("files_pruned", T.IntegerType()),
        T.StructField("files_scanned", T.IntegerType()),
        T.StructField("rows_scanned", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("sum_v", T.LongType()),
    ]
)


def extract_delta_cm_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Column-mapped Delta scan per bundle
    (:func:`..functions.delta_log.scan_delta_cm`)."""

    def loader():
        from ..functions.delta_log import scan_delta_cm

        return scan_delta_cm

    return _extract_metadata(media, DELTA_CM_SCHEMA, loader, permissive)


def synthesize_iceberg_time_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Iceberg v2 tables
    partitioned by a TIME transform (hour/day/month/year rotation,
    ``functions/iceberg_scan.py:synth_iceberg_time``); served by the
    same transform-generic v2 scan."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_time

        return synth_iceberg_time

    return _synthesize_media(ids, id_col, loader)


def extract_iceberg_time_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Time-transform-partitioned v2 scan per bundle — same plan as
    :func:`extract_iceberg_v2_scan`
    (:func:`..functions.iceberg_scan.scan_iceberg_v2` is
    transform-generic)."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg_v2

        return scan_iceberg_v2

    return _extract_metadata(media, ICEBERG_V2_SCAN_SCHEMA, loader, permissive)


def synthesize_iceberg_seq_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Iceberg v2 tables whose
    equality delete sits BETWEEN two data generations by sequence
    number (``functions/iceberg_scan.py:synth_iceberg_seq``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_seq

        return synth_iceberg_seq

    return _synthesize_media(ids, id_col, loader)


def extract_iceberg_seq_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Sequence-aware v2 scan per bundle — same transform-generic
    plan as :func:`extract_iceberg_v2_scan`."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg_v2

        return scan_iceberg_v2

    return _extract_metadata(media, ICEBERG_V2_SCAN_SCHEMA, loader, permissive)


def synthesize_orc_scalars_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of ORC files carrying the
    five remaining scalar shapes — boolean, double,
    timestamp_instant, date, decimal — with per-column nulls
    (``functions/orc_pages.py:synth_orc_scalars``)."""

    def loader():
        from ..functions.orc_pages import synth_orc_scalars

        return synth_orc_scalars

    return _synthesize_media(ids, id_col, loader)


ORC_SCALARS_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("bool_true", T.LongType()),
        T.StructField("double_sum", T.DoubleType()),
        T.StructField("ts_micros_sum", T.LongType()),
        T.StructField("date_days_sum", T.LongType()),
        T.StructField("dec_cents_sum", T.LongType()),
        T.StructField("total_nulls", T.LongType()),
    ]
)


def extract_orc_scalars_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Scalar-type stripe decode per payload
    (:func:`..functions.orc_pages.scan_orc_scalars`)."""

    def loader():
        from ..functions.orc_pages import scan_orc_scalars

        return scan_orc_scalars

    return _extract_metadata(media, ORC_SCALARS_SCHEMA, loader, permissive)


def synthesize_avro_evolved_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Avro containers written
    under ROTATING writer schemas (v1 even seeds / v2 odd) that must
    both resolve against one reader schema
    (``functions/avro_scan.py:synth_avro_evolved``)."""

    def loader():
        from ..functions.avro_scan import synth_avro_evolved

        return synth_avro_evolved

    return _synthesize_media(ids, id_col, loader)


AVRO_EVOLVED_SCHEMA = T.StructType(
    [
        T.StructField("n_records", T.LongType()),
        T.StructField("id_sum", T.LongType()),
        T.StructField("score_sum", T.DoubleType()),
        T.StructField("name_bytes", T.LongType()),
        T.StructField("region_emea", T.LongType()),
        T.StructField("color_code_sum", T.LongType()),
    ]
)


def extract_avro_evolved_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Reader-schema-resolved container scan per payload
    (:func:`..functions.avro_scan.scan_avro_evolved`)."""

    def loader():
        from ..functions.avro_scan import scan_avro_evolved

        return scan_avro_evolved

    return _extract_metadata(media, AVRO_EVOLVED_SCHEMA, loader, permissive)


def synthesize_delta_tt_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of three-version Delta
    bundles (checkpoint -> replace -> append,
    ``functions/delta_log.py:synth_delta_tt``)."""

    def loader():
        from ..functions.delta_log import synth_delta_tt

        return synth_delta_tt

    return _synthesize_media(ids, id_col, loader)


DELTA_TT_SCHEMA = T.StructType(
    [
        T.StructField("checkpoint_version", T.IntegerType()),
        T.StructField("current_version", T.IntegerType()),
        T.StructField("versions_readable", T.IntegerType()),
        T.StructField("live_files_v1", T.IntegerType()),
        T.StructField("live_files_current", T.IntegerType()),
        T.StructField("total_rows_v1", T.LongType()),
        T.StructField("total_rows_v2", T.LongType()),
        T.StructField("total_rows_current", T.LongType()),
        T.StructField("probe_matches_v1", T.LongType()),
        T.StructField("probe_matches_current", T.LongType()),
    ]
)


def extract_delta_tt_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Per-version point lookup over the replay trace
    (:func:`..functions.delta_log.scan_delta_time_travel`)."""

    def loader():
        from ..functions.delta_log import scan_delta_time_travel

        return scan_delta_time_travel

    return _extract_metadata(media, DELTA_TT_SCHEMA, loader, permissive)


def synthesize_iceberg_multi_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Iceberg v2 tables under a
    TWO-field partition spec (truncate x bucket) laid out so only
    the conjunction prunes
    (``functions/iceberg_scan.py:synth_iceberg_multi``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_multi

        return synth_iceberg_multi

    return _synthesize_media(ids, id_col, loader)


def extract_iceberg_multi_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Conjunction-pruned v2 scan per bundle — the same
    transform-generic plan as :func:`extract_iceberg_v2_scan`."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg_v2

        return scan_iceberg_v2

    return _extract_metadata(media, ICEBERG_V2_SCAN_SCHEMA, loader, permissive)


def synthesize_delta_v2cp_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of v2-checkpoint Delta
    bundles: UUID-named checkpoint + checkpointMetadata + two
    sidecar parquets holding the add actions
    (``functions/delta_log.py:synth_delta_v2cp``)."""

    def loader():
        from ..functions.delta_log import synth_delta_v2cp

        return synth_delta_v2cp

    return _synthesize_media(ids, id_col, loader)


DELTA_V2CP_SCHEMA = T.StructType(
    [
        T.StructField("checkpoint_version", T.IntegerType()),
        T.StructField("current_version", T.IntegerType()),
        T.StructField("json_commits_replayed", T.IntegerType()),
        T.StructField("sidecar_files", T.IntegerType()),
        T.StructField("live_files", T.IntegerType()),
        T.StructField("min_reader_version", T.IntegerType()),
        T.StructField("files_pruned", T.IntegerType()),
        T.StructField("files_scanned", T.IntegerType()),
        T.StructField("rows_scanned", T.LongType()),
        T.StructField("total_live_rows", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
    ]
)


def extract_delta_v2cp_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """V2-checkpoint snapshot scan per bundle
    (:func:`..functions.delta_log.scan_delta_v2cp`)."""

    def loader():
        from ..functions.delta_log import scan_delta_v2cp

        return scan_delta_v2cp

    return _extract_metadata(media, DELTA_V2CP_SCHEMA, loader, permissive)


def synthesize_delta_dvcm_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of reader-v3 Delta bundles
    with BOTH deletion vectors and name-mode column mapping active
    (``functions/delta_log.py:synth_delta_dvcm``)."""

    def loader():
        from ..functions.delta_log import synth_delta_dvcm

        return synth_delta_dvcm

    return _synthesize_media(ids, id_col, loader)


DELTA_DVCM_SCHEMA = T.StructType(
    [
        T.StructField("mapping_mode", T.StringType()),
        T.StructField("min_reader_version", T.IntegerType()),
        T.StructField("live_files", T.IntegerType()),
        T.StructField("files_with_dv", T.IntegerType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("deleted_rows", T.LongType()),
        T.StructField("live_rows", T.LongType()),
        T.StructField("surviving_v_sum", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
    ]
)


def extract_delta_dvcm_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Composed DV + column-mapping scan per bundle
    (:func:`..functions.delta_log.scan_delta_dvcm`)."""

    def loader():
        from ..functions.delta_log import scan_delta_dvcm

        return scan_delta_dvcm

    return _extract_metadata(media, DELTA_DVCM_SCHEMA, loader, permissive)


def synthesize_iceberg_puffin_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Iceberg tables whose
    deletion vectors live in a REAL Puffin container
    (``functions/iceberg_scan.py:synth_iceberg_puffin``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_puffin

        return synth_iceberg_puffin

    return _synthesize_media(ids, id_col, loader)


ICEBERG_PUFFIN_SCHEMA = T.StructType(
    [
        T.StructField("n_data_files", T.IntegerType()),
        T.StructField("n_dv_blobs", T.IntegerType()),
        T.StructField("blob_codec", T.StringType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("deleted_rows", T.LongType()),
        T.StructField("live_rows", T.LongType()),
        T.StructField("surviving_v_sum", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
    ]
)


def extract_iceberg_puffin_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Puffin-DV merge-on-read scan per bundle
    (:func:`..functions.iceberg_scan.scan_iceberg_puffin`)."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg_puffin

        return scan_iceberg_puffin

    return _extract_metadata(media, ICEBERG_PUFFIN_SCHEMA, loader, permissive)


def synthesize_delta_cdf_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of CDF-enabled Delta bundles:
    four commits — insert, cdc-file update, derived delete, no-op
    compaction (``functions/delta_log.py:synth_delta_cdf``)."""

    def loader():
        from ..functions.delta_log import synth_delta_cdf

        return synth_delta_cdf

    return _synthesize_media(ids, id_col, loader)


DELTA_CDF_SCHEMA = T.StructType(
    [
        T.StructField("start_version", T.IntegerType()),
        T.StructField("end_version", T.IntegerType()),
        T.StructField("commits_read", T.IntegerType()),
        T.StructField("cdc_commits", T.IntegerType()),
        T.StructField("derived_commits", T.IntegerType()),
        T.StructField("skipped_commits", T.IntegerType()),
        T.StructField("cdc_files_read", T.IntegerType()),
        T.StructField("inserts", T.LongType()),
        T.StructField("insert_sum", T.LongType()),
        T.StructField("update_pre", T.LongType()),
        T.StructField("update_post", T.LongType()),
        T.StructField("pre_sum", T.LongType()),
        T.StructField("post_sum", T.LongType()),
        T.StructField("deletes", T.LongType()),
        T.StructField("delete_sum", T.LongType()),
        T.StructField("change_rows", T.LongType()),
    ]
)


def extract_delta_cdf_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Change-data-feed read per bundle
    (:func:`..functions.delta_log.scan_delta_cdf`)."""

    def loader():
        from ..functions.delta_log import scan_delta_cdf

        return scan_delta_cdf

    return _extract_metadata(media, DELTA_CDF_SCHEMA, loader, permissive)


def synthesize_iceberg_str_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Iceberg tables with a
    STRING partition key under a two-field
    ``(truncate[2], bucket[8])`` spec
    (``functions/iceberg_scan.py:synth_iceberg_str``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_str

        return synth_iceberg_str

    return _synthesize_media(ids, id_col, loader)


ICEBERG_STR_SCHEMA = T.StructType(
    [
        T.StructField("n_data_files", T.IntegerType()),
        T.StructField("files_pruned_partition", T.IntegerType()),
        T.StructField("files_pruned_bounds", T.IntegerType()),
        T.StructField("files_scanned", T.IntegerType()),
        T.StructField("rows_scanned", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
        T.StructField("probe_bucket", T.IntegerType()),
        T.StructField("probe_prefix", T.StringType()),
    ]
)


def extract_iceberg_str_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """String-key transform-pruned Iceberg scan per bundle
    (:func:`..functions.iceberg_scan.scan_iceberg_str`)."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg_str

        return scan_iceberg_str

    return _extract_metadata(media, ICEBERG_STR_SCHEMA, loader, permissive)


def synthesize_orc_nested_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of nested-type ORC files
    (struct + list + map, compression rotating by id) written by
    pyarrow (``functions/orc_pages.py:synth_orc_nested``)."""

    def loader():
        from ..functions.orc_pages import synth_orc_nested

        return synth_orc_nested

    return _synthesize_media(ids, id_col, loader)


ORC_NESTED_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_stripes", T.IntegerType()),
        T.StructField("codec", T.IntegerType()),
        T.StructField("a_sum", T.LongType()),
        T.StructField("a_count", T.LongType()),
        T.StructField("a_nulls", T.LongType()),
        T.StructField("b_bytes", T.LongType()),
        T.StructField("b_count", T.LongType()),
        T.StructField("c_cents_sum", T.LongType()),
        T.StructField("c_nulls", T.LongType()),
        T.StructField("d_days_sum", T.LongType()),
        T.StructField("e_micros_sum", T.LongType()),
        T.StructField("list_nulls", T.LongType()),
        T.StructField("list_count", T.LongType()),
        T.StructField("list_sum", T.LongType()),
        T.StructField("map_count", T.LongType()),
        T.StructField("map_key_bytes", T.LongType()),
        T.StructField("map_val_sum", T.LongType()),
    ]
)


def extract_orc_nested_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Nested-type ORC decode per payload
    (:func:`..functions.orc_pages.scan_orc_nested`)."""

    def loader():
        from ..functions.orc_pages import scan_orc_nested

        return scan_orc_nested

    return _extract_metadata(media, ORC_NESTED_SCHEMA, loader, permissive)


def synthesize_iceberg_dec_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Iceberg tables with a
    DECIMAL(9,2) partition key under a two-field
    ``(truncate[500], bucket[8])`` spec
    (``functions/iceberg_scan.py:synth_iceberg_dec``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_dec

        return synth_iceberg_dec

    return _synthesize_media(ids, id_col, loader)


ICEBERG_DEC_SCHEMA = T.StructType(
    [
        T.StructField("n_data_files", T.IntegerType()),
        T.StructField("files_pruned_partition", T.IntegerType()),
        T.StructField("files_pruned_bounds", T.IntegerType()),
        T.StructField("files_scanned", T.IntegerType()),
        T.StructField("rows_scanned", T.LongType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("probe_matches", T.LongType()),
        T.StructField("probe_bucket", T.IntegerType()),
        T.StructField("probe_window", T.LongType()),
    ]
)


def extract_iceberg_dec_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Decimal-key transform-pruned Iceberg scan per bundle
    (:func:`..functions.iceberg_scan.scan_iceberg_dec`)."""

    def loader():
        from ..functions.iceberg_scan import scan_iceberg_dec

        return scan_iceberg_dec

    return _extract_metadata(media, ICEBERG_DEC_SCHEMA, loader, permissive)


def synthesize_delta_cdf_cm_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of CDF-enabled Delta bundles
    on a name-mapped (reader v2) table
    (``functions/delta_log.py:synth_delta_cdf_cm``)."""

    def loader():
        from ..functions.delta_log import synth_delta_cdf_cm

        return synth_delta_cdf_cm

    return _synthesize_media(ids, id_col, loader)


DELTA_CDF_CM_SCHEMA = T.StructType(
    [T.StructField("mapping_mode", T.StringType())]
    + list(DELTA_CDF_SCHEMA.fields)
)


def extract_delta_cdf_cm_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Composed change-data-feed + column-mapping read per bundle
    (:func:`..functions.delta_log.scan_delta_cdf_cm`)."""

    def loader():
        from ..functions.delta_log import scan_delta_cdf_cm

        return scan_delta_cdf_cm

    return _extract_metadata(media, DELTA_CDF_CM_SCHEMA, loader, permissive)


ICEBERG_FILES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("content", T.IntegerType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("partition_p", T.LongType()),
        T.StructField("lower_bound", T.LongType()),
        T.StructField("upper_bound", T.LongType()),
        T.StructField("sequence_number", T.LongType()),
    ]
)


def explode_iceberg_files(media: DataFrame) -> DataFrame:
    """ONE OUTPUT ROW PER MANIFEST ENTRY — the ``files`` metadata
    table (:func:`..functions.iceberg_scan.list_iceberg_files`).
    Python does only the manifest-layer byte decode and emits typed
    columns; no data parquet is ever opened, so at 100 TB this costs
    manifest bytes, not table bytes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.iceberg_scan import list_iceberg_files

        cols = [f.name for f in ICEBERG_FILES_SCHEMA.fields]
        for pdf in it:
            rows: dict[str, list] = {c: [] for c in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for entry in list_iceberg_files(bytes(p)):
                    rows["media_id"].append(int(mid))
                    for k, v in entry.items():
                        rows[k].append(v)
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=ICEBERG_FILES_SCHEMA)


def synthesize_iceberg_inspect_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of three-snapshot Iceberg
    tables (append/append/overwrite, odd seeds rolled back) with NO
    data parquet in the bundle
    (``functions/iceberg_scan.py:synth_iceberg_inspect``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_inspect

        return synth_iceberg_inspect

    return _synthesize_media(ids, id_col, loader)


def _explode_rows(
    media: DataFrame, schema, module_name: str, fn_name: str
) -> DataFrame:
    """Shared mapInPandas explode for the table-ops views: one
    output row per list element of the named ``functions.<module>``
    reader.  Metadata bytes only — the inspection bundles carry no
    data parquet, so a reader that tried to open one would fail
    loudly in every row."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import importlib

        mod = importlib.import_module(
            f"datawarehouseproject_spark.functions.{module_name}"
        )
        fn = getattr(mod, fn_name)
        cols = [f.name for f in schema.fields]
        for pdf in it:
            rows: dict[str, list] = {c: [] for c in cols}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for entry in fn(bytes(p)):
                    rows["media_id"].append(int(mid))
                    for k, v in entry.items():
                        rows[k].append(v)
            yield pd.DataFrame(rows)

    return media.mapInPandas(batches, schema=schema)


def _explode_inspect(media: DataFrame, schema, fn_name: str) -> DataFrame:
    return _explode_rows(media, schema, "iceberg_scan", fn_name)


ICEBERG_SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("parent_id", T.LongType()),
        T.StructField("committed_at_ms", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField("added_data_files", T.LongType()),
        T.StructField("added_records", T.LongType()),
    ]
)

ICEBERG_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("log_index", T.IntegerType()),
        T.StructField("made_current_at_ms", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("is_current_ancestor", T.BooleanType()),
    ]
)

ICEBERG_MANIFESTS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("manifest_path", T.StringType()),
        T.StructField("partition_spec_id", T.IntegerType()),
        T.StructField("content", T.IntegerType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("added_snapshot_id", T.LongType()),
        T.StructField("added_data_files_count", T.IntegerType()),
        T.StructField("existing_data_files_count", T.IntegerType()),
        T.StructField("deleted_data_files_count", T.IntegerType()),
        T.StructField("contains_null", T.BooleanType()),
        T.StructField("partition_lower", T.LongType()),
        T.StructField("partition_upper", T.LongType()),
    ]
)

ICEBERG_PARTITIONS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("partition_p", T.LongType()),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_count", T.IntegerType()),
    ]
)


def explode_iceberg_snapshots(media: DataFrame) -> DataFrame:
    """One row per snapshot — ``tbl.snapshots``
    (:func:`..functions.iceberg_scan.iceberg_snapshots_table`)."""
    return _explode_inspect(
        media, ICEBERG_SNAPSHOTS_SCHEMA, "iceberg_snapshots_table"
    )


def explode_iceberg_history(media: DataFrame) -> DataFrame:
    """One row per snapshot-log entry — ``tbl.history``
    (:func:`..functions.iceberg_scan.iceberg_history_table`)."""
    return _explode_inspect(
        media, ICEBERG_HISTORY_SCHEMA, "iceberg_history_table"
    )


def explode_iceberg_manifests(media: DataFrame) -> DataFrame:
    """One row per current-snapshot manifest — ``tbl.manifests``
    (:func:`..functions.iceberg_scan.iceberg_manifests_table`)."""
    return _explode_inspect(
        media, ICEBERG_MANIFESTS_SCHEMA, "iceberg_manifests_table"
    )


def explode_iceberg_partitions(media: DataFrame) -> DataFrame:
    """One row per live partition — ``tbl.partitions``
    (:func:`..functions.iceberg_scan.iceberg_partitions_table`)."""
    return _explode_inspect(
        media, ICEBERG_PARTITIONS_SCHEMA, "iceberg_partitions_table"
    )


ICEBERG_REFS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("ref_name", T.StringType()),
        T.StructField("ref_type", T.StringType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("max_ref_age_ms", T.LongType()),
        T.StructField("min_snapshots_to_keep", T.IntegerType()),
        T.StructField("max_snapshot_age_ms", T.LongType()),
        T.StructField("live_files", T.IntegerType()),
        T.StructField("live_rows", T.LongType()),
    ]
)

ICEBERG_ALL_MANIFESTS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("reference_snapshot_id", T.LongType()),
        T.StructField("manifest_path", T.StringType()),
        T.StructField("sequence_number", T.LongType()),
        T.StructField("added_snapshot_id", T.LongType()),
        T.StructField("added_data_files_count", T.IntegerType()),
        T.StructField("existing_data_files_count", T.IntegerType()),
        T.StructField("deleted_data_files_count", T.IntegerType()),
    ]
)


def explode_iceberg_refs(media: DataFrame) -> DataFrame:
    """One row per branch/tag with per-ref live totals —
    ``tbl.refs`` (:func:`..functions.iceberg_scan.iceberg_refs_table`)."""
    return _explode_inspect(
        media, ICEBERG_REFS_SCHEMA, "iceberg_refs_table"
    )


def explode_iceberg_all_manifests(media: DataFrame) -> DataFrame:
    """One row per (snapshot, manifest) — ``tbl.all_manifests``
    (:func:`..functions.iceberg_scan.iceberg_all_manifests_table`)."""
    return _explode_inspect(
        media, ICEBERG_ALL_MANIFESTS_SCHEMA,
        "iceberg_all_manifests_table",
    )


def synthesize_delta_history_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of checkpoint-less Delta
    logs with commitInfo on every commit and tombstones
    (``functions/delta_log.py:synth_delta_history``)."""

    def loader():
        from ..functions.delta_log import synth_delta_history

        return synth_delta_history

    return _synthesize_media(ids, id_col, loader)


DELTA_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField("num_added_files", T.IntegerType()),
        T.StructField("num_removed_files", T.IntegerType()),
        T.StructField("num_output_rows", T.LongType()),
    ]
)

DELTA_VACUUM_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("path", T.StringType()),
        T.StructField("deletion_timestamp_ms", T.LongType()),
        T.StructField("eligible", T.BooleanType()),
    ]
)


def _explode_delta(media: DataFrame, schema, fn_name: str) -> DataFrame:
    return _explode_rows(media, schema, "delta_log", fn_name)


def explode_delta_history(media: DataFrame) -> DataFrame:
    """One row per commit — ``DESCRIBE HISTORY``
    (:func:`..functions.delta_log.delta_history_table`)."""
    return _explode_delta(
        media, DELTA_HISTORY_SCHEMA, "delta_history_table"
    )


def explode_delta_vacuum(media: DataFrame) -> DataFrame:
    """One row per tombstone — ``VACUUM DRY RUN``
    (:func:`..functions.delta_log.delta_vacuum_candidates`)."""
    return _explode_delta(
        media, DELTA_VACUUM_SCHEMA, "delta_vacuum_candidates"
    )


def synthesize_iceberg_expire_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of 5-snapshot Iceberg tables
    with partially-pinned history
    (``functions/iceberg_scan.py:synth_iceberg_expire``)."""

    def loader():
        from ..functions.iceberg_scan import synth_iceberg_expire

        return synth_iceberg_expire

    return _synthesize_media(ids, id_col, loader)


ICEBERG_EXPIRE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("removable", T.BooleanType()),
        T.StructField("kept_reason", T.StringType()),
        T.StructField("orphaned_manifests", T.IntegerType()),
    ]
)


def explode_iceberg_expire(media: DataFrame) -> DataFrame:
    """One row per snapshot with GC disposition —
    ``expire_snapshots`` dry run (:func:`..functions.iceberg_scan.
    iceberg_expire_snapshots_plan`)."""
    return _explode_inspect(
        media, ICEBERG_EXPIRE_SCHEMA, "iceberg_expire_snapshots_plan"
    )


DELTA_DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("num_files", T.IntegerType()),
        T.StructField("num_records", T.LongType()),
        T.StructField("min_reader_version", T.IntegerType()),
        T.StructField("min_writer_version", T.IntegerType()),
        T.StructField("n_partition_columns", T.IntegerType()),
        T.StructField("n_properties", T.IntegerType()),
    ]
)


def extract_delta_detail(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """One summary row per table — ``DESCRIBE DETAIL``
    (:func:`..functions.delta_log.delta_detail_table`)."""

    def loader():
        from ..functions.delta_log import delta_detail_table

        return delta_detail_table

    return _extract_metadata(media, DELTA_DETAIL_SCHEMA, loader, permissive)


def synthesize_hudi_media(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """id column -> (media_id, payload) of Apache Hudi COPY_ON_WRITE
    table bundles (timeline + file slices + write stats,
    ``functions/hudi_scan.py:synth_hudi``)."""

    def loader():
        from ..functions.hudi_scan import synth_hudi

        return synth_hudi

    return _synthesize_media(ids, id_col, loader)


HUDI_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_instants", T.IntegerType()),
        T.StructField("n_completed", T.IntegerType()),
        T.StructField("file_groups", T.IntegerType()),
        T.StructField("live_files", T.IntegerType()),
        T.StructField("skipped_inflight_files", T.IntegerType()),
        T.StructField("replaced_slices", T.IntegerType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("v_sum", T.LongType()),
        T.StructField("rows_asof_first", T.LongType()),
        T.StructField("rows_written_by_last", T.LongType()),
    ]
)


def extract_hudi_scan(
    media: DataFrame, permissive: bool = False
) -> DataFrame:
    """Hudi COW timeline + file-slice snapshot readout per payload
    (:func:`..functions.hudi_scan.scan_hudi`)."""

    def loader():
        from ..functions.hudi_scan import scan_hudi

        return scan_hudi

    return _extract_metadata(media, HUDI_SCAN_SCHEMA, loader, permissive)
