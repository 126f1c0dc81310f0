"""Multimodal column plumbing: binary payloads + typed metadata.

Treats image/audio/video/document/archive payloads as opaque
``binary`` columns with a typed metadata struct, processed by
Arrow-batched ``mapInPandas`` — the shape a 100 TB multimodal training
pipeline needs from Spark:

- payloads stay as bytes end to end (no base64, no driver round-trip);
- feature extraction is per-batch Python over Arrow buffers;
- partitioning is by content size so decode work balances.

ONE KERNEL PATH. A format's Python lives in
``datawarehouseproject_spark.functions.<module>``; this module names it
by a ``(module, function)`` pair and hands the pair to one of three
kernels, which import the module inside ``batches`` — on the executor,
so building a plan imports no codec and a Python worker imports only
what its job runs:

- :func:`_synthesize_media`: id -> ``(media_id, payload)`` over
  round-robin-balanced ids (every ``synthesize_*_media``);
- :func:`_extract_metadata`: one row per payload (the ``extract_*``
  triages and full decodes, ``sniff_media``);
- :func:`_explode_rows`: many rows per payload (every ``explode_*``,
  ``extract_layer1_subband_features``).

Each public name is one explicit binding, e.g. ``synthesize_bmp_media
= _synthesizer("bmp", "synth_bmp", doc)``, so it stays greppable and
importable with its own docstring. Both decode kernels share one error
contract: strict (default) raises ``ValueError("media_id=<id>: ...")``
— right for synthesized/trusted inputs; ``permissive=True`` keeps the
payload as a row of NULL features with the message in ``decode_error``
— right for web-scale corpora (Spark's PERMISSIVE reader mode +
``_corrupt_record``). Operators that rewrite payloads (resize,
resample), emit two payloads per id, or reduce a whole decoded clip
with numpy (``audio_frame_energy``, ``decode_stub``) keep their own
strict loop; ``audio_frame_energy`` raises the same
``media_id=<id>: ...`` message.

Where bytes are decoded: the image/audio/video decoders (BMP, PNG
filters + Adam7 + palettes, GIF LZW, baseline/4:2:0/progressive JPEG,
WAV, IMA ADPCM, MPEG-1 Layer I samples, H.264 I_PCM pixels, DIB AVI)
and the container walkers (EXIF/TIFF, ID3, WebP, FLAC, ZIP/ZIP64, tar,
protobuf, parquet/ORC/Arrow/Avro footers and pages, SQLite, Delta,
Iceberg and Hudi logs) are Python over numpy, with integer-exact
DuckDB oracles over synthesized media. The archive codecs decode in C
the runtime already ships: DEFLATE and gzip through the stdlib's zlib,
bzip2 through bz2, xz through lzma, and zstd frames without a
dictionary through libzstd (Arrow); LZ4, Snappy and dictionary zstd
frames decode by hand. The documented decode boundaries — MP3 Layer
II/III PCM, H.264 CAVLC/CABAC residuals, VP8 entropy, TIFF strips —
are where a production pipeline routes payloads to ffmpeg, AFTER the
magic-byte sniffer (``sniff_media``) and this triage layer decide what
is worth routing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# The kernel path: three kernels, and the factories that bind a public
# name to a kernel and a ``(module, function)`` pair of
# ``datawarehouseproject_spark.functions``.

_FUNCTIONS = "datawarehouseproject_spark.functions"


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


def _synthesize_media(
    ids: DataFrame, id_col: str, module: str, fn: str
) -> DataFrame:
    """Shared shape of the per-id payload synthesizers: resolve
    ``functions.<module>.<fn>`` ON THE EXECUTOR, emit (media_id,
    payload) via Arrow-batched mapInPandas over salt-balanced ids."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import importlib

        synth = getattr(importlib.import_module(f"{_FUNCTIONS}.{module}"), fn)
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


def _output_schema(media: DataFrame, feature_schema: T.StructType, permissive: bool):
    """Output of both decode kernels: the input's non-payload columns,
    one column per ``feature_schema`` field, then ``decode_error``
    when permissive. Returns ``(schema, kept names, feature names)``."""
    keep = [f for f in media.schema.fields if f.name != "payload"]
    fields = list(keep) + list(feature_schema.fields)
    if permissive:
        fields.append(T.StructField("decode_error", T.StringType()))
    return (
        T.StructType(fields),
        [f.name for f in keep],
        tuple(f.name for f in feature_schema.fields),
    )


def _extract_metadata(
    media: DataFrame,
    feature_schema: T.StructType,
    module: str,
    fn: str,
    permissive: bool,
) -> DataFrame:
    """ONE ROW PER PAYLOAD, the ``extract_*`` metadata triages and full
    decodes alike: Arrow-batched mapInPandas around
    ``functions.<module>.<fn>``, a ``bytes -> dict`` parser resolved ON
    THE EXECUTOR whose dict holds (at least) every ``feature_schema``
    field. Strict mode raises ``media_id=<id>: <error>``; permissive
    mode emits a NULL-feature row with ``decode_error``. Each output
    batch is built in one ``pd.DataFrame`` call."""
    schema, keep_names, feat_names = _output_schema(
        media, feature_schema, permissive
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import importlib

        parse = getattr(importlib.import_module(f"{_FUNCTIONS}.{module}"), fn)
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


def _explode_rows(
    media: DataFrame,
    row_schema: T.StructType,
    module: str,
    fn: str,
    permissive: bool,
    args: tuple = (),
) -> DataFrame:
    """MANY ROWS PER PAYLOAD: one output row per element of the list
    ``functions.<module>.<fn>(payload, *args)`` returns, each a dict holding
    every ``row_schema`` field; the input's non-payload columns repeat
    on each row. Same columns and error contract as
    :func:`_extract_metadata`; a quarantined payload is ONE row of NULL
    fields with ``decode_error``."""
    schema, keep_names, feat_names = _output_schema(media, row_schema, permissive)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import importlib

        parse = getattr(importlib.import_module(f"{_FUNCTIONS}.{module}"), fn)
        for pdf in it:
            take: list[int] = []  # the input row of each output row
            feats: dict[str, list] = {k: [] for k in feat_names}
            errors: list[str | None] = []
            for i, (mid, p) in enumerate(zip(pdf["media_id"], pdf["payload"])):
                try:
                    rows = list(parse(bytes(p), *args))
                    error = None
                except ValueError as e:
                    if not permissive:
                        raise ValueError(f"media_id={mid}: {e}") from e
                    rows, error = [dict.fromkeys(feat_names)], str(e)
                take.extend([i] * len(rows))
                for k in feat_names:
                    feats[k].extend([r[k] for r in rows])
                errors.extend([error] * len(rows))
            cols = {k: pdf[k].array.take(take) for k in keep_names}
            cols.update(feats)
            if permissive:
                cols["decode_error"] = errors
            yield pd.DataFrame(cols)

    return media.mapInPandas(batches, schema=schema)


def _synthesizer(module: str, fn: str, doc: str):
    """A ``synthesize_*_media(ids, id_col="doc_id")`` name over
    ``functions.<module>.<fn>`` (``int -> bytes``)."""

    def synthesize(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
        return _synthesize_media(ids, id_col, module, fn)

    synthesize.__doc__ = doc
    return synthesize


def _extractor(module: str, fn: str, feature_schema: T.StructType, doc: str):
    """An ``extract_*(media, permissive=False)`` name: one
    ``feature_schema`` row per payload from ``functions.<module>.<fn>``."""

    def extract(media: DataFrame, permissive: bool = False) -> DataFrame:
        return _extract_metadata(media, feature_schema, module, fn, permissive)

    extract.__doc__ = doc
    return extract


def _exploder(module: str, fn: str, schema: T.StructType, doc: str):
    """An ``explode_*(media)`` name: ``schema`` is ``media_id`` then the
    fields of each element of ``functions.<module>.<fn>``'s list; other
    input columns are dropped. Strict."""
    row_schema = T.StructType(schema.fields[1:])

    def explode(media: DataFrame) -> DataFrame:
        return _explode_rows(
            media.select("media_id", "payload"), row_schema, module, fn, False
        )

    explode.__doc__ = doc
    return explode


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
    return _explode_rows(
        media.select("media_id", "payload"),
        T.StructType(FRAME_SCHEMA.fields[1:]),
        "avi",
        "sample_avi_frames",
        False,
        (every_n,),
    )


synthesize_avi_media = _synthesizer("avi", "synth_avi",
    """id column -> (media_id, payload) of real uncompressed-DIB AVI
    clips (``functions/avi.py:synth_avi``): frame count, size, and
    every pixel derive from the id by modular arithmetic.""")


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


synthesize_wav_media = _synthesizer("wav", "synth_wav",
    """id column -> (media_id, payload) of real 16-bit PCM WAV clips
    (``functions/wav.py:synth_wav``), deterministic per id.""")


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
    return _extract_metadata(
        media.select("media_id", "payload"),
        T.StructType(AUDIO_FEATURE_SCHEMA.fields[1:]),
        "wav",
        "decode_wav_features",
        False,
    )


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

#: image codec -> (functions module, its ``image_phash`` row, its
#: ``IMAGE_FEATURE_SCHEMA`` row); serves ``extract_image_features`` and
#: ``image_phash``
_IMAGE_CODECS = {
    "bmp": ("bmp", "decode_bmp_phash", "decode_bmp_features"),
    "png": ("png", "decode_png_phash", "decode_png_features"),
    "gif": ("gif", "decode_gif_phash", "decode_gif_features"),
    "jpeg": ("jpeg", "decode_jpeg_phash", "decode_jpeg_features"),
}


synthesize_bmp_media = _synthesizer("bmp", "synth_bmp",
    """id column -> (media_id, payload) of real 24-bit BMP bytes.

    Deterministic synthesis (``functions/bmp.py:synth_bmp``): size and
    every pixel derive from the id by modular arithmetic, so the DuckDB
    oracle can recompute any statistic the decoder extracts. This is
    the test-scaffolding half; the operator under test is the DECODE.
    """)


synthesize_png_media = _synthesizer("png", "synth_png",
    """id column -> (media_id, payload) of real 8-bit truecolor PNG
    bytes (``functions/png.py:synth_png``): size and every pixel
    derive from the id by modular arithmetic (distinct formulas from
    the BMP family), then pass through filter + DEFLATE encoding —
    so the oracle-checked decode has to undo real compression.""")


synthesize_gif_media = _synthesizer("gif", "synth_gif",
    """id column -> (media_id, payload) of real GIF87a bytes
    (``functions/gif.py:synth_gif``): palette indices from modular
    arithmetic over the id, then REAL variable-width LZW encoding —
    the second compressed format, with a different compression
    algorithm than PNG's DEFLATE.""")


synthesize_jpeg_media = _synthesizer("jpeg", "synth_jpeg",
    """id column -> (media_id, payload) of real baseline JPEG bytes
    (``functions/jpeg.py:synth_jpeg``): every 8×8 block is a constant
    gray from modular arithmetic over the id, which is exactly the
    construction that survives lossy JPEG bit-exactly (DC-only
    blocks, DC quant step 1, gray ⇒ Cb=Cr=128) — so the decode is
    value-checkable by the DuckDB oracle like the lossless codecs.""")


synthesize_jpeg420_media = _synthesizer("jpeg", "synth_jpeg420",
    """id column -> (media_id, payload) of real 4:2:0-subsampled
    JPEGs WITH restart intervals
    (``functions/jpeg.py:synth_jpeg420``) — the profile virtually
    every camera/web photo uses (2×2 luma sampling, RSTn markers).
    Every 16×16 MACROBLOCK is a constant gray from modular
    arithmetic over the id: all four luma blocks of an MCU are
    DC-only (exact under DC quant step 1), gray keeps the
    box-averaged chroma at the constant 128, and nearest-neighbor
    upsampling of a constant is exact — so even the subsampled lossy
    path is value-checkable by the DuckDB oracle.""")


synthesize_progressive_jpeg_media = _synthesizer("jpeg", "synth_jpeg_progressive",
    """id column -> (media_id, payload) of real PROGRESSIVE (SOF2)
    4:2:0 JPEGs with restart intervals
    (``functions/jpeg.py:synth_jpeg_progressive``) — the web-delivery
    profile: a libjpeg-style 10-scan script with spectral selection
    and successive approximation. Every 16×16 MACROBLOCK is a
    constant gray from modular arithmetic over the id, so DC
    successive approximation is lossless (first scan sends DC>>1,
    the refinement scan restores bit 0) and every AC scan codes pure
    end-of-band — the decoded pixels equal the synthesis formula
    EXACTLY and stay value-checkable by the DuckDB oracle.""")


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
    if codec not in _IMAGE_CODECS:
        raise ValueError(f"unsupported image codec {codec!r}")
    module, _, features = _IMAGE_CODECS[codec]
    return _extract_metadata(
        media, IMAGE_FEATURE_SCHEMA, module, features, permissive
    )


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
    return _extract_metadata(
        media.select("media_id", "payload"),
        T.StructType(ADPCM_FEATURE_SCHEMA.fields[1:]),
        "adpcm",
        "wav_roundtrip_features",
        False,
    )


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
    if codec not in _IMAGE_CODECS:
        raise ValueError(f"unsupported image codec {codec!r}")
    module, phash, _ = _IMAGE_CODECS[codec]
    return _extract_metadata(
        media.select("media_id", "payload"),
        T.StructType([T.StructField("phash", T.LongType())]),
        module,
        phash,
        False,
    )


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
                try:
                    _, _, frames = decode_wav(bytes(p))
                except ValueError as e:
                    raise ValueError(f"media_id={mid}: {e}") from e
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


synthesize_mp3_media = _synthesizer("mpeg_audio", "synth_mp3",
    """id column -> (media_id, payload) of real MPEG-1 Layer III
    frame sequences behind ID3v2 tags (``functions/mpeg_audio.py``):
    frame count, VBR bitrate ladder, paddings and tag size all derive
    from the id by modular arithmetic, so the oracle can recompute
    every statistic the frame walk extracts — including the total
    byte length, which validates the 144·kbps/rate arithmetic.""")


synthesize_layer1_media = _synthesizer("mpeg_audio", "synth_mpeg1_layer1",
    """id column -> (media_id, payload) of real MPEG-1 Layer I mono
    streams (``functions/mpeg_audio.py:synth_mpeg1_layer1``): frame
    count, sample rate, per-subband allocation/scalefactor/sample
    codes all derive from the id by modular arithmetic, so the
    oracle can recompute every requantized amplitude the decoder
    extracts.""")


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
    return _explode_rows(
        media, LAYER1_SUBBAND_SCHEMA, "mpeg_audio", "decode_mpeg1_layer1",
        permissive,
    )


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


synthesize_exif_jpeg_media = _synthesizer("exif", "synth_jpeg_with_exif",
    """id column -> (media_id, payload) of real 4:2:0 JPEGs carrying
    an EXIF APP1 segment (``functions/exif.py``): TIFF header with
    id-alternating II/MM byte order, IFD0
    (make/model/orientation/resolution/datetime) and the Exif
    sub-IFD (ISO, exposure) — every field modular arithmetic over
    the id, so the oracle recomputes all of them.""")


extract_exif_metadata = _extractor("exif", "parse_exif", EXIF_SCHEMA,
    """EXIF metadata triage per JPEG payload: marker walk to APP1,
    II/MM byte-order dispatch, IFD entry decode with
    inline-vs-offset value resolution, Exif sub-IFD recursion
    (:func:`..functions.exif.parse_exif`).""")


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


synthesize_id3_mp3_media = _synthesizer("mpeg_audio", "synth_mp3_id3",
    """id column -> (media_id, payload) of MPEG streams behind REAL
    ID3v2.3/v2.4 tags (``functions/mpeg_audio.py:synth_mp3_id3``) —
    version alternates by id so both frame-size codecs (big-endian
    vs syncsafe) run on every batch.""")


extract_id3_tags = _extractor("mpeg_audio", "parse_id3", ID3_SCHEMA,
    """ID3v2 tag triage per MP3 payload
    (:func:`..functions.mpeg_audio.parse_id3`): header validation,
    the v2.3/v2.4 frame-size fork, frame walk, text decode.""")


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


synthesize_proto_media = _synthesizer("protowire", "synth_record",
    """id column -> (media_id, payload) of serialized protobuf wire
    records (``functions/protowire.py:synth_record``): varints,
    zigzag, fixed32, strings, a nested message, packed repeated
    ints, and one deliberately unknown field.""")


extract_proto_records = _extractor("protowire", "parse_record", PROTO_RECORD_SCHEMA,
    """Protobuf wire-format decode per payload
    (:func:`..functions.protowire.parse_record`): varint/zigzag/
    fixed/length-delimited walk, nested-message recursion, packed
    repeated scalars, unknown-field skipping.""")


ZIP_SCHEMA = T.StructType(
    [
        T.StructField("n_members", T.IntegerType()),
        T.StructField("n_stored", T.IntegerType()),
        T.StructField("n_deflated", T.IntegerType()),
        T.StructField("total_uncompressed", T.LongType()),
        T.StructField("member_names", T.StringType()),
    ]
)


synthesize_zip_media = _synthesizer("zipscan", "synth_zip",
    """id column -> (media_id, payload) of ZIP archives written by
    the STDLIB ``zipfile`` producer (``functions/zipscan.py``) — an
    independent writer, so the scanner parses a real third-party
    byte layout.""")


extract_zip_structure = _extractor("zipscan", "scan_zip", ZIP_SCHEMA,
    """ZIP central-directory triage per payload
    (:func:`..functions.zipscan.scan_zip`): EOCD backward scan,
    entry validation, central-header walk. Reads the archive TAIL —
    member data never decompresses.""")


TAR_SCHEMA = T.StructType(
    [
        T.StructField("n_members", T.IntegerType()),
        T.StructField("total_bytes", T.LongType()),
        T.StructField("n_dirs_refd", T.IntegerType()),
        T.StructField("member_names", T.StringType()),
    ]
)


synthesize_tar_media = _synthesizer("zipscan", "synth_tar",
    """id column -> (media_id, payload) of ustar archives written by
    the STDLIB ``tarfile`` producer (``functions/zipscan.py``).""")


extract_tar_structure = _extractor("zipscan", "scan_tar", TAR_SCHEMA,
    """ustar header-walk triage per payload
    (:func:`..functions.zipscan.scan_tar`): octal fields, checksum
    verification, 512-aligned skips, end-of-archive marker.""")


GZIP_SCHEMA = T.StructType(
    [
        T.StructField("fname", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_bytes", T.LongType()),
    ]
)


synthesize_gzip_media = _synthesizer("zipscan", "synth_gzip",
    """id column -> (media_id, payload) of RFC 1952 gzip members
    (stdlib zlib producer, FNAME flag set, fixed mtime).""")


extract_gzip_content = _extractor("zipscan", "decode_gzip", GZIP_SCHEMA,
    """FULL verified gzip decode per payload
    (:func:`..functions.zipscan.decode_gzip`): header flags, raw
    DEFLATE inflate, CRC32 + ISIZE trailer verification against the
    recovered bytes.""")


synthesize_sitemap_media = _synthesizer("sitemap_xml", "synth_sitemap",
    """id column -> (media_id, payload) of XML sitemaps written by
    the STDLIB ElementTree producer (``functions/sitemap_xml.py``);
    the parse side is zero-UDF JVM SQL in `xml_sitemap_scan`.""")


PDF_SCHEMA = T.StructType(
    [
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_objects", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("text_chars", T.IntegerType()),
    ]
)


synthesize_pdf_media = _synthesizer("pdf_text", "synth_pdf",
    """id column -> (media_id, payload) of classic-xref PDFs with
    FlateDecode content streams (``functions/pdf_text.py``).""")


synthesize_pdf_xref_stream_media = _synthesizer("pdf_text", "synth_pdf_xref_stream",
    """id column -> (media_id, payload) of PDF 1.5 files: xref
    STREAM + object stream + PNG-predictor FlateDecode
    (``functions/pdf_text.py:synth_pdf_xref_stream``).""")


synthesize_pdf_incremental_media = _synthesizer("pdf_text", "synth_pdf_incremental",
    """id column -> (media_id, payload) of incrementally-updated
    PDFs: base file + appended update section + /Prev chain
    (``functions/pdf_text.py:synth_pdf_incremental``).""")


extract_pdf_text_features = _extractor("pdf_text", "extract_pdf_text", PDF_SCHEMA,
    """Full PDF reader walk per payload
    (:func:`..functions.pdf_text.extract_pdf_text`): xref table,
    object tokenizer, page tree, inflated content streams,
    Tj/'/TJ text operators.""")


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


synthesize_orc_values_media = _synthesizer("orc_pages", "synth_orc_values",
    """id column -> (media_id, payload) of uncompressed ORC files
    written by the INDEPENDENT pyarrow producer
    (``functions/orc_pages.py``), with column shapes chosen to hit
    all four RLEv2 sub-encodings.""")


extract_orc_values = _extractor("orc_pages", "scan_orc_values", ORC_VALUES_SCHEMA,
    """Stripe DATA decode per payload
    (:func:`..functions.orc_pages.scan_orc_values`): stripe-footer
    protobuf walk, full RLEv2 integer decode, string LENGTH+DATA
    reassembly, row counts cross-checked against the footer.""")


DEFLATE_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_bytes", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("last_byte", T.IntegerType()),
    ]
)


synthesize_deflate_media = _synthesizer("inflate", "synth_deflate",
    """id column -> (media_id, payload) of raw DEFLATE streams
    written by the STDLIB zlib compressor (levels 0-9 + Z_FIXED
    rotation — ``functions/inflate.py``).""")


extract_deflate_content = _extractor("inflate", "decode_deflate", DEFLATE_SCHEMA,
    """RFC 1951 inflate per payload through the stdlib zlib
    decompressor (:func:`..functions.inflate.inflate`): bounded
    output, truncation rejected.""")


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


synthesize_email_media = _synthesizer("mime_mail", "synth_email",
    """id column -> (media_id, payload) of RFC 5322 messages written
    by the STDLIB ``email`` producer (``functions/mime_mail.py``) —
    encoded-word subjects, multipart/mixed, base64 and
    quoted-printable transfer encodings.""")


extract_email_metadata = _extractor("mime_mail", "parse_mime_message", MIME_SCHEMA,
    """Hand-rolled MIME parse per payload
    (:func:`..functions.mime_mail.parse_mime_message`): header
    unfolding, RFC 2047 decode, boundary split, base64/QP transfer
    decode — zero shared code with the stdlib producer.""")


synthesize_h264_media = _synthesizer("h264", "synth_h264",
    """id column -> (media_id, payload) of valid H.264 Annex B byte
    streams (``functions/h264.py``): SPS (with real exp-Golomb
    dimension/cropping encoding) + PPS + IDR + id-derived non-IDR
    slices, with payload bytes engineered to exercise emulation
    prevention.""")


synthesize_palette_png_media = _synthesizer("png", "synth_png_palette",
    """id column -> (media_id, payload) of PALETTE (color type 3)
    PNGs (``functions/png.py:synth_png_palette``): index planes from
    modular arithmetic through a fixed 256-entry PLTE table; every
    2nd seed Adam7-interlaced on top — the icon/web-graphic profile
    that dominates real PNG corpora by file count.""")


synthesize_mixed_media = _synthesizer("sniff", "synth_mixed",
    """id column -> (media_id, payload) of a MIXED, unlabeled corpus:
    the format rotates with id % len(SNIFF_ROTATION) through eight
    real synthesizers — how a crawl actually arrives, and the
    fixture the sniffer runs against.""")


SNIFF_SCHEMA = T.StructType([T.StructField("fmt", T.StringType())])


def sniff_media(media: DataFrame) -> DataFrame:
    """Magic-byte format dispatch per payload
    (:func:`..functions.sniff.sniff_media_format`) — never raises,
    so no permissive mode is needed: unknown IS the answer."""
    return _extract_metadata(media, SNIFF_SCHEMA, "sniff", "sniff_fields", False)


synthesize_parquet_media = _synthesizer("parquet_footer", "synth_parquet",
    """id column -> (media_id, payload) of REAL parquet files
    written by pyarrow (``functions/parquet_footer.py``) — the
    independent producer pinning the hand-rolled Thrift reader.""")


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


extract_parquet_footer = _extractor(
    "parquet_footer", "scan_parquet_footer", PARQUET_FOOTER_SCHEMA,
    """Parquet footer triage per payload: Thrift compact-protocol
    FileMetaData parse
    (:func:`..functions.parquet_footer.scan_parquet_footer`).""")


synthesize_warc_media = _synthesizer("warc", "synth_warc",
    """id column -> (media_id, payload) of spec-conformant .warc.gz
    crawl archives (``functions/warc.py:synth_warc``): one gzip
    member per record, warcinfo + request/response pairs.""")


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


synthesize_warc_zst_media = _synthesizer("warc", "synth_warc_zst",
    """id column -> (media_id, payload) of .warc.zst archives — the
    layout Common Crawl actually distributes: zstd frames of records
    behind a skippable dictionary frame
    (``functions/warc.py:synth_warc_zst``).""")


synthesize_warc_zst_dict_media = _synthesizer("warc", "synth_warc_zst_dict",
    """id column -> (media_id, payload) of DICT-TRAINED .warc.zst
    archives: a real ``zstd --train`` dictionary in the IIPC
    ``0x184D2A5D`` skippable frame, record frames compressed with it
    (``functions/warc.py:synth_warc_zst_dict``).  Costs ~30 ms and
    two CLI subprocesses per payload — callers should SAMPLE the id
    column (the registry query keeps ``doc_id % 16 = 0``).""")


extract_warc_scan = _extractor("warc", "scan_warc", WARC_SCAN_SCHEMA,
    """WARC record split per payload: member-by-member gzip decode +
    record-grammar parse (:func:`..functions.warc.scan_warc`).""")


synthesize_warc_text_media = _synthesizer("warc", "synth_warc_text",
    """id column -> (media_id, payload) of .warc.gz whose response
    payloads are tokenizable text
    (``functions/warc.py:synth_warc_text``).""")


WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("rec_idx", T.IntegerType()),
        T.StructField("rec_type", T.StringType()),
        T.StructField("uri", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


explode_warc_records = _exploder("warc", "warc_record_rows", WARC_RECORD_SCHEMA,
    """One OUTPUT ROW PER WARC RECORD — the handoff from the Python
    record splitter to JVM-side text stages: everything downstream
    (tokenization, filtering, aggregation) runs in whole-stage
    codegen, exactly how a crawl pipeline should split work.  Payload
    bytes decode as UTF-8 with replacement (crawl payloads lie about
    encodings; replacement keeps the row, never kills the task).""")


synthesize_arrow_media = _synthesizer("arrow_ipc", "synth_arrow_ipc",
    """id column -> (media_id, payload) of REAL Arrow IPC files from
    pyarrow's writer (``functions/arrow_ipc.py:synth_arrow_ipc``),
    multi-batch.""")


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


extract_arrow_scan = _extractor("arrow_ipc", "scan_arrow_ipc", ARROW_SCAN_SCHEMA,
    """Arrow IPC triage per payload: footer flatbuffer -> blocks ->
    per-batch Message flatbuffers
    (:func:`..functions.arrow_ipc.scan_arrow_ipc`).""")


synthesize_xz_media = _synthesizer("xz_scan", "synth_xz",
    """id column -> (media_id, payload) of REAL .xz files from stdlib
    lzma (``functions/xz_scan.py:synth_xz``), check types rotating
    and odd seeds carrying concatenated streams.""")


XZ_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_streams", T.IntegerType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("uncompressed_total", T.LongType()),
        T.StructField("check_type", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


extract_xz_scan = _extractor("xz_scan", "scan_xz", XZ_SCAN_SCHEMA,
    """XZ container triage per payload: footer -> index -> block map
    with every skeleton CRC verified
    (:func:`..functions.xz_scan.scan_xz`).""")


ZSTD_TEXT_SCHEMA = T.StructType([T.StructField("text", T.StringType())])


synthesize_zstd_media = _synthesizer("zstd_codec", "synth_zstd",
    """id column -> (media_id, payload) of REAL zstd frames from the
    libzstd producer (``functions/zstd_codec.py:synth_zstd``), levels
    rotating 1/3/9/19, odd seeds concatenated two-frame files.""")


extract_zstd_decode = _extractor("zstd_codec", "decode_zstd_text", ZSTD_TEXT_SCHEMA,
    """FULL zstd decode per payload
    (:func:`..functions.zstd_codec.decode_zstd`): these frames need no
    dictionary, so they decode through libzstd (Arrow), content size
    and checksums verified; the hand FSE/Huffman decoder serves
    dictionary frames and is the tests' reference.""")


LZ4_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("n_distinct", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


synthesize_lz4_media = _synthesizer("lz4_codec", "synth_lz4",
    """id column -> (media_id, payload) of REAL .lz4 frames from the
    pyarrow (reference C) producer
    (``functions/lz4_codec.py:synth_lz4``).""")


extract_lz4_decode = _extractor("lz4_codec", "scan_lz4_frame", LZ4_SCAN_SCHEMA,
    """FULL LZ4 frame decode per payload
    (:func:`..functions.lz4_codec.scan_lz4_frame`): descriptor with
    xxh32-derived header checksum, linked-block history, stored
    blocks, content checksum — all verified by hand.""")


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


synthesize_tfrecord_media = _synthesizer("tfrecord", "synth_tfrecord",
    """id column -> (media_id, payload) of TFRecord shards whose
    records are protowire protobuf messages
    (``functions/tfrecord.py:synth_tfrecord``).""")


synthesize_tfrecord_compressed_media = _synthesizer(
    "tfrecord", "synth_tfrecord_compressed",
    """id column -> (media_id, payload) of COMPRESSED TFRecord
    shards (.tfrecord.gz multi-member / .tfrecord.zst by seed,
    ``functions/tfrecord.py:synth_tfrecord_compressed``).""")


extract_tfrecord_scan = _extractor("tfrecord", "scan_tfrecord", TFRECORD_SCHEMA,
    """TFRecord walk per payload
    (:func:`..functions.tfrecord.scan_tfrecord`): framing + BOTH
    masked CRC32Cs verified per record, then a full protobuf wire
    decode of every record payload.""")


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


synthesize_arrow_stream_media = _synthesizer("arrow_ipc", "synth_arrow_stream",
    """id column -> (media_id, payload) of Arrow IPC STREAMS (the
    footer-less wire format) from the pyarrow writer
    (``functions/arrow_ipc.py:synth_arrow_stream``).""")


extract_arrow_stream = _extractor(
    "arrow_ipc", "decode_arrow_stream", ARROW_VALUES_SCHEMA,
    """Arrow IPC STREAMING decode per payload
    (:func:`..functions.arrow_ipc.decode_arrow_stream`): schema
    message first, schema state carried forward, end-of-stream
    marker honored — the no-footer wire layout.""")


synthesize_arrow_values_media = _synthesizer("arrow_ipc", "synth_arrow_values",
    """id column -> (media_id, payload) of Arrow IPC files with
    nullable int64/int32/utf8 columns from the pyarrow writer
    (``functions/arrow_ipc.py:synth_arrow_values``).""")


extract_arrow_values = _extractor(
    "arrow_ipc", "decode_arrow_values", ARROW_VALUES_SCHEMA,
    """Arrow IPC VALUE decode per payload
    (:func:`..functions.arrow_ipc.decode_arrow_values`): schema type
    resolution, FieldNode/Buffer preorder walk, LSB-first validity
    bitmaps, body-relative buffer bounds — exact sums over non-null
    slots only.""")


synthesize_arrow_dict_media = _synthesizer("arrow_ipc", "synth_arrow_dict",
    """id column -> (media_id, payload) of Arrow IPC FILES with
    dictionary-encoded utf8/int32 columns
    (``functions/arrow_ipc.py:synth_arrow_dict``).""")


synthesize_arrow_dict_stream_media = _synthesizer(
    "arrow_ipc", "synth_arrow_dict_stream",
    """id column -> (media_id, payload) of Arrow IPC STREAMS whose
    dictionary grows per batch, forcing initial + DELTA dictionary
    batches (``functions/arrow_ipc.py:synth_arrow_dict_stream``).""")


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


synthesize_npz_media = _synthesizer("npy_scan", "synth_npz",
    """id column -> (media_id, payload) of REAL .npz containers from
    the numpy producer (``functions/npy_scan.py:synth_npz``): 2-3
    arrays each, dtypes i8/i4/u1, mixed C/Fortran order, STORED and
    DEFLATE containers rotating.""")


extract_npz_scan = _extractor("npy_scan", "scan_npz", NPZ_SCAN_SCHEMA,
    """NPY/NPZ tensor read from raw bytes per payload
    (:func:`..functions.npy_scan.scan_npz`): hand-rolled ZIP walk ->
    inflate -> regex-grammar NPY header (no eval) -> struct
    data decode with the fortran-order remap pinned by a
    position-weighted checksum.""")


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


synthesize_pickle_media = _synthesizer("pickle_scan", "synth_pickle",
    """id column -> (media_id, payload) of REAL pickles from the
    stdlib producer (``functions/pickle_scan.py:synth_pickle``),
    protocol rotating 0..5 and every 7th payload carrying a class
    (global) reference.""")


extract_pickle_scan = _extractor("pickle_scan", "scan_pickle", PICKLE_SCAN_SCHEMA,
    """Pickle opcode triage per payload WITHOUT unpickling
    (:func:`..functions.pickle_scan.scan_pickle`): full opcode
    grammar walk, embedded value stats, and the GLOBAL/STACK_GLOBAL
    ``module qualname`` references that make a payload dangerous —
    surfaced without importing or calling anything.""")


XZ_TEXT_SCHEMA = T.StructType([T.StructField("text", T.StringType())])


synthesize_xz_text_media = _synthesizer("lzma_codec", "synth_xz_text",
    """id column -> (media_id, payload) of REAL .xz files from the
    stdlib liblzma producer over a deterministic text plan
    (``functions/lzma_codec.py:synth_xz_text``): check type rotates
    all four, odd seeds ship as two concatenated streams.""")


extract_xz_decode = _extractor("lzma_codec", "decode_xz_text", XZ_TEXT_SCHEMA,
    """FULL .xz decode per payload through liblzma, every stream and
    per-block plaintext check verified
    (:func:`..functions.lzma_codec.decode_xz`); the full-decode
    companion of the triage-only :func:`extract_xz_scan`.  Returns the
    recovered plaintext so the STATS stay JVM-side (the
    Python-narrow / JVM-wide split of ``pdf_corpus_text_stats``).""")


synthesize_bz2_media = _synthesizer("bzip2", "synth_bz2",
    """id column -> (media_id, payload) of REAL .bz2 streams from the
    stdlib compressor (``functions/bzip2.py:synth_bz2``), levels
    rotating 1..9.""")


BZ2_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("n_distinct", T.IntegerType()),
        T.StructField("compressed_bytes", T.LongType()),
    ]
)


extract_bz2_decode = _extractor("bzip2", "scan_bz2", BZ2_SCAN_SCHEMA,
    """Full bzip2 decode per payload through libbz2, block and
    stream CRCs verified (:func:`..functions.bzip2.scan_bz2`).""")


synthesize_sqlite_media = _synthesizer("sqlite_scan", "synth_sqlite",
    """id column -> (media_id, payload) of REAL SQLite databases
    produced by the stdlib sqlite3 engine via ``Connection.serialize``
    (``functions/sqlite_scan.py``) — 512-byte pages growing genuine
    multi-level table b-trees.""")


synthesize_sqlite_wr_media = _synthesizer("sqlite_scan", "synth_sqlite_wr",
    """id column -> (media_id, payload) of WITHOUT ROWID SQLite
    databases with a secondary index
    (``functions/sqlite_scan.py:synth_sqlite_wr``).""")


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


extract_sqlite_wr_scan = _extractor(
    "sqlite_scan", "scan_sqlite_without_rowid", SQLITE_WR_SCHEMA,
    """WITHOUT ROWID table + secondary-index read per payload
    (:func:`..functions.sqlite_scan.scan_sqlite_without_rowid`).""")


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


extract_sqlite_scan = _extractor("sqlite_scan", "scan_sqlite", SQLITE_SCAN_SCHEMA,
    """SQLite table read per payload: header parse, sqlite_schema
    walk, table b-tree traversal, record decode
    (:func:`..functions.sqlite_scan.scan_sqlite`).""")


synthesize_rle8_bmp_media = _synthesizer("bmp", "synth_bmp_rle8",
    """id column -> (media_id, payload) of 8-bit palette BI_RLE8 BMPs
    (``functions/bmp.py:synth_bmp_rle8``): banded index planes whose
    zero bands encode as delta escapes, the screenshot/diagram profile
    that dominates RLE-compressed bitmaps in the wild.""")


synthesize_parquet_data_media = _synthesizer("parquet_pages", "synth_parquet_data",
    """id column -> (media_id, payload) of REAL parquet files written
    by pyarrow with the FULL encoding rotation (V1/V2 data pages,
    dictionary on/off, gzip/uncompressed; multi-row-group, multi-page
    chunks) — the fixture for the data-page VALUE decoder
    (``functions/parquet_pages.py``).""")


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


extract_parquet_values = _extractor(
    "parquet_pages", "scan_parquet_values", PARQUET_VALUES_SCHEMA,
    """Parquet data-page VALUE decode per payload: page-header walk +
    RLE/bit-packed levels + PLAIN/dictionary values
    (:func:`..functions.parquet_pages.scan_parquet_values`).""")


synthesize_avro_media = _synthesizer("avro_scan", "synth_avro",
    """id column -> (media_id, payload) of Avro object containers,
    codec rotating null/deflate/snappy
    (``functions/avro_scan.py:synth_avro``).""")


synthesize_iceberg_media = _synthesizer("iceberg_scan", "synth_iceberg",
    """id column -> (media_id, payload) of Iceberg table bundles
    (metadata JSON + manifest-list/manifest avro + real parquet,
    ``functions/iceberg_scan.py:synth_iceberg``).""")


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


extract_iceberg_scan = _extractor("iceberg_scan", "scan_iceberg", ICEBERG_SCAN_SCHEMA,
    """Iceberg snapshot planning + pruned read per payload
    (:func:`..functions.iceberg_scan.scan_iceberg`).""")


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


extract_avro_scan = _extractor("avro_scan", "scan_avro", AVRO_SCAN_SCHEMA,
    """Avro container read per payload
    (:func:`..functions.avro_scan.scan_avro`): metadata map, schema
    JSON -> decode plan, per-block codec + sync verification, binary
    record decode.""")


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


explode_avro_records = _exploder("avro_scan", "avro_record_rows", AVRO_RECORD_SCHEMA,
    """One OUTPUT ROW PER AVRO RECORD — the Python-narrow/JVM-wide
    handoff applied to the row-major container: Python does only the
    byte-level work it must (block framing, codec, binary record
    decode), emits TYPED columns, and every downstream stage
    (grouping, aggregation, joins) runs in whole-stage codegen.
    At 100 TB this is the shape an Avro ingest keeps: the decode is
    embarrassingly parallel per file, and the shuffle operates on
    compact typed columns, never on raw payloads.""")


synthesize_parquet_page_index_media = _synthesizer(
    "parquet_pageindex", "synth_parquet_page_index",
    """id column -> (media_id, payload) of parquet files carrying
    ColumnIndex/OffsetIndex page statistics
    (``functions/parquet_pageindex.py:synth_parquet_page_index``).""")


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


extract_parquet_page_index = _extractor(
    "parquet_pageindex", "scan_parquet_page_index", PARQUET_PAGE_INDEX_SCHEMA,
    """Page-index scan per payload
    (:func:`..functions.parquet_pageindex.scan_parquet_page_index`):
    ColumnIndex/OffsetIndex decode, cross-checks, split-independent
    min/max/null aggregates, point-lookup pruning.""")


synthesize_ico_media = _synthesizer("ico", "synth_ico",
    """id column -> (media_id, payload) of ICO favicon containers
    (``functions/ico.py``): mixed PNG/DIB entries at formula sizes.""")


ICO_SCHEMA = T.StructType(
    [
        T.StructField("n_entries", T.IntegerType()),
        T.StructField("max_size", T.IntegerType()),
        T.StructField("n_png", T.IntegerType()),
        T.StructField("n_dib", T.IntegerType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


extract_ico_structure = _extractor("ico", "scan_ico", ICO_SCHEMA,
    """ICO directory triage per payload
    (:func:`..functions.ico.scan_ico`).""")


synthesize_orc_media = _synthesizer("orc_footer", "synth_orc",
    """id column -> (media_id, payload) of REAL ORC files written by
    pyarrow with uncompressed tails (``functions/orc_footer.py``).""")


synthesize_orc_compressed_media = _synthesizer("orc_footer", "synth_orc_compressed",
    """id column -> (media_id, payload) of ORC files with COMPRESSED
    tails, codec rotating zlib/snappy/lz4/zstd
    (``functions/orc_footer.py:synth_orc_compressed``).""")


ORC_FOOTER_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_stripes", T.IntegerType()),
        T.StructField("n_columns", T.IntegerType()),
        T.StructField("compression", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


extract_orc_footer = _extractor("orc_footer", "scan_orc_footer", ORC_FOOTER_SCHEMA,
    """ORC tail triage per payload: postscript + protobuf footer
    (:func:`..functions.orc_footer.scan_orc_footer`).""")


synthesize_tiff_media = _synthesizer("tiff", "synth_tiff",
    """id column -> (media_id, payload) of MULTI-PAGE TIFFs
    (``functions/tiff.py:synth_tiff``): chained IFDs, alternating
    byte order per id, word-aligned directories.""")


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


extract_tiff_structure = _extractor("tiff", "scan_tiff", TIFF_SCHEMA,
    """Multi-page TIFF triage per payload: IFD-chain walk with
    cycle detection (:func:`..functions.tiff.scan_tiff`).""")


synthesize_webp_media = _synthesizer("webp", "synth_webp",
    """id column -> (media_id, payload) of WebP RIFF containers
    (``functions/webp.py``) — the profile rotates per id: lossy VP8,
    lossless VP8L, extended VP8X (with EXIF chunks and RIFF padding
    on odd sizes).""")


synthesize_flac_media = _synthesizer("flac", "synth_flac",
    """id column -> (media_id, payload) of FLAC files with
    STREAMINFO + Vorbis-comment metadata blocks
    (``functions/flac.py``).""")


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


synthesize_gif_anim_media = _synthesizer("gif", "synth_gif_anim",
    """id column -> (media_id, payload) of GIF89a ANIMATIONS
    (``functions/gif.py:synth_gif_anim``): NETSCAPE loop extension,
    per-frame Graphic Control Extensions, dirty-rect frames.""")


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


extract_gif_animation = _extractor("gif", "scan_gif_anim", GIF_ANIM_SCHEMA,
    """GIF animation triage per payload: block walk with NO pixel
    decode (:func:`..functions.gif.scan_gif_anim`).""")


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


extract_webp_structure = _extractor("webp", "scan_webp", WEBP_SCHEMA,
    """WebP container triage per payload: RIFF chunk walk + the
    image-header bits of VP8/VP8L/VP8X
    (:func:`..functions.webp.scan_webp`).""")


extract_flac_metadata = _extractor("flac", "scan_flac", FLAC_SCHEMA,
    """FLAC metadata triage per payload: STREAMINFO bit unpacking +
    Vorbis-comment TITLE (:func:`..functions.flac.scan_flac`).""")


synthesize_h264_ipcm_media = _synthesizer("h264", "synth_h264_ipcm",
    """id column -> (media_id, payload) of all-I_PCM H.264 streams
    (``functions/h264.py:synth_h264_ipcm``): SPS with cropping, a
    spec-complete PPS, and one IDR slice whose every macroblock is
    I_PCM — RAW byte-aligned YCbCr samples in the bitstream, so the
    pixel decode is LOSSLESS and the modular-formula planes are
    value-checkable by the DuckDB oracle.""")


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


extract_h264_ipcm_features = _extractor(
    "h264", "decode_h264_ipcm_sums", H264_IPCM_SCHEMA,
    """H.264 PIXEL decode per payload (I_PCM profile) via
    Arrow-batched mapInPandas: NAL walk, SPS/PPS parse, IDR slice
    header, macroblock-layer walk, raw sample extraction, SPS crop —
    then integer plane sums (exact, no float tolerance). Same
    strict/permissive error contract as the other codecs.""")


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

#: ``extract_stream_structure`` format -> (functions module, scanner,
#: feature schema)
_STREAM_FORMATS = {
    "mp3": ("mpeg_audio", "scan_mp3", MP3_STRUCTURE_SCHEMA),
    "h264": ("h264", "scan_h264", H264_STRUCTURE_SCHEMA),
}


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
    if fmt not in _STREAM_FORMATS:
        raise ValueError(f"unsupported stream format {fmt!r}")
    module, fn, feat_schema = _STREAM_FORMATS[fmt]
    return _extract_metadata(media, feat_schema, module, fn, permissive)


synthesize_iceberg_v2_media = _synthesizer("iceberg_scan", "synth_iceberg_v2",
    """id column -> (media_id, payload) of Iceberg v2 bundles with a
    partition-spec transform and an equality-delete file
    (``functions/iceberg_scan.py:synth_iceberg_v2``).""")


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


extract_iceberg_v2_scan = _extractor(
    "iceberg_scan", "scan_iceberg_v2", ICEBERG_V2_SCAN_SCHEMA,
    """Transform-aware Iceberg planning + equality-delete
    merge-on-read per payload
    (:func:`..functions.iceberg_scan.scan_iceberg_v2`).""")


synthesize_delta_media = _synthesizer("delta_log", "synth_delta",
    """id column -> (media_id, payload) of Delta Lake table bundles
    (checkpoint parquet + _last_checkpoint + post-checkpoint JSON
    commit + real data parquet,
    ``functions/delta_log.py:synth_delta``).""")


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


extract_delta_scan = _extractor("delta_log", "scan_delta", DELTA_SCAN_SCHEMA,
    """Delta _delta_log snapshot reconstruction + stats-pruned read
    per payload (:func:`..functions.delta_log.scan_delta`).""")


synthesize_avro_complex_media = _synthesizer("avro_scan", "synth_avro_complex",
    """id column -> (media_id, payload) of Avro containers whose
    schema exercises the FULL complex-type set: array, map, enum,
    fixed, and a general 3-branch union
    (``functions/avro_scan.py:synth_avro_complex``).""")


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


extract_avro_complex_scan = _extractor(
    "avro_scan", "scan_avro_complex", AVRO_COMPLEX_SCHEMA,
    """Complex-type Avro container read per payload
    (:func:`..functions.avro_scan.scan_avro_complex`).""")


synthesize_orc_rich_media = _synthesizer("orc_pages", "synth_orc_rich",
    """id column -> (media_id, payload) of compressed, nullable,
    dictionary-encoded ORC files written by pyarrow
    (``functions/orc_pages.py:synth_orc_rich``).""")


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


extract_orc_rich_scan = _extractor("orc_pages", "scan_orc_rich", ORC_RICH_SCHEMA,
    """Compressed/nullable/dictionary ORC stripe decode per payload
    (:func:`..functions.orc_pages.scan_orc_rich`).""")


synthesize_delta_partitioned_media = _synthesizer(
    "delta_log", "synth_delta_partitioned",
    """id column -> (media_id, payload) of partitioned Delta tables
    with half the add actions stats-less
    (``functions/delta_log.py:synth_delta_partitioned``).""")


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


extract_delta_partitioned_scan = _extractor(
    "delta_log", "scan_delta_partitioned", DELTA_PART_SCHEMA,
    """Partition-pruned Delta planning per payload
    (:func:`..functions.delta_log.scan_delta_partitioned`).""")


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


extract_iceberg_time_travel = _extractor(
    "iceberg_scan", "scan_iceberg_time_travel", ICEBERG_TT_SCHEMA,
    """Per-snapshot point lookup over the Iceberg fixture
    (:func:`..functions.iceberg_scan.scan_iceberg_time_travel`).""")


synthesize_avro_logical_media = _synthesizer("avro_scan", "synth_avro_logical",
    """id column -> (media_id, payload) of Avro containers whose
    schema carries logical-type annotations: date, timestamp-micros,
    decimal (``functions/avro_scan.py:synth_avro_logical``).""")


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


extract_avro_logical_scan = _extractor(
    "avro_scan", "scan_avro_logical", AVRO_LOGICAL_SCHEMA,
    """Logical-type Avro container read per payload
    (:func:`..functions.avro_scan.scan_avro_logical`).""")


synthesize_orc_bloom_media = _synthesizer("orc_pages", "synth_orc_bloom",
    """id column -> (media_id, payload) of ORC files with
    BLOOM_FILTER_UTF8 indexes on both columns
    (``functions/orc_pages.py:synth_orc_bloom``).""")


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


extract_orc_bloom_scan = _extractor("orc_pages", "scan_orc_bloom", ORC_BLOOM_SCHEMA,
    """ORC bloom-filter membership scan per payload
    (:func:`..functions.orc_pages.scan_orc_bloom`).""")


synthesize_delta_dv_media = _synthesizer("delta_log", "synth_delta_dv",
    """id column -> (media_id, payload) of reader-version-3 Delta
    bundles with deletion vectors: checkpoint-carried inline DV,
    stored DVs sharing one ``.bin`` at two offsets, and a DV
    superseded by a later re-add
    (``functions/delta_log.py:synth_delta_dv``).""")


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


extract_delta_dv_scan = _extractor("delta_log", "scan_delta_dv", DELTA_DV_SCHEMA,
    """Merge-on-read deletion-vector scan per bundle
    (:func:`..functions.delta_log.scan_delta_dv`).""")


synthesize_delta_cm_media = _synthesizer("delta_log", "synth_delta_cm",
    """id column -> (media_id, payload) of reader-version-2 Delta
    bundles with column mapping (name mode on even seeds, id mode
    with a decoy field_id column on odd seeds,
    ``functions/delta_log.py:synth_delta_cm``).""")


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


extract_delta_cm_scan = _extractor("delta_log", "scan_delta_cm", DELTA_CM_SCHEMA,
    """Column-mapped Delta scan per bundle
    (:func:`..functions.delta_log.scan_delta_cm`).""")


synthesize_iceberg_time_media = _synthesizer("iceberg_scan", "synth_iceberg_time",
    """id column -> (media_id, payload) of Iceberg v2 tables
    partitioned by a TIME transform (hour/day/month/year rotation,
    ``functions/iceberg_scan.py:synth_iceberg_time``); served by the
    same transform-generic v2 scan.""")


extract_iceberg_time_scan = _extractor(
    "iceberg_scan", "scan_iceberg_v2", ICEBERG_V2_SCAN_SCHEMA,
    """Time-transform-partitioned v2 scan per bundle — same plan as
    :func:`extract_iceberg_v2_scan`
    (:func:`..functions.iceberg_scan.scan_iceberg_v2` is
    transform-generic).""")


synthesize_iceberg_seq_media = _synthesizer("iceberg_scan", "synth_iceberg_seq",
    """id column -> (media_id, payload) of Iceberg v2 tables whose
    equality delete sits BETWEEN two data generations by sequence
    number (``functions/iceberg_scan.py:synth_iceberg_seq``).""")


extract_iceberg_seq_scan = _extractor(
    "iceberg_scan", "scan_iceberg_v2", ICEBERG_V2_SCAN_SCHEMA,
    """Sequence-aware v2 scan per bundle — same transform-generic
    plan as :func:`extract_iceberg_v2_scan`.""")


synthesize_orc_scalars_media = _synthesizer("orc_pages", "synth_orc_scalars",
    """id column -> (media_id, payload) of ORC files carrying the
    five remaining scalar shapes — boolean, double,
    timestamp_instant, date, decimal — with per-column nulls
    (``functions/orc_pages.py:synth_orc_scalars``).""")


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


extract_orc_scalars_scan = _extractor(
    "orc_pages", "scan_orc_scalars", ORC_SCALARS_SCHEMA,
    """Scalar-type stripe decode per payload
    (:func:`..functions.orc_pages.scan_orc_scalars`).""")


synthesize_avro_evolved_media = _synthesizer("avro_scan", "synth_avro_evolved",
    """id column -> (media_id, payload) of Avro containers written
    under ROTATING writer schemas (v1 even seeds / v2 odd) that must
    both resolve against one reader schema
    (``functions/avro_scan.py:synth_avro_evolved``).""")


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


extract_avro_evolved_scan = _extractor(
    "avro_scan", "scan_avro_evolved", AVRO_EVOLVED_SCHEMA,
    """Reader-schema-resolved container scan per payload
    (:func:`..functions.avro_scan.scan_avro_evolved`).""")


synthesize_delta_tt_media = _synthesizer("delta_log", "synth_delta_tt",
    """id column -> (media_id, payload) of three-version Delta
    bundles (checkpoint -> replace -> append,
    ``functions/delta_log.py:synth_delta_tt``).""")


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


extract_delta_tt_scan = _extractor(
    "delta_log", "scan_delta_time_travel", DELTA_TT_SCHEMA,
    """Per-version point lookup over the replay trace
    (:func:`..functions.delta_log.scan_delta_time_travel`).""")


synthesize_iceberg_multi_media = _synthesizer("iceberg_scan", "synth_iceberg_multi",
    """id column -> (media_id, payload) of Iceberg v2 tables under a
    TWO-field partition spec (truncate x bucket) laid out so only
    the conjunction prunes
    (``functions/iceberg_scan.py:synth_iceberg_multi``).""")


extract_iceberg_multi_scan = _extractor(
    "iceberg_scan", "scan_iceberg_v2", ICEBERG_V2_SCAN_SCHEMA,
    """Conjunction-pruned v2 scan per bundle — the same
    transform-generic plan as :func:`extract_iceberg_v2_scan`.""")


synthesize_delta_v2cp_media = _synthesizer("delta_log", "synth_delta_v2cp",
    """id column -> (media_id, payload) of v2-checkpoint Delta
    bundles: UUID-named checkpoint + checkpointMetadata + two
    sidecar parquets holding the add actions
    (``functions/delta_log.py:synth_delta_v2cp``).""")


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


extract_delta_v2cp_scan = _extractor("delta_log", "scan_delta_v2cp", DELTA_V2CP_SCHEMA,
    """V2-checkpoint snapshot scan per bundle
    (:func:`..functions.delta_log.scan_delta_v2cp`).""")


synthesize_delta_dvcm_media = _synthesizer("delta_log", "synth_delta_dvcm",
    """id column -> (media_id, payload) of reader-v3 Delta bundles
    with BOTH deletion vectors and name-mode column mapping active
    (``functions/delta_log.py:synth_delta_dvcm``).""")


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


extract_delta_dvcm_scan = _extractor("delta_log", "scan_delta_dvcm", DELTA_DVCM_SCHEMA,
    """Composed DV + column-mapping scan per bundle
    (:func:`..functions.delta_log.scan_delta_dvcm`).""")


synthesize_iceberg_puffin_media = _synthesizer("iceberg_scan", "synth_iceberg_puffin",
    """id column -> (media_id, payload) of Iceberg tables whose
    deletion vectors live in a REAL Puffin container
    (``functions/iceberg_scan.py:synth_iceberg_puffin``).""")


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


extract_iceberg_puffin_scan = _extractor(
    "iceberg_scan", "scan_iceberg_puffin", ICEBERG_PUFFIN_SCHEMA,
    """Puffin-DV merge-on-read scan per bundle
    (:func:`..functions.iceberg_scan.scan_iceberg_puffin`).""")


synthesize_delta_cdf_media = _synthesizer("delta_log", "synth_delta_cdf",
    """id column -> (media_id, payload) of CDF-enabled Delta bundles:
    four commits — insert, cdc-file update, derived delete, no-op
    compaction (``functions/delta_log.py:synth_delta_cdf``).""")


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


extract_delta_cdf_scan = _extractor("delta_log", "scan_delta_cdf", DELTA_CDF_SCHEMA,
    """Change-data-feed read per bundle
    (:func:`..functions.delta_log.scan_delta_cdf`).""")


synthesize_iceberg_str_media = _synthesizer("iceberg_scan", "synth_iceberg_str",
    """id column -> (media_id, payload) of Iceberg tables with a
    STRING partition key under a two-field
    ``(truncate[2], bucket[8])`` spec
    (``functions/iceberg_scan.py:synth_iceberg_str``).""")


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


extract_iceberg_str_scan = _extractor(
    "iceberg_scan", "scan_iceberg_str", ICEBERG_STR_SCHEMA,
    """String-key transform-pruned Iceberg scan per bundle
    (:func:`..functions.iceberg_scan.scan_iceberg_str`).""")


synthesize_orc_nested_media = _synthesizer("orc_pages", "synth_orc_nested",
    """id column -> (media_id, payload) of nested-type ORC files
    (struct + list + map, compression rotating by id) written by
    pyarrow (``functions/orc_pages.py:synth_orc_nested``).""")


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


extract_orc_nested_scan = _extractor("orc_pages", "scan_orc_nested", ORC_NESTED_SCHEMA,
    """Nested-type ORC decode per payload
    (:func:`..functions.orc_pages.scan_orc_nested`).""")


synthesize_iceberg_dec_media = _synthesizer("iceberg_scan", "synth_iceberg_dec",
    """id column -> (media_id, payload) of Iceberg tables with a
    DECIMAL(9,2) partition key under a two-field
    ``(truncate[500], bucket[8])`` spec
    (``functions/iceberg_scan.py:synth_iceberg_dec``).""")


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


extract_iceberg_dec_scan = _extractor(
    "iceberg_scan", "scan_iceberg_dec", ICEBERG_DEC_SCHEMA,
    """Decimal-key transform-pruned Iceberg scan per bundle
    (:func:`..functions.iceberg_scan.scan_iceberg_dec`).""")


synthesize_delta_cdf_cm_media = _synthesizer("delta_log", "synth_delta_cdf_cm",
    """id column -> (media_id, payload) of CDF-enabled Delta bundles
    on a name-mapped (reader v2) table
    (``functions/delta_log.py:synth_delta_cdf_cm``).""")


DELTA_CDF_CM_SCHEMA = T.StructType(
    [T.StructField("mapping_mode", T.StringType())]
    + list(DELTA_CDF_SCHEMA.fields)
)


extract_delta_cdf_cm_scan = _extractor(
    "delta_log", "scan_delta_cdf_cm", DELTA_CDF_CM_SCHEMA,
    """Composed change-data-feed + column-mapping read per bundle
    (:func:`..functions.delta_log.scan_delta_cdf_cm`).""")


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


explode_iceberg_files = _exploder(
    "iceberg_scan", "list_iceberg_files", ICEBERG_FILES_SCHEMA,
    """ONE OUTPUT ROW PER MANIFEST ENTRY — the ``files`` metadata
    table (:func:`..functions.iceberg_scan.list_iceberg_files`).
    Python does only the manifest-layer byte decode and emits typed
    columns; no data parquet is ever opened, so at 100 TB this costs
    manifest bytes, not table bytes.""")


synthesize_iceberg_inspect_media = _synthesizer("iceberg_scan", "synth_iceberg_inspect",
    """id column -> (media_id, payload) of three-snapshot Iceberg
    tables (append/append/overwrite, odd seeds rolled back) with NO
    data parquet in the bundle
    (``functions/iceberg_scan.py:synth_iceberg_inspect``).""")


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


explode_iceberg_snapshots = _exploder(
    "iceberg_scan", "iceberg_snapshots_table", ICEBERG_SNAPSHOTS_SCHEMA,
    """One row per snapshot — ``tbl.snapshots``
    (:func:`..functions.iceberg_scan.iceberg_snapshots_table`).""")


explode_iceberg_history = _exploder(
    "iceberg_scan", "iceberg_history_table", ICEBERG_HISTORY_SCHEMA,
    """One row per snapshot-log entry — ``tbl.history``
    (:func:`..functions.iceberg_scan.iceberg_history_table`).""")


explode_iceberg_manifests = _exploder(
    "iceberg_scan", "iceberg_manifests_table", ICEBERG_MANIFESTS_SCHEMA,
    """One row per current-snapshot manifest — ``tbl.manifests``
    (:func:`..functions.iceberg_scan.iceberg_manifests_table`).""")


explode_iceberg_partitions = _exploder(
    "iceberg_scan", "iceberg_partitions_table", ICEBERG_PARTITIONS_SCHEMA,
    """One row per live partition — ``tbl.partitions``
    (:func:`..functions.iceberg_scan.iceberg_partitions_table`).""")


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


explode_iceberg_refs = _exploder(
    "iceberg_scan", "iceberg_refs_table", ICEBERG_REFS_SCHEMA,
    """One row per branch/tag with per-ref live totals —
    ``tbl.refs`` (:func:`..functions.iceberg_scan.iceberg_refs_table`).""")


explode_iceberg_all_manifests = _exploder(
    "iceberg_scan", "iceberg_all_manifests_table", ICEBERG_ALL_MANIFESTS_SCHEMA,
    """One row per (snapshot, manifest) — ``tbl.all_manifests``
    (:func:`..functions.iceberg_scan.iceberg_all_manifests_table`).""")


synthesize_delta_history_media = _synthesizer("delta_log", "synth_delta_history",
    """id column -> (media_id, payload) of checkpoint-less Delta
    logs with commitInfo on every commit and tombstones
    (``functions/delta_log.py:synth_delta_history``).""")


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


explode_delta_history = _exploder(
    "delta_log", "delta_history_table", DELTA_HISTORY_SCHEMA,
    """One row per commit — ``DESCRIBE HISTORY``
    (:func:`..functions.delta_log.delta_history_table`).""")


explode_delta_vacuum = _exploder(
    "delta_log", "delta_vacuum_candidates", DELTA_VACUUM_SCHEMA,
    """One row per tombstone — ``VACUUM DRY RUN``
    (:func:`..functions.delta_log.delta_vacuum_candidates`).""")


synthesize_iceberg_expire_media = _synthesizer("iceberg_scan", "synth_iceberg_expire",
    """id column -> (media_id, payload) of 5-snapshot Iceberg tables
    with partially-pinned history
    (``functions/iceberg_scan.py:synth_iceberg_expire``).""")


ICEBERG_EXPIRE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("removable", T.BooleanType()),
        T.StructField("kept_reason", T.StringType()),
        T.StructField("orphaned_manifests", T.IntegerType()),
    ]
)


explode_iceberg_expire = _exploder(
    "iceberg_scan", "iceberg_expire_snapshots_plan", ICEBERG_EXPIRE_SCHEMA,
    """One row per snapshot with GC disposition —
    ``expire_snapshots`` dry run (:func:`..functions.iceberg_scan.
    iceberg_expire_snapshots_plan`).""")


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


extract_delta_detail = _extractor(
    "delta_log", "delta_detail_table", DELTA_DETAIL_SCHEMA,
    """One summary row per table — ``DESCRIBE DETAIL``
    (:func:`..functions.delta_log.delta_detail_table`).""")


synthesize_hudi_media = _synthesizer("hudi_scan", "synth_hudi",
    """id column -> (media_id, payload) of Apache Hudi COPY_ON_WRITE
    table bundles (timeline + file slices + write stats,
    ``functions/hudi_scan.py:synth_hudi``).""")


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


extract_hudi_scan = _extractor("hudi_scan", "scan_hudi", HUDI_SCAN_SCHEMA,
    """Hudi COW timeline + file-slice snapshot readout per payload
    (:func:`..functions.hudi_scan.scan_hudi`).""")


# Every binding above was built by a factory as ``synthesize``,
# ``extract`` or ``explode``; give it its public name, for help() and
# tracebacks.
for _name, _binding in list(globals().items()):
    if getattr(_binding, "__qualname__", "").startswith(
        ("_synthesizer.", "_extractor.", "_exploder.")
    ):
        _binding.__name__ = _binding.__qualname__ = _name
del _name, _binding
