"""``archive_decode``: archive ingest through the codec extractors, warm.

Set-up synthesizes a corpus per codec from the seed's payload ids
with the package's ``synthesize_*_media`` and writes it to Parquet
once, so synthesis is never inside an op. One op decodes the whole
corpus through ``extract_xz_decode``, ``extract_bz2_decode``,
``extract_deflate_content`` and ``extract_zstd_decode`` in strict
mode into the noop sink: one job per codec, the decode itself in the
Python workers behind ``mapInPandas``.

The first op aggregates the decoded output instead and checks the
totals against the synthesis plans; it and :data:`WARMUP_OPS` more
ops are warm-up.
"""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
import time
import zlib

import pyarrow.parquet as pq

from data import corpus_ids

#: Payloads per codec.
N_PAYLOADS = 500
#: Files per codec in the stored corpus. Spark packs files this small
#: into one read task per core, so each decode job runs ``local[nproc]``
#: tasks (a traced run counts them).
CORPUS_FILES = 16
#: Noop ops after the check op before timing starts (README.md).
WARMUP_OPS = 1
#: Timed ops per run at least, however short ``--seconds`` is.
MIN_TIMED = 2
#: Payloads per codec timed by the offline kernel probe.
KERNEL_SAMPLE = 30

CODECS = ("xz", "bz2", "deflate", "zstd")
#: The corpus is read with its schema given, as an ingest job knows it,
#: so no op runs Spark's schema-inference job.
CORPUS_SCHEMA = "media_id long, payload binary"


def _extractors():
    from datawarehouseproject_spark.operators import multimodal as mm

    return {
        "xz": (mm.synthesize_xz_text_media, mm.extract_xz_decode),
        "bz2": (mm.synthesize_bz2_media, mm.extract_bz2_decode),
        "deflate": (mm.synthesize_deflate_media, mm.extract_deflate_content),
        "zstd": (mm.synthesize_zstd_media, mm.extract_zstd_decode),
    }


# ------------- expected decode totals, from the synthesis plans -------------


def _xz_text(seed: int) -> bytes:
    from datawarehouseproject_spark.functions.lzma_codec import synth_xz_text_plan

    n = synth_xz_text_plan(seed)["n_lines"]
    return "".join(
        f"line {i} of doc {seed} value {(seed * 31 + i * 7) % 9973}\n" for i in range(n)
    ).encode()


def _zstd_text(seed: int) -> bytes:
    from datawarehouseproject_spark.functions.zstd_codec import synth_zstd_plan

    n = synth_zstd_plan(seed)["n_lines"]
    return "".join(
        f"row {i} doc {seed} v {(seed * 17 + i * 11) % 7919}\n" for i in range(n)
    ).encode()


def _bz2_bytes(seed: int) -> bytes:
    from datawarehouseproject_spark.functions.bzip2 import synth_bz2_plan

    n = synth_bz2_plan(seed)["n_bytes"]
    return bytes(((i // 6) * 13 + seed) % 250 for i in range(n))


def _deflate_bytes(seed: int) -> bytes:
    from datawarehouseproject_spark.functions.inflate import synth_deflate_plan

    return synth_deflate_plan(seed)["content"]


def expected(codec: str, ids: list[int]) -> tuple:
    """(payloads, id sum, decoded bytes, content checksum) the decoded
    corpus must total: a CRC-32 sum for the text codecs, a byte sum
    for the binary ones."""
    if codec in ("xz", "zstd"):
        texts = [(_xz_text if codec == "xz" else _zstd_text)(s) for s in ids]
        check = sum(zlib.crc32(t) for t in texts)
    else:
        texts = [(_bz2_bytes if codec == "bz2" else _deflate_bytes)(s) for s in ids]
        check = sum(sum(t) for t in texts)
    return (len(ids), sum(ids), sum(len(t) for t in texts), check)


def _totals(codec: str, df):
    from pyspark.sql import functions as F

    if codec in ("xz", "zstd"):
        size = F.sum(F.length("text"))
        check = F.sum(F.crc32(F.col("text").cast("binary")))
    else:
        size = F.sum("n_bytes")
        check = F.sum("byte_sum" if codec == "bz2" else "sum_bytes")
    row = df.agg(F.count("*"), F.sum("media_id"), size, check).first()
    return tuple(int(v or 0) for v in row)


# ------------------------------------------------------------------------------


def _corpus_digest(path: str) -> str:
    t = pq.read_table(path).sort_by("media_id")
    h = hashlib.sha256()
    for mid, p in zip(t.column("media_id").to_pylist(), t.column("payload").to_pylist()):
        h.update(mid.to_bytes(8, "little"))
        h.update(p)
    return h.hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))


def kernel_ms(corpus: dict[str, str], sample: int) -> dict[str, float]:
    """Median ms per payload of each codec kernel, called directly in
    this process (no Spark) on the ``sample`` lowest-id payloads."""
    from datawarehouseproject_spark.functions import bzip2, inflate, lzma_codec, zstd_codec

    kernels = {
        "xz": lzma_codec.decode_xz,
        "bz2": bzip2.scan_bz2,
        "deflate": inflate.decode_deflate,
        "zstd": zstd_codec.decode_zstd,
    }
    out = {}
    for codec, fn in kernels.items():
        t = pq.read_table(corpus[codec]).sort_by("media_id").slice(0, sample)
        per = []
        for p in t.column("payload").to_pylist():
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn(p)
                best = min(best, time.perf_counter() - t0)
            per.append(best * 1e3)
        out[f"kernel.{codec}_ms"] = statistics.median(per)
    return out


def run(r) -> tuple[dict, dict]:
    spark = r.start_spark()
    n = 20 if r.smoke else N_PAYLOADS
    ids = corpus_ids(r.seed, n)
    ex = _extractors()
    data_root = r.work / "data"

    def generate(k: int) -> str:
        id_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        digests = []
        for codec, (synth, _) in ex.items():
            path = str(data_root / f"gen{k}" / codec)
            synth(id_df).repartition(CORPUS_FILES).write.mode("overwrite").parquet(path)
            digests.append(_corpus_digest(path))
        return "".join(digests)

    r.repeat_setup("generate_s", generate)
    corpus = {c: str(data_root / "gen0" / c) for c in CODECS}
    input_bytes = sum(_dir_bytes(p) for p in corpus.values())
    r.notes["corpus"] = {
        "payloads_per_codec": n,
        "parquet_bytes": {c: _dir_bytes(p) for c, p in corpus.items()},
    }
    tracer = r.tracer

    def read(codec: str):
        return spark.read.schema(CORPUS_SCHEMA).parquet(corpus[codec])

    def check():
        return {c: _totals(c, ex[c][1](read(c))) for c in CODECS}

    def decode():
        for c in CODECS:
            with tracer.span(f"decode.{c}"):
                ex[c][1](read(c)).write.format("noop").mode("overwrite").save()

    rec = r.op("check", "decode_all", check)
    if rec["ok"]:
        got = rec.pop("result")
        for c in CODECS:
            want = expected(c, ids)
            ok = got[c] == want
            r.checks.append(
                {"what": f"{c} totals = synthesis plan", "ok": ok, "got": got[c], "want": want}
            )
            if not ok:
                r.fail_op(rec, f"{c} decoded totals {got[c]} != plan {want}")
    for _ in range(WARMUP_OPS):
        r.op("warmup", "decode_all", decode)
    while r.keep_timing(1 if r.smoke else MIN_TIMED):
        r.op("timed", "decode_all", decode)

    metrics = r.end_to_end(lambda o: input_bytes)
    layers = kernel_ms(corpus, 5 if r.smoke else KERNEL_SAMPLE) if r.trace else {}
    return metrics, layers
