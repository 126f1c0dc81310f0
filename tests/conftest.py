from __future__ import annotations

import sys
import os

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datawarehouseproject_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def multimodal_kernel_calls():
    """Every public multimodal operator that goes through a kernel,
    called with the three kernels replaced by recorders (no Spark):
    ``{public name: [(kernel, module, fn, permissive), ...]}``, one
    entry per call. Extractors run permissive where they can;
    ``extract_image_features``, ``image_phash`` and
    ``extract_stream_structure`` run once per codec/format."""
    import inspect
    from unittest import mock

    from datawarehouseproject_spark.operators import multimodal as mm

    calls: dict[str, list] = {}
    log: list = []

    def recorder(kernel):
        def record(media, schema_or_id_col, module, fn, permissive=None, *args):
            log.append((kernel, module, fn, permissive))
            return mock.MagicMock()

        return record

    names = [
        n for n in dir(mm)
        if n.startswith(("synthesize_", "extract_", "explode_"))
        or n in ("sniff_media", "sample_frames", "image_phash",
                 "adpcm_roundtrip_features")
    ]
    with mock.patch.multiple(
        mm,
        _synthesize_media=recorder("synthesize"),
        _extract_metadata=recorder("extract"),
        _explode_rows=recorder("explode"),
    ):
        for name in names:
            op = getattr(mm, name)
            start = len(log)
            params = inspect.signature(op).parameters
            kwargs = {"permissive": True} if "permissive" in params else {}
            if name in ("extract_image_features", "image_phash"):
                for codec in ("bmp", "png", "gif", "jpeg"):
                    op(mock.MagicMock(), codec=codec, **kwargs)
            elif name == "extract_stream_structure":
                for fmt in ("mp3", "h264"):
                    op(mock.MagicMock(), fmt, **kwargs)
            else:
                op(mock.MagicMock(), **kwargs)
            calls[name] = log[start:]
    return calls
