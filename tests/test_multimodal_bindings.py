"""The public multimodal operators are bindings of one of three
kernels to a ``(module, function)`` pair of
``datawarehouseproject_spark.functions``. Spark-free: a misspelled
pair fails here instead of inside a Python worker, and every public
name keeps the signature, ``__name__`` and docstring its callers and
``help()`` see."""

from __future__ import annotations

import importlib
import inspect

from datawarehouseproject_spark.operators import multimodal as mm

#: public names with their own loop (no kernel)
OWN_LOOP = {"extract_media_features", "synthesize_jpeg_profile_pair_media"}

PUBLIC = sorted(
    n for n in dir(mm)
    if n.startswith(("synthesize_", "extract_", "explode_"))
)


def test_every_public_operator_reaches_a_kernel(multimodal_kernel_calls):
    silent = {n for n, calls in multimodal_kernel_calls.items() if not calls}
    assert silent == OWN_LOOP


def test_every_named_pair_resolves(multimodal_kernel_calls):
    pairs = {
        (module, fn)
        for calls in multimodal_kernel_calls.values()
        for _, module, fn, _ in calls
    }
    assert len(pairs) > 140
    for module, fn in sorted(pairs):
        mod = importlib.import_module(f"datawarehouseproject_spark.functions.{module}")
        assert callable(getattr(mod, fn, None)), f"{module}.{fn}"


def test_kernels_match_the_name(multimodal_kernel_calls):
    for name, calls in multimodal_kernel_calls.items():
        kernels = {kernel for kernel, *_ in calls}
        if name.startswith("synthesize_") and name not in OWN_LOOP:
            assert kernels == {"synthesize"}, name
        elif name.startswith("explode_"):
            assert kernels == {"explode"}, name


def test_public_signatures_names_and_docs():
    special = {
        "extract_media_features": "(media: 'DataFrame') -> 'DataFrame'",
        "extract_audio_features": "(media: 'DataFrame') -> 'DataFrame'",
        "extract_image_features": (
            "(media: 'DataFrame', permissive: 'bool' = False, "
            "codec: 'str' = 'bmp') -> 'DataFrame'"
        ),
        "extract_stream_structure": (
            "(media: 'DataFrame', fmt: 'str', permissive: 'bool' = False)"
            " -> 'DataFrame'"
        ),
    }
    by_prefix = {
        "synthesize_": "(ids: 'DataFrame', id_col: 'str' = 'doc_id') -> 'DataFrame'",
        "extract_": "(media: 'DataFrame', permissive: 'bool' = False) -> 'DataFrame'",
        "explode_": "(media: 'DataFrame') -> 'DataFrame'",
    }
    assert len(PUBLIC) > 160
    for name in PUBLIC:
        op = getattr(mm, name)
        want = special.get(name) or by_prefix[name[: name.index("_") + 1]]
        assert str(inspect.signature(op)) == want, name
        assert op.__name__ == name
        assert op.__qualname__ == name
        assert op.__module__ == mm.__name__
        assert op.__doc__ and op.__doc__.strip(), name
