"""Arrow IPC triage — functions/arrow_ipc.py (round 8): hand-rolled
flatbuffer walk pinned against pyarrow's IPC writer."""

from __future__ import annotations

import io
import struct

import pytest

from datawarehouseproject_spark.functions.arrow_ipc import (
    scan_arrow_ipc,
    synth_arrow_ipc,
    synth_arrow_plan,
)


def test_fixture_plan_roundtrip():
    for seed in range(12):
        plan = synth_arrow_plan(seed)
        got = scan_arrow_ipc(synth_arrow_ipc(seed))
        assert got["n_columns"] == plan["n_columns"]
        assert got["n_batches"] == plan["n_batches"]
        assert got["n_rows"] == plan["n_batches"] * plan["rows_per_batch"]
        assert got["n_dict_batches"] == 0
        assert got["body_bytes"] > 0


def test_dictionary_batches_and_strings():
    import pyarrow as pa
    import pyarrow.ipc as ipc

    t = pa.table(
        {
            "d": pa.array(["a", "b", "a", "c"]).dictionary_encode(),
            "s": pa.array(["x", "y", "z", "w"]),
        }
    )
    buf = io.BytesIO()
    with ipc.new_file(buf, t.schema) as w:
        w.write_table(t)
    got = scan_arrow_ipc(buf.getvalue())
    assert got["n_dict_batches"] == 1
    assert got["n_columns"] == 2
    assert got["n_rows"] == 4


def test_empty_file_zero_batches():
    import pyarrow as pa
    import pyarrow.ipc as ipc

    buf = io.BytesIO()
    with ipc.new_file(buf, pa.schema([("a", pa.int64())])):
        pass
    got = scan_arrow_ipc(buf.getvalue())
    assert got["n_batches"] == 0 and got["n_rows"] == 0
    assert got["n_columns"] == 1


def test_malformed_quarantine():
    with pytest.raises(ValueError, match="magic"):
        scan_arrow_ipc(b"not arrow" + b"\x00" * 30)
    good = synth_arrow_ipc(1)
    with pytest.raises(ValueError, match="trailing"):
        scan_arrow_ipc(good[:-6] + b"NOTMAG")
    # footer length pointing past the file start
    bad = bytearray(good)
    struct.pack_into("<I", bad, len(bad) - 10, 2**24)
    with pytest.raises(ValueError, match="footer length"):
        scan_arrow_ipc(bytes(bad))
    # block offset pointing outside the file: flip a block offset
    with pytest.raises(ValueError):
        scan_arrow_ipc(good[: len(good) // 2] + good[-40:])


def test_spark_permissive_quarantine(spark):
    from datawarehouseproject_spark.operators.multimodal import (
        extract_arrow_scan,
    )

    rows = [
        (4, bytearray(synth_arrow_ipc(4))),
        (9, bytearray(b"ARROW1\x00\x00 garbage tail ARROW1")),
    ]
    media = spark.createDataFrame(rows, "media_id: long, payload: binary")
    out = {
        r["media_id"]: r
        for r in extract_arrow_scan(media, permissive=True).collect()
    }
    plan = synth_arrow_plan(4)
    assert out[4]["decode_error"] is None
    assert out[4]["n_rows"] == plan["n_batches"] * plan["rows_per_batch"]
    assert out[9]["decode_error"] is not None


# ---------------------------------------------------------------------------
# Round-10: value decode (decode_arrow_values)
# ---------------------------------------------------------------------------


def test_value_decode_matches_pyarrow_producer():
    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_values,
        synth_arrow_values,
        synth_arrow_values_plan,
    )

    for seed in range(20):
        plan = synth_arrow_values_plan(seed)
        st = decode_arrow_values(synth_arrow_values(seed))
        n, nb = plan["rows_per_batch"], plan["n_batches"]
        exp_sum = exp_inulls = exp_chars = exp_snulls = 0
        for b in range(nb):
            for i in range(n):
                if (seed + i) % 7 == 3:
                    exp_inulls += 1
                else:
                    exp_sum += (seed * 11 + i * 13 + b * 3) % 2000 - 700
                exp_sum += (seed * 5 + i * 9 + b) % 500
                if (i + b) % 5 == 4:
                    exp_snulls += 1
                else:
                    exp_chars += len(f"t{(seed + i + b) % 50}")
        assert st["n_rows"] == n * nb and st["n_batches"] == nb, seed
        assert st["int_sum"] == exp_sum, seed
        assert st["int_nulls"] == exp_inulls, seed
        assert st["str_chars"] == exp_chars, seed
        assert st["str_nulls"] == exp_snulls, seed


def test_value_decode_null_slots_do_not_leak():
    """An all-null int column must contribute nothing to int_sum
    regardless of what bytes sit in its data buffer."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_values,
    )

    schema = pa.schema([pa.field("x", pa.int64())])
    buf = io.BytesIO()
    with ipc.new_file(buf, schema) as w:
        w.write_batch(
            pa.record_batch([pa.array([None, None, None], pa.int64())],
                            schema=schema)
        )
    st = decode_arrow_values(buf.getvalue())
    assert st["int_sum"] == 0 and st["int_nulls"] == 3


def test_value_decode_body_compression():
    """Round 13: BodyCompression (lz4-frame AND zstd) decodes through
    the hand codecs to stats IDENTICAL to the uncompressed twin, and
    a corrupted compressed buffer quarantines instead of crashing."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pytest

    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_values,
    )

    schema = pa.schema(
        [pa.field("x", pa.int64()), pa.field("s", pa.utf8())]
    )
    batch = pa.record_batch(
        [
            pa.array([i * 7 - 40 for i in range(200)], pa.int64()),
            pa.array(
                [None if i % 5 == 4 else f"row{i % 17}"
                 for i in range(200)],
                pa.utf8(),
            ),
        ],
        schema=schema,
    )
    blobs = {}
    for comp in (None, "lz4", "zstd"):
        buf = io.BytesIO()
        opts = ipc.IpcWriteOptions(compression=comp)
        with ipc.new_file(buf, schema, options=opts) as w:
            w.write_batch(batch)
        blobs[comp] = buf.getvalue()
    base = decode_arrow_values(blobs[None])
    for comp in ("lz4", "zstd"):
        got = decode_arrow_values(blobs[comp])
        for k in ("n_rows", "int_sum", "int_nulls", "str_chars",
                  "str_nulls"):
            assert got[k] == base[k], (comp, k)
        # corrupt single bytes across the file: a flip may land in
        # codec literals (silent value drift — undetectable without
        # content checksums) but NOTHING may escape the ValueError
        # quarantine, and at least one position must trip it
        raised = 0
        for pos in range(8, len(blobs[comp]) - 10, 7):
            blob = bytearray(blobs[comp])
            blob[pos] ^= 0xFF
            try:
                decode_arrow_values(bytes(blob))
            except ValueError:
                raised += 1
        assert raised > 0, comp


def test_value_decode_compressed_dictionary_batch():
    """Dictionary batches ride the same shared header walk — a
    dictionary-encoded column under zstd body compression must
    decode to the same stats as its uncompressed twin."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_values,
    )

    schema = pa.schema(
        [pa.field(
            "d", pa.dictionary(pa.int32(), pa.utf8()), nullable=True
        )]
    )
    arr = pa.array(
        [None if i % 7 == 6 else f"cat{i % 5}" for i in range(120)],
        pa.dictionary(pa.int32(), pa.utf8()),
    )
    blobs = {}
    for comp in (None, "zstd"):
        buf = io.BytesIO()
        opts = ipc.IpcWriteOptions(compression=comp)
        with ipc.new_file(buf, schema, options=opts) as w:
            w.write_batch(pa.record_batch([arr], schema=schema))
        blobs[comp] = buf.getvalue()
    assert decode_arrow_values(blobs["zstd"]) == {
        **decode_arrow_values(blobs[None]),
        "payload_bytes": len(blobs["zstd"]),
    }


def test_value_decode_unsupported_type_is_loud():
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pytest

    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_values,
    )

    schema = pa.schema([pa.field("f", pa.float64())])
    buf = io.BytesIO()
    with ipc.new_file(buf, schema) as w:
        w.write_batch(
            pa.record_batch([pa.array([1.5], pa.float64())], schema=schema)
        )
    with pytest.raises(ValueError):
        decode_arrow_values(buf.getvalue())


def test_stream_format_decodes_and_matches_plan():
    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_stream,
        synth_arrow_stream,
        synth_arrow_stream_plan,
    )

    for seed in range(12):
        plan = synth_arrow_stream_plan(seed)
        st = decode_arrow_stream(synth_arrow_stream(seed))
        assert st["n_batches"] == plan["n_batches"], seed
        assert st["n_rows"] == plan["n_batches"] * plan["rows_per_batch"]


def test_stream_requires_schema_first_and_rejects_garbage():
    import pytest

    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_stream,
        synth_arrow_stream,
    )

    good = synth_arrow_stream(5)
    with pytest.raises(ValueError):
        decode_arrow_stream(b"")
    for cut in (3, 10, len(good) // 2):
        with pytest.raises(ValueError):
            decode_arrow_stream(good[:cut] + b"\x01\x02\x03")


def test_compressed_buffer_bomb_stops_at_prefix_length():
    """A compressed body buffer whose int64 length prefix says 64
    bytes but whose lz4 or zstd frame inflates to 512 KiB is refused
    at the prefix's length, not after inflating."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    from datawarehouseproject_spark.functions.arrow_ipc import (
        decode_arrow_values,
    )

    n = 1 << 16
    schema = pa.schema([pa.field("x", pa.int64())])
    batch = pa.record_batch([pa.array([0] * n, pa.int64())], schema=schema)
    magics = {"lz4": b"\x04\x22\x4d\x18", "zstd": b"\x28\xb5\x2f\xfd"}
    for comp, magic in magics.items():
        buf = io.BytesIO()
        opts = ipc.IpcWriteOptions(compression=comp)
        with ipc.new_file(buf, schema, options=opts) as w:
            w.write_batch(batch)
        blob = buf.getvalue()
        assert len(blob) < 4096, comp
        real = struct.pack("<q", n * 8) + magic
        assert blob.count(real) == 1, comp
        bomb = blob.replace(real, struct.pack("<q", 64) + magic)
        with pytest.raises(ValueError, match="cap"):
            decode_arrow_values(bomb)
