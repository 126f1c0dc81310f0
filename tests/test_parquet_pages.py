"""Parquet data-page decoder — functions/parquet_pages.py (round 8):
value recovery from raw column chunks, pinned against TWO genuinely
independent producers (pyarrow across the full encoding rotation,
and DuckDB's own parquet writer) plus hand-built hybrid streams."""

from __future__ import annotations

import io

import pytest

from datawarehouseproject_spark.functions.parquet_pages import (
    decode_column,
    decode_hybrid,
    scan_parquet_values,
    synth_parquet_data,
    synth_parquet_data_plan,
)


def _plan_values(seed: int):
    n = synth_parquet_data_plan(seed)["n_rows"]
    a = [
        None if (i + seed) % 7 == 0 else (seed * 3 + i * 5) % 1000
        for i in range(n)
    ]
    b = [(i * 11 + seed) % 500 for i in range(n)]
    c = [b"x" * (1 + (i + seed) % 5) for i in range(n)]
    return a, b, c


def test_full_encoding_rotation_value_exact():
    """Seeds 0..15 cover every (page-version x dictionary x codec)
    combo twice; decoded values must equal the writer plan exactly,
    nulls included."""
    for seed in range(16):
        payload = synth_parquet_data(seed)
        a, b, c = _plan_values(seed)
        assert decode_column(payload, 0) == a, seed
        assert decode_column(payload, 1) == b, seed
        assert decode_column(payload, 2) == c, seed
        got = scan_parquet_values(payload)
        assert got["n_rows"] == len(a)
        assert got["a_sum"] == sum(v for v in a if v is not None)
        assert got["a_nulls"] == sum(1 for v in a if v is None)
        assert got["b_sum"] == sum(b)
        assert got["c_len_sum"] == sum(len(v) for v in c)
        assert got["c_distinct"] == len(set(c))


def test_delta_binary_packed_pinned_against_pyarrow():
    """Seeds 8..15 write a/b with DELTA_BINARY_PACKED (verified in
    the rotation test); here the decoder additionally faces large
    jumps, negatives, and an int32 column via a dedicated file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datawarehouseproject_spark.functions.parquet_pages import (
        decode_delta_binary_packed,
    )

    vals = [0, -(2**40), 2**40, 7, 7, 7, -1] * 50
    t = pa.table(
        {
            "a": pa.array(vals, pa.int64()),
            "b": pa.array([v % 100 - 50 for v in vals], pa.int32()),
        }
    )
    buf = io.BytesIO()
    pq.write_table(
        t, buf, compression="NONE", use_dictionary=False,
        column_encoding={"a": "DELTA_BINARY_PACKED",
                         "b": "DELTA_BINARY_PACKED"},
        data_page_size=512,
    )
    payload = buf.getvalue()
    assert decode_column(payload, 0) == vals
    assert decode_column(payload, 1) == [v % 100 - 50 for v in vals]
    # hand-built stream: block 8, 1 miniblock, 3 values, first = -2;
    # min_delta = -1, width 2, deltas (adjusted) [3, 0, pad...]
    # -> values -2, -2+(3-1)=0, 0+(0-1)=-1
    stream = bytes([8, 1, 3, 3,  # header (first = zigzag 3 = -2)
                    1,           # min_delta zigzag 1 = -1
                    2,           # miniblock width
                    0b00000011, 0])  # 8 2-bit lanes, little-endian
    got = decode_delta_binary_packed(stream, 0, len(stream), 3)
    assert got == [-2, 0, -1]
    with pytest.raises(ValueError, match="header count"):
        decode_delta_binary_packed(stream, 0, len(stream), 5)
    with pytest.raises(ValueError, match="truncated delta miniblock"):
        decode_delta_binary_packed(stream[:6], 0, 6, 3)


def test_delta_byte_array_encodings_front_coded():
    """DELTA_LENGTH_BYTE_ARRAY and DELTA_BYTE_ARRAY (front coding)
    over strings with real shared prefixes, across both page versions
    and both codecs — the full modern string-encoding surface."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vals = ["prefix/%05d/suffix_%d" % ((i * 3) % 40, i % 7)
            for i in range(500)]
    t = pa.table({"c": pa.array(vals)})
    want = [v.encode() for v in vals]
    for enc in ("DELTA_LENGTH_BYTE_ARRAY", "DELTA_BYTE_ARRAY"):
        for comp in ("NONE", "gzip"):
            for dpv in ("1.0", "2.0"):
                buf = io.BytesIO()
                pq.write_table(
                    t, buf, compression=comp, use_dictionary=False,
                    column_encoding={"c": enc}, data_page_size=700,
                    data_page_version=dpv,
                )
                assert decode_column(buf.getvalue(), 0) == want, (
                    enc, comp, dpv,
                )
    # corrupt prefix lengths must quarantine, not slice nonsense
    from datawarehouseproject_spark.functions.parquet_pages import (
        _decode_delta_ba,
    )

    # prefixes [5] for one value whose previous value is empty
    stream = bytes([8, 1, 1, 10,        # prefix stream: one value 5
                    8, 1, 1, 2, ord("x")])  # suffix stream: one "x"...
    with pytest.raises(ValueError, match="prefix"):
        _decode_delta_ba(stream, 0, len(stream), 1)


def test_duckdb_writer_is_a_second_independent_producer(tmp_path):
    import duckdb

    f = tmp_path / "dd.parquet"
    duckdb.sql(
        f"""
        COPY (SELECT i AS a, CAST(i * 2 AS INTEGER) AS b,
                     repeat('y', 1 + CAST(i % 3 AS INTEGER)) AS c
              FROM range(70) t(i))
        TO '{f}' (FORMAT PARQUET, COMPRESSION 'UNCOMPRESSED',
                  ROW_GROUP_SIZE 30)
        """
    )
    payload = f.read_bytes()
    assert decode_column(payload, 0) == list(range(70))
    assert decode_column(payload, 1) == [i * 2 for i in range(70)]
    assert decode_column(payload, 2) == [
        b"y" * (1 + i % 3) for i in range(70)
    ]


def test_byte_stream_split_floats():
    """BYTE_STREAM_SPLIT transposes value bytes into per-byte planes;
    exact recovery for float32 and float64 across both codecs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = [i / 8 for i in range(300)]
    g = [float(i * 3) for i in range(300)]
    t = pa.table(
        {"d": pa.array(d, pa.float64()), "g": pa.array(g, pa.float32())}
    )
    for comp in ("NONE", "gzip"):
        buf = io.BytesIO()
        pq.write_table(
            t, buf, compression=comp, use_dictionary=False,
            column_encoding={"d": "BYTE_STREAM_SPLIT",
                             "g": "BYTE_STREAM_SPLIT"},
            data_page_size=1024,
        )
        payload = buf.getvalue()
        assert decode_column(payload, 0) == d, comp
        assert decode_column(payload, 1) == g, comp


def test_plain_bool_double_float_decode():
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "f": pa.array([bool(i % 3 == 0) for i in range(40)]),
            "d": pa.array([i / 4 for i in range(40)], pa.float64()),
            "g": pa.array([float(i) for i in range(40)], pa.float32()),
        }
    )
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="NONE", use_dictionary=False)
    payload = buf.getvalue()
    assert decode_column(payload, 0) == [bool(i % 3 == 0) for i in range(40)]
    assert decode_column(payload, 1) == [i / 4 for i in range(40)]
    assert decode_column(payload, 2) == [float(i) for i in range(40)]


def test_hybrid_decoder_hand_built_streams():
    # RLE run: header 2*5 (run of 5), 1-byte value 3 at bit width 2
    vals, pos = decode_hybrid(bytes([10, 3]), 0, 2, 2, 5)
    assert vals == [3] * 5 and pos == 2
    # bit-packed group: header (1<<1)|1, 8 values of width 1 = 1 byte
    vals, _ = decode_hybrid(bytes([3, 0b10110101]), 0, 2, 1, 8)
    assert vals == [1, 0, 1, 0, 1, 1, 0, 1]
    # trailing pad values beyond count are trimmed
    vals, _ = decode_hybrid(bytes([3, 0b00000101]), 0, 2, 1, 3)
    assert vals == [1, 0, 1]
    # zero bit width: all zeros, no bytes consumed
    vals, pos = decode_hybrid(b"", 0, 0, 0, 4)
    assert vals == [0, 0, 0, 0] and pos == 0
    # truncation quarantines
    with pytest.raises(ValueError, match="truncated"):
        decode_hybrid(bytes([10]), 0, 1, 2, 5)
    with pytest.raises(ValueError, match="overruns"):
        decode_hybrid(bytes([120, 3]), 0, 2, 2, 5)  # RLE run of 60 > 5


def test_boundaries_are_valueerrors():
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"a": pa.array([1, 2, 3], pa.int64())})
    # snappy: the round-9 codec boundary is CLOSED (hand decoder in
    # functions/snappy.py) — it must now decode, not raise
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy")
    assert decode_column(buf.getvalue(), 0) == [1, 2, 3]
    # zstd: boundary also closed (functions/zstd_codec.py)
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="zstd")
    assert decode_column(buf.getvalue(), 0) == [1, 2, 3]
    # brotli: still a loud codec boundary
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="brotli")
    with pytest.raises(ValueError, match="codec"):
        decode_column(buf.getvalue(), 0)
    # nested schema: refused, never mis-decoded as flat
    t2 = pa.table({"l": pa.array([[1, 2], [3]], pa.list_(pa.int64()))})
    buf = io.BytesIO()
    pq.write_table(t2, buf, compression="NONE")
    with pytest.raises(ValueError, match="nested"):
        decode_column(buf.getvalue(), 0)
    # out-of-range column index
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="NONE")
    with pytest.raises(ValueError, match="out of range"):
        decode_column(buf.getvalue(), 5)
    with pytest.raises(ValueError, match="PAR1"):
        decode_column(b"not parquet at all", 0)


def test_scan_requires_four_columns():
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64())}), buf, compression="NONE"
    )
    with pytest.raises(ValueError, match="4 leaf columns"):
        scan_parquet_values(buf.getvalue())


def test_spark_permissive_quarantine(spark):
    from datawarehouseproject_spark.operators.multimodal import (
        extract_parquet_values,
    )

    rows = [
        (4, bytearray(synth_parquet_data(4))),
        (9, bytearray(b"PAR1 garbage PAR")),
    ]
    media = spark.createDataFrame(rows, "media_id: long, payload: binary")
    out = {
        r["media_id"]: r
        for r in extract_parquet_values(media, permissive=True).collect()
    }
    a, b, c = _plan_values(4)
    assert out[4]["decode_error"] is None
    assert out[4]["n_rows"] == len(a)
    assert out[4]["a_sum"] == sum(v for v in a if v is not None)
    assert out[9]["decode_error"] is not None and out[9]["n_rows"] is None


def test_byte_stream_split_doubles_roundtrip():
    """Round 13: the delta seeds write the double column
    BYTE_STREAM_SPLIT (pyarrow column_encoding); the byte-plane
    transpose must recover pyarrow's own values exactly."""
    import pyarrow.parquet as pq

    for seed in (8, 9, 13, 24):
        blob = synth_parquet_data(seed)
        meta = pq.ParquetFile(io.BytesIO(blob))
        encs = meta.metadata.row_group(0).column(3).encodings
        assert "BYTE_STREAM_SPLIT" in encs, (seed, encs)
        got = scan_parquet_values(blob)
        table = pq.read_table(io.BytesIO(blob))
        assert got["d_sum"] == int(sum(table.column("d").to_pylist()))


def test_byte_stream_split_truncation_quarantines():
    from datawarehouseproject_spark.functions.parquet_pages import (
        _decode_values,
    )

    with pytest.raises(ValueError, match="truncated byte-stream"):
        _decode_values(b"\x01\x02\x03", 0, 3, 9, 5, 4, None, 0)
    # unsupported physical type (byte array = 6)
    with pytest.raises(ValueError, match="unsupported type"):
        _decode_values(b"\x00" * 64, 0, 64, 9, 6, 4, None, 0)


def test_compressed_page_bomb_stops_at_declared_size():
    """A ~2 KiB page body that declares 64 bytes but inflates to
    megabytes is refused at the declared size, not after inflating."""
    import gzip

    import pyarrow as pa

    from datawarehouseproject_spark.functions.parquet_pages import (
        _CODEC_GZIP,
        _CODEC_ZSTD,
        _decompress,
    )

    zeros = b"\x00" * (1 << 24)
    bombs = {
        _CODEC_GZIP: (gzip.compress(zeros[: 1 << 21]), "exceeds"),
        _CODEC_ZSTD: (bytes(pa.Codec("zstd").compress(zeros)), "cap"),
    }
    for codec, (body, word) in bombs.items():
        assert len(body) < 8192, codec
        with pytest.raises(ValueError, match=word):
            _decompress(codec, body, 64)
    # a truncated gzip body still quarantines
    with pytest.raises(ValueError, match="truncated"):
        _decompress(_CODEC_GZIP, gzip.compress(b"abc" * 100)[:-12], 300)
