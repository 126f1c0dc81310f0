"""Parquet PAGE INDEX reader: ColumnIndex + OffsetIndex, by hand.

The page index (parquet-format PageIndex.md, public) is THE
data-skipping structure a 100 TB lake actually uses: per-page
min/max/null statistics (ColumnIndex) plus page locations keyed by
first row index (OffsetIndex), both thrift-compact structs stored
between the row groups and the footer and addressed from each
ColumnChunk's ``column_index_offset/length`` (fields 6/7) and
``offset_index_offset/length`` (fields 4/5).  A reader that consults
them prunes pages server-side before any decompression — the
file-level min/max skipping this repo's Delta tables already do,
pushed two levels deeper.

Wire structs (parquet.thrift):

- ``ColumnIndex``: 1 null_pages list<bool>, 2 min_values
  list<binary>, 3 max_values list<binary>, 4 boundary_order i32 enum
  (0 UNORDERED, 1 ASCENDING, 2 DESCENDING), 5 null_counts list<i64>;
  min/max are PLAIN-encoded physical values (int64 little-endian
  here) and are NOT populated for null pages;
- ``OffsetIndex``: 1 page_locations list<PageLocation{1 offset i64,
  2 compressed_page_size i32, 3 first_row_index i64}>.

The thrift compact walker is :mod:`.parquet_footer`'s — same reader,
third parquet structure.  Producer: pyarrow's writer with
``write_page_index=True`` (the independent-producer pin); the scan
cross-checks ColumnIndex against OffsetIndex page-for-page and both
against the footer's row count, so the two indexes cannot drift."""

from __future__ import annotations

import struct

from .parquet_footer import (
    _BINARY,
    _BOOL_FALSE,
    _BOOL_TRUE,
    _I32,
    _I64,
    _LIST,
    _STRUCT,
    _list_header,
    _unzigzag,
    _varint,
    _walk_struct,
)


def _read_i(data: bytes, pos: int) -> tuple[int, int]:
    raw, pos = _varint(data, pos)
    return _unzigzag(raw), pos


def _read_binary(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _varint(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError("thrift binary length out of bounds")
    return data[pos : pos + n], pos + n


def parse_offset_index(blob: bytes) -> list[dict]:
    """[{offset, compressed_page_size, first_row_index}] per page."""
    pages: list[dict] = []

    def page_handler(fid, ftype, data, pos):
        if fid == 1 and ftype == _I64:
            v, pos = _read_i(data, pos)
            pages[-1]["offset"] = v
            return pos
        if fid == 2 and ftype == _I32:
            v, pos = _read_i(data, pos)
            pages[-1]["compressed_page_size"] = v
            return pos
        if fid == 3 and ftype == _I64:
            v, pos = _read_i(data, pos)
            pages[-1]["first_row_index"] = v
            return pos
        return None

    def top_handler(fid, ftype, data, pos):
        if fid == 1 and ftype == _LIST:
            count, etype, pos = _list_header(data, pos)
            if etype != _STRUCT or count < 0 or count > 1 << 24:
                raise ValueError("offset index page_locations malformed")
            for _ in range(count):
                pages.append({})
                pos = _walk_struct(data, pos, page_handler)
            return pos
        return None

    _walk_struct(blob, 0, top_handler)
    for p in pages:
        if not {"offset", "compressed_page_size", "first_row_index"} <= set(p):
            raise ValueError("offset index page missing required fields")
    return pages


def parse_column_index(blob: bytes) -> dict:
    """{null_pages, min_values, max_values, boundary_order,
    null_counts} — min/max as raw PLAIN bytes."""
    out: dict = {
        "null_pages": None, "min_values": None, "max_values": None,
        "boundary_order": None, "null_counts": None,
    }

    def read_bool_list(data, pos):
        count, etype, pos = _list_header(data, pos)
        if etype not in (_BOOL_TRUE, _BOOL_FALSE) or count > 1 << 24:
            raise ValueError("column index null_pages malformed")
        vals = []
        for _ in range(count):
            if pos >= len(data):
                raise ValueError("truncated bool list")
            b = data[pos]
            pos += 1
            if b not in (_BOOL_TRUE, _BOOL_FALSE):
                raise ValueError("bad bool element in thrift list")
            vals.append(b == _BOOL_TRUE)
        return vals, pos

    def read_bin_list(data, pos):
        count, etype, pos = _list_header(data, pos)
        if etype != _BINARY or count > 1 << 24:
            raise ValueError("column index binary list malformed")
        vals = []
        for _ in range(count):
            v, pos = _read_binary(data, pos)
            vals.append(v)
        return vals, pos

    def read_i64_list(data, pos):
        count, etype, pos = _list_header(data, pos)
        if etype != _I64 or count > 1 << 24:
            raise ValueError("column index null_counts malformed")
        vals = []
        for _ in range(count):
            v, pos = _read_i(data, pos)
            vals.append(v)
        return vals, pos

    def handler(fid, ftype, data, pos):
        if fid == 1 and ftype == _LIST:
            out["null_pages"], pos = read_bool_list(data, pos)
            return pos
        if fid == 2 and ftype == _LIST:
            out["min_values"], pos = read_bin_list(data, pos)
            return pos
        if fid == 3 and ftype == _LIST:
            out["max_values"], pos = read_bin_list(data, pos)
            return pos
        if fid == 4 and ftype == _I32:
            out["boundary_order"], pos = _read_i(data, pos)
            return pos
        if fid == 5 and ftype == _LIST:
            out["null_counts"], pos = read_i64_list(data, pos)
            return pos
        return None

    _walk_struct(blob, 0, handler)
    if (
        out["null_pages"] is None
        or out["min_values"] is None
        or out["max_values"] is None
    ):
        raise ValueError("column index missing required lists")
    n = len(out["null_pages"])
    non_null = n - sum(out["null_pages"])
    if len(out["min_values"]) not in (n, non_null) or len(
        out["max_values"]
    ) != len(out["min_values"]):
        raise ValueError("column index list lengths disagree")
    return out


def _footer_indexes(payload: bytes) -> tuple[int, list[list[dict]]]:
    """(n_rows, per-row-group list of per-column {co, cl, oo, ol}
    index locations) from the FileMetaData footer."""
    if len(payload) < 12 or payload[:4] != b"PAR1" or payload[-4:] != b"PAR1":
        raise ValueError("not a parquet file (missing PAR1 magic)")
    (flen,) = struct.unpack_from("<I", payload, len(payload) - 8)
    start = len(payload) - 8 - flen
    if start < 4:
        raise ValueError("footer length past start of file")
    meta = payload[start : start + flen]
    n_rows = [None]
    row_groups: list[list[dict]] = []

    def chunk_handler(fid, ftype, data, pos):
        cur = row_groups[-1][-1]
        if fid == 4 and ftype == _I64:
            cur["oo"], pos = _read_i(data, pos)
            return pos
        if fid == 5 and ftype == _I32:
            cur["ol"], pos = _read_i(data, pos)
            return pos
        if fid == 6 and ftype == _I64:
            cur["co"], pos = _read_i(data, pos)
            return pos
        if fid == 7 and ftype == _I32:
            cur["cl"], pos = _read_i(data, pos)
            return pos
        return None

    def rg_handler(fid, ftype, data, pos):
        if fid == 1 and ftype == _LIST:
            count, etype, pos = _list_header(data, pos)
            if etype != _STRUCT or count > 1 << 16:
                raise ValueError("row group columns list malformed")
            for _ in range(count):
                row_groups[-1].append({})
                pos = _walk_struct(data, pos, chunk_handler)
            return pos
        return None

    def top_handler(fid, ftype, data, pos):
        if fid == 3 and ftype == _I64:
            n_rows[0], pos = _read_i(data, pos)
            return pos
        if fid == 4 and ftype == _LIST:
            count, etype, pos = _list_header(data, pos)
            if etype != _STRUCT or count > 1 << 20:
                raise ValueError("row groups list malformed")
            for _ in range(count):
                row_groups.append([])
                pos = _walk_struct(data, pos, rg_handler)
            return pos
        return None

    _walk_struct(meta, 0, top_handler)
    if n_rows[0] is None or n_rows[0] < 0:
        raise ValueError("footer missing num_rows")
    return n_rows[0], row_groups


def read_page_index(payload: bytes, rg: int, col: int) -> dict:
    """Decode one column chunk's (ColumnIndex, OffsetIndex) pair and
    cross-check them: same page count, first_row_index starting at 0
    and strictly increasing below the file row count, page offsets
    in-bounds and strictly increasing."""
    return _read_page_index_at(
        payload, _footer_indexes(payload), rg, col
    )


def _read_page_index_at(
    payload: bytes, footer: tuple[int, list], rg: int, col: int
) -> dict:
    """:func:`read_page_index` body over a PRE-PARSED footer, so a
    multi-column scan walks the FileMetaData thrift once, not once
    per column."""
    n_rows, groups = footer
    if rg >= len(groups) or col >= len(groups[rg]):
        raise ValueError("row group / column out of range")
    loc = groups[rg][col]
    for key in ("co", "cl", "oo", "ol"):
        if key not in loc:
            raise ValueError("column chunk has no page index")
    if not (
        0 <= loc["co"] <= len(payload) - loc["cl"]
        and 0 <= loc["oo"] <= len(payload) - loc["ol"]
        and loc["cl"] > 0 and loc["ol"] > 0
    ):
        raise ValueError("page index offsets out of bounds")
    ci = parse_column_index(payload[loc["co"] : loc["co"] + loc["cl"]])
    oi = parse_offset_index(payload[loc["oo"] : loc["oo"] + loc["ol"]])
    n_pages = len(ci["null_pages"])
    if len(oi) != n_pages:
        raise ValueError(
            f"column index has {n_pages} pages, offset index {len(oi)}"
        )
    prev_row = -1
    prev_off = -1
    for i, p in enumerate(oi):
        fri = p["first_row_index"]
        if i == 0 and fri != 0:
            raise ValueError("offset index does not start at row 0")
        if fri <= prev_row or fri >= max(n_rows, 1):
            raise ValueError("offset index first_row_index not increasing")
        prev_row = fri
        if p["compressed_page_size"] < 0:
            raise ValueError("negative compressed_page_size in offset index")
        if (
            p["offset"] <= prev_off
            or p["offset"] + p["compressed_page_size"] > len(payload)
        ):
            raise ValueError("offset index page location out of bounds")
        prev_off = p["offset"]
    return {"column_index": ci, "offset_index": oi, "n_rows": n_rows}


def _i64le(raw: bytes) -> int:
    if len(raw) != 8:
        raise ValueError("int64 page statistic is not 8 bytes")
    return struct.unpack("<q", raw)[0]


def scan_parquet_page_index(payload: bytes) -> dict:
    """Scan for the ``parquet_page_index_scan`` query over the
    two-column (v nullable int64, k ascending int64) fixture:
    split-INDEPENDENT aggregates of the page statistics — the global
    min/max over page mins/maxes must equal the true column min/max,
    the null-count sum the true null total, and the sorted column
    must be flagged ASCENDING with zero nulls — plus a page-pruning
    demo: how many pages a ``k = n_rows // 2`` point lookup touches
    (exactly 1 for an ascending column, however the writer split)."""
    footer = _footer_indexes(payload)  # one thrift walk, both columns
    v_idx = _read_page_index_at(payload, footer, 0, 0)
    k_idx = _read_page_index_at(payload, footer, 0, 1)
    vci, kci = v_idx["column_index"], k_idx["column_index"]
    n_rows = v_idx["n_rows"]

    def stats(ci):
        mins, maxes = [], []
        vals = iter(zip(ci["min_values"], ci["max_values"]))
        # compact writers may omit entries for null pages entirely
        dense = len(ci["min_values"]) == len(ci["null_pages"])
        for is_null in ci["null_pages"]:
            if is_null and dense:
                next(vals)
                continue
            if is_null:
                continue
            lo, hi = next(vals)
            mins.append(_i64le(lo))
            maxes.append(_i64le(hi))
        if not mins:
            raise ValueError("page index with only null pages")
        if any(m > x for m, x in zip(mins, maxes)):
            raise ValueError("page min above page max")
        return min(mins), max(maxes), mins, maxes

    v_min, v_max, _, _ = stats(vci)
    k_min, k_max, k_mins, k_maxes = stats(kci)
    if kci["boundary_order"] != 1:
        raise ValueError("ascending column not flagged ASCENDING")
    if kci["null_counts"] is not None and any(kci["null_counts"]):
        raise ValueError("non-null column reports null pages")
    # point-lookup pruning: pages whose [min, max] straddle the probe
    probe = n_rows // 2
    touched = sum(
        1 for lo, hi in zip(k_mins, k_maxes) if lo <= probe <= hi
    )
    if touched != 1:
        raise ValueError(
            f"ascending column point lookup touched {touched} pages"
        )
    v_nulls = sum(vci["null_counts"] or [])
    return {
        "n_rows": n_rows,
        "n_pages_v": len(vci["null_pages"]),
        "n_pages_k": len(kci["null_pages"]),
        "v_min": v_min,
        "v_max": v_max,
        "v_null_sum": int(v_nulls),
        "k_min": k_min,
        "k_max": k_max,
        "k_ascending": True,
        "pages_touched_point": touched,
    }


def synth_parquet_page_index_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``400 + (seed*37) % 800``
    rows; v = ``(seed*7 + i*3) % 997`` (NULL when ``(i+seed)%11 ==
    7``), k = i ascending.  Page geometry (data_page_size=512,
    write_batch_size=64) forces many small pages, but every
    oracle-checked output is SPLIT-INDEPENDENT."""
    return {"n_rows": 400 + (seed * 37) % 800}


def synth_parquet_page_index(seed: int) -> bytes:
    """A REAL parquet file with ColumnIndex/OffsetIndex from the
    pyarrow writer (``write_page_index=True``)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = synth_parquet_page_index_plan(seed)["n_rows"]
    buf = io.BytesIO()
    w = pq.ParquetWriter(
        buf,
        pa.schema([("v", pa.int64()), ("k", pa.int64())]),
        write_page_index=True,
        data_page_size=512,
        write_batch_size=64,
        version="2.6",
    )
    w.write_table(
        pa.table(
            {
                "v": [
                    None if (i + seed) % 11 == 7 else (seed * 7 + i * 3) % 997
                    for i in range(n)
                ],
                "k": list(range(n)),
            }
        )
    )
    w.close()
    return buf.getvalue()
