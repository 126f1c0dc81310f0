"""Arrow IPC (Feather V2) file triage: hand-rolled flatbuffers.

Arrow IPC is the interchange format of the engine's OWN runtime
(every mapInPandas batch crosses the JVM/Python boundary as Arrow),
and .arrow/.feather files are how intermediate datasets ship between
tools.  With :mod:`.parquet_footer` (Thrift compact) and
:mod:`.protowire` (protobuf), this completes the serialization-
format trio a data platform actually meets — flatbuffers is the last
of the three wire formats, and like the others it is parsed here
from the public spec (google.github.io/flatbuffers/ internals +
Arrow's Footer.fbs/Message.fbs/Schema.fbs):

- file layout: ``ARROW1\\0\\0`` magic, then messages, then the
  Footer flatbuffer, u32le footer length, trailing ``ARROW1``;
- flatbuffer wire: root = u32le offset to the root TABLE; a table
  starts with an i32 soffset to its VTABLE (vtable pos = table pos
  - soffset); the vtable is u16 vtable-size, u16 table-size, then
  one u16 per field (offset from table start, 0 = absent); scalar
  fields are inline, offset fields hold a u32 relative offset to
  the target, strings are u32-length-prefixed, vectors are u32
  count + elements, structs are inline;
- Footer table: version (short, id 0), schema (table, id 1),
  dictionaries ([Block], id 2), recordBatches ([Block], id 3);
  Block is a 24-byte inline struct {i64 offset, i32 metaDataLength
  (+4 pad), i64 bodyLength};
- Schema table: endianness (id 0), fields ([Field], id 1); Field:
  name (string, id 0), nullable (bool, id 1), type_type (union tag
  byte, id 2), ...;
- each record batch is an ENCAPSULATED MESSAGE at its Block offset:
  u32 continuation ``FFFFFFFF``, u32 metadata length, Message
  flatbuffer — version (id 0), header union tag (id 1) where
  RecordBatch = 3, header offset (id 2), bodyLength (long, id 3);
  RecordBatch table: length (long, id 0) = ROW COUNT, nodes (id 1),
  buffers (id 2).

The SYNTHESIZER is pyarrow's IPC writer — the independent-producer
pin again.  Every offset is bounds-checked; malformed buffers raise
``ValueError`` (permissive-quarantine contract).
"""

from __future__ import annotations

import struct

_MAGIC = b"ARROW1"
_MSG_RECORD_BATCH = 3


class _FB:
    """Bounds-checked little-endian readers over one buffer."""

    __slots__ = ("data",)

    def __init__(self, data: bytes):
        self.data = data

    def _need(self, pos: int, n: int) -> None:
        if pos < 0 or pos + n > len(self.data):
            raise ValueError("flatbuffer offset out of bounds")

    def u16(self, pos: int) -> int:
        self._need(pos, 2)
        return struct.unpack_from("<H", self.data, pos)[0]

    def i16(self, pos: int) -> int:
        self._need(pos, 2)
        return struct.unpack_from("<h", self.data, pos)[0]

    def i32(self, pos: int) -> int:
        self._need(pos, 4)
        return struct.unpack_from("<i", self.data, pos)[0]

    def u32(self, pos: int) -> int:
        self._need(pos, 4)
        return struct.unpack_from("<I", self.data, pos)[0]

    def i64(self, pos: int) -> int:
        self._need(pos, 8)
        return struct.unpack_from("<q", self.data, pos)[0]

    def u8(self, pos: int) -> int:
        self._need(pos, 1)
        return self.data[pos]

    def root(self) -> int:
        return self.u32(0)

    def field(self, table: int, field_id: int) -> int | None:
        """Byte position of field ``field_id`` in ``table``, or None
        if absent (vtable offset 0 / vtable too short)."""
        soff = self.i32(table)
        vt = table - soff
        if vt < 0:
            raise ValueError("flatbuffer vtable before buffer start")
        vt_size = self.u16(vt)
        slot = 4 + 2 * field_id
        if slot + 2 > vt_size:
            return None
        off = self.u16(vt + slot)
        if off == 0:
            return None
        return table + off

    def indirect(self, pos: int) -> int:
        """Follow a u32 relative offset (tables, strings, vectors)."""
        return pos + self.u32(pos)

    def table_field(self, table: int, field_id: int) -> int | None:
        pos = self.field(table, field_id)
        return None if pos is None else self.indirect(pos)

    def string_at(self, pos: int) -> str:
        tgt = self.indirect(pos)
        n = self.u32(tgt)
        self._need(tgt + 4, n)
        return self.data[tgt + 4 : tgt + 4 + n].decode(
            "utf-8", errors="replace"
        )

    def vector(self, table: int, field_id: int) -> tuple[int, int] | None:
        """(element start, count) of a vector field, or None."""
        pos = self.field(table, field_id)
        if pos is None:
            return None
        tgt = self.indirect(pos)
        n = self.u32(tgt)
        return tgt + 4, n


def _parse_footer(fb: _FB) -> dict:
    footer = fb.root()
    out: dict = {"n_columns": 0, "col_names": [], "batches": [],
                 "n_dict_batches": 0}
    schema = fb.table_field(footer, 1)
    if schema is not None:
        vec = fb.vector(schema, 1)  # fields: [Field]
        if vec is not None:
            start, n = vec
            if n > len(fb.data):
                raise ValueError("schema field vector count out of range")
            out["n_columns"] = n
            for i in range(n):
                field_tbl = fb.indirect(start + 4 * i)
                name_pos = fb.field(field_tbl, 0)
                out["col_names"].append(
                    "" if name_pos is None else fb.string_at(name_pos)
                )
    dicts = fb.vector(footer, 2)  # dictionaries: [Block] (struct x24)
    out["dict_blocks"] = []
    if dicts is not None:
        start, n = dicts
        if n * 24 > len(fb.data):
            raise ValueError("dictionary block vector out of range")
        out["n_dict_batches"] = n
        for i in range(n):
            base = start + 24 * i
            out["dict_blocks"].append(
                {
                    "offset": fb.i64(base),
                    "meta_len": fb.i32(base + 8),
                    "body_len": fb.i64(base + 16),
                }
            )
    blocks = fb.vector(footer, 3)  # recordBatches: [Block]
    if blocks is not None:
        start, n = blocks
        if n * 24 > len(fb.data):
            raise ValueError("record-batch block vector out of range")
        for i in range(n):
            base = start + 24 * i
            out["batches"].append(
                {
                    "offset": fb.i64(base),
                    "meta_len": fb.i32(base + 8),
                    "body_len": fb.i64(base + 16),
                }
            )
    return out


def _batch_rows(payload: bytes, block: dict) -> int:
    """Row count of one record batch: encapsulated message ->
    Message flatbuffer -> RecordBatch header -> length field."""
    pos = block["offset"]
    if pos < 8 or pos + 8 > len(payload):
        raise ValueError("record-batch offset outside file")
    (cont,) = struct.unpack_from("<I", payload, pos)
    if cont == 0xFFFFFFFF:
        (meta_len,) = struct.unpack_from("<I", payload, pos + 4)
        meta_start = pos + 8
    else:
        # pre-1.0 streams lack the continuation marker
        meta_len = cont
        meta_start = pos + 4
    if meta_len <= 0 or meta_start + meta_len > len(payload):
        raise ValueError("record-batch metadata length out of range")
    fb = _FB(payload[meta_start : meta_start + meta_len])
    msg = fb.root()
    tag_pos = fb.field(msg, 1)
    tag = 0 if tag_pos is None else fb.u8(tag_pos)
    if tag != _MSG_RECORD_BATCH:
        raise ValueError(f"block points at message type {tag}, "
                         f"not a record batch")
    header = fb.table_field(msg, 2)
    if header is None:
        raise ValueError("record-batch message missing header")
    len_pos = fb.field(header, 0)
    n_rows = 0 if len_pos is None else fb.i64(len_pos)
    if n_rows < 0:
        raise ValueError("negative record-batch length")
    body_pos = fb.field(msg, 3)
    body_len = 0 if body_pos is None else fb.i64(body_pos)
    if body_len != block["body_len"]:
        raise ValueError(
            f"footer body length {block['body_len']} != message "
            f"body length {body_len}"
        )
    return n_rows


def scan_arrow_ipc(payload: bytes) -> dict:
    """Triage an Arrow IPC file: schema width, record-batch count,
    TOTAL ROW COUNT (each batch's Message flatbuffer read and its
    body length cross-checked against the footer block), dictionary-
    batch count.  Raises ``ValueError`` on malformed structure."""
    if len(payload) < 20 or payload[:6] != _MAGIC:
        raise ValueError("not an arrow IPC file (bad leading magic)")
    if payload[-6:] != _MAGIC:
        raise ValueError("missing trailing ARROW1 magic")
    (flen,) = struct.unpack_from("<I", payload, len(payload) - 10)
    start = len(payload) - 10 - flen
    if flen <= 0 or start < 8:
        raise ValueError("arrow footer length out of range")
    footer = _parse_footer(_FB(payload[start : start + flen]))
    total_rows = 0
    for block in footer["batches"]:
        total_rows += _batch_rows(payload, block)
    return {
        "n_columns": footer["n_columns"],
        "n_batches": len(footer["batches"]),
        "n_dict_batches": footer["n_dict_batches"],
        "n_rows": total_rows,
        "body_bytes": sum(b["body_len"] for b in footer["batches"]),
        "payload_bytes": len(payload),
    }


_TYPE_INT = 2
_TYPE_UTF8 = 5


def _int_bits(fb: _FB, type_tbl: int | None) -> int:
    """bitWidth of an Int table (Schema.fbs: bitWidth(0), is_signed(1))."""
    if type_tbl is None:
        raise ValueError("arrow Int field without type table")
    bw_pos = fb.field(type_tbl, 0)
    bits = 32 if bw_pos is None else fb.i32(bw_pos)
    if bits not in (8, 16, 32, 64):
        raise ValueError(f"arrow Int bitWidth {bits} unsupported")
    return bits


def _schema_types(fb: _FB, schema: int) -> list[tuple]:
    """One spec per schema field: ('int', bits), ('utf8', 0), or —
    when Field.dictionary is set — ('dict', index_bits, value_kind,
    dict_id): the record batch carries integer INDICES of
    ``index_bits`` into the dictionary ``dict_id`` whose VALUES have
    the field's own type.

    Field table (Schema.fbs): name(0), nullable(1), type_type(2,
    union tag byte), type(3, union value table), dictionary(4,
    DictionaryEncoding), children(5).  DictionaryEncoding: id(0,
    long), indexType(1, Int), isOrdered(2), dictionaryKind(3)."""
    vec = fb.vector(schema, 1)
    if vec is None:
        return []
    start, n = vec
    out = []
    for i in range(n):
        field_tbl = fb.indirect(start + 4 * i)
        tag_pos = fb.field(field_tbl, 2)
        tag = 0 if tag_pos is None else fb.u8(tag_pos)
        if tag == _TYPE_INT:
            vkind = ("int", _int_bits(fb, fb.table_field(field_tbl, 3)))
        elif tag == _TYPE_UTF8:
            vkind = ("utf8", 0)
        else:
            raise ValueError(f"arrow type tag {tag} unsupported by decoder")
        enc_pos = fb.field(field_tbl, 4)
        if enc_pos is None:
            out.append(vkind)
            continue
        enc = fb.indirect(enc_pos)
        id_pos = fb.field(enc, 0)
        dict_id = 0 if id_pos is None else fb.i64(id_pos)
        idx_tbl = fb.table_field(enc, 1)
        index_bits = 32 if idx_tbl is None else _int_bits(fb, idx_tbl)
        out.append(("dict", index_bits, vkind, dict_id))
    return out


def _dict_value_kinds(types: list[tuple]) -> dict[int, tuple]:
    """dictionary id -> value kind, refusing an id SHARED by fields
    of different value types — decoding one dictionary under two
    types would type-confuse the stats (TypeError, not a quarantine
    ValueError)."""
    vkinds: dict[int, tuple] = {}
    for t in types:
        if t[0] != "dict":
            continue
        did, vk = t[3], t[2]
        if did in vkinds and vkinds[did] != vk:
            raise ValueError(
                f"dictionary id {did} shared by fields of "
                "different value types"
            )
        vkinds[did] = vk
    return vkinds


def _valid(bitmap: bytes, i: int, null_count: int) -> bool:
    if null_count == 0:
        return True
    if (i >> 3) >= len(bitmap):
        # a corrupt/absent Buffer must quarantine, not IndexError —
        # and an EMPTY bitmap with null_count > 0 must not silently
        # treat unspecified null-slot bytes as data
        raise ValueError("validity bitmap shorter than row count")
    return bool(bitmap[i >> 3] & (1 << (i & 7)))


def decode_arrow_values(payload: bytes) -> dict:
    """Decode the actual COLUMN VALUES of an Arrow IPC file from its
    raw buffers — the value-level completion of :func:`scan_arrow_ipc`
    (round-8 triage counted rows; this reads them).  Per batch the
    RecordBatch flatbuffer's FieldNode and Buffer structs are walked
    in the spec's preorder layout (int: validity+data, utf8:
    validity+offsets+data), validity bitmaps are LSB-first, buffer
    offsets are body-relative, and compressed bodies (BodyCompression,
    field 3) decode per-buffer through the lz4-frame (hand) and zstd
    (libzstd) decoders (round 13 — this was the round-12 loud
    boundary).
    Returns exact integer sums and
    utf8 char counts over the NON-NULL slots only — null-slot data
    bytes are unspecified by the spec and must not leak into stats."""
    if len(payload) < 20 or payload[:6] != _MAGIC:
        raise ValueError("not an arrow IPC file (bad leading magic)")
    if payload[-6:] != _MAGIC:
        raise ValueError("missing trailing ARROW1 magic")
    (flen,) = struct.unpack_from("<I", payload, len(payload) - 10)
    start = len(payload) - 10 - flen
    if flen <= 0 or start < 8:
        raise ValueError("arrow footer length out of range")
    ffb = _FB(payload[start : start + flen])
    footer_tbl = ffb.root()
    schema_tbl = ffb.table_field(footer_tbl, 1)
    if schema_tbl is None:
        raise ValueError("arrow footer without schema")
    types = _schema_types(ffb, schema_tbl)
    footer = _parse_footer(ffb)
    stats = {
        "n_rows": 0, "int_sum": 0, "int_nulls": 0,
        "str_chars": 0, "str_nulls": 0,
    }

    def locate(block: dict) -> tuple[int, int]:
        pos = block["offset"]
        if pos < 8 or pos + 8 > len(payload):
            raise ValueError("record-batch offset outside file")
        (cont,) = struct.unpack_from("<I", payload, pos)
        if cont == 0xFFFFFFFF:
            (meta_len,) = struct.unpack_from("<I", payload, pos + 4)
            meta_start = pos + 8
        else:
            meta_len = cont
            meta_start = pos + 4
        if meta_len <= 0 or meta_start + meta_len > len(payload):
            raise ValueError("record-batch metadata length out of range")
        return meta_start, meta_len

    dicts: dict[int, list] = {}
    vkinds = _dict_value_kinds(types)
    # footer order IS the replay order: initial batches precede
    # their deltas
    for block in footer["dict_blocks"]:
        meta_start, meta_len = locate(block)
        _decode_dict_batch(
            payload, meta_start, meta_len, block["body_len"],
            vkinds, dicts,
        )
    for block in footer["batches"]:
        meta_start, meta_len = locate(block)
        _decode_batch_values(
            payload, meta_start, meta_len, block["body_len"], types,
            stats, dicts,
        )
    return {
        "n_batches": len(footer["batches"]),
        "n_rows": stats["n_rows"],
        "int_sum": stats["int_sum"],
        "int_nulls": stats["int_nulls"],
        "str_chars": stats["str_chars"],
        "str_nulls": stats["str_nulls"],
        "payload_bytes": len(payload),
    }


_INT_LETTER = {8: "b", 16: "h", 32: "i", 64: "q"}


def _walk_batch_header(
    payload: bytes, fb: _FB, header: int, body_len: int, meta_start: int,
    meta_len: int, n_fields: int,
):
    """Shared RecordBatch-header walk (rows, nodes, buffers, the
    body-relative ``buf`` accessor) for record AND dictionary
    batches.

    BodyCompression (RecordBatch field 3, round 13): pyarrow writes
    lz4/zstd-compressed bodies routinely (``IpcWriteOptions(
    compression=...)``).  Per Message.fbs the table carries ``codec``
    (field 0: 0 = LZ4_FRAME, 1 = ZSTD) and ``method`` (field 1: 0 =
    BUFFER — each constituent buffer compressed independently); per
    the spec's BUFFER layout every non-empty buffer starts with an
    int64le uncompressed length, with ``-1`` marking a buffer the
    writer left raw.  lz4 decodes through the hand decoder
    (:mod:`.lz4_codec`), zstd through :func:`.zstd_codec.decode_zstd`
    (libzstd); the declared uncompressed length caps the decoder's
    output and is verified against it (drift = quarantine)."""
    codec = None
    comp_pos = fb.field(header, 3)
    if comp_pos is not None:
        comp = fb.indirect(comp_pos)
        codec_pos = fb.field(comp, 0)
        codec = 0 if codec_pos is None else fb.u8(codec_pos)
        if codec not in (0, 1):
            raise ValueError(f"arrow body codec {codec} unknown")
        method_pos = fb.field(comp, 1)
        method = 0 if method_pos is None else fb.u8(method_pos)
        if method != 0:
            raise ValueError(
                f"arrow body-compression method {method} unknown"
            )
    len_pos = fb.field(header, 0)
    rows = 0 if len_pos is None else fb.i64(len_pos)
    if rows < 0:
        raise ValueError("negative record-batch row count")
    nodes = fb.vector(header, 1)
    bufs = fb.vector(header, 2)
    if nodes is None or bufs is None:
        raise ValueError("record batch missing nodes/buffers")
    if nodes[1] != n_fields:
        raise ValueError(
            f"{nodes[1]} field nodes for {n_fields} schema fields"
        )
    if body_len < 0:
        raise ValueError("negative record-batch body length")
    body_start = meta_start + meta_len
    if body_start + body_len > len(payload):
        raise ValueError("record-batch body runs past file end")

    def buf(idx: int) -> bytes:
        if idx >= bufs[1]:
            raise ValueError("buffer index past buffer vector")
        base = bufs[0] + 16 * idx
        off, length = fb.i64(base), fb.i64(base + 8)
        if off < 0 or length < 0 or off + length > body_len:
            raise ValueError("arrow buffer outside batch body")
        raw = payload[body_start + off : body_start + off + length]
        if codec is None or length == 0:
            return raw
        if length < 8:
            raise ValueError(
                "compressed arrow buffer shorter than its length "
                "prefix"
            )
        (decoded_len,) = struct.unpack_from("<q", raw, 0)
        if decoded_len == -1:  # writer left this buffer raw
            return raw[8:]
        if not 0 <= decoded_len <= 1 << 28:
            raise ValueError("arrow buffer decoded length out of range")
        if codec == 0:
            from .lz4_codec import decode_lz4_frame

            out = decode_lz4_frame(raw[8:], max_output=decoded_len)
        else:
            from .zstd_codec import decode_zstd

            out = decode_zstd(raw[8:], max_output=decoded_len)
        if len(out) != decoded_len:
            raise ValueError(
                "arrow buffer decoded length disagrees with prefix"
            )
        return out

    def node(col: int) -> tuple[int, int]:
        node_base = nodes[0] + 16 * col
        node_len = fb.i64(node_base)
        null_count = fb.i64(node_base + 8)
        if node_len != rows:
            raise ValueError("field node length != batch row count")
        if null_count < 0:
            raise ValueError("negative field-node null count")
        return node_len, null_count

    return rows, node, buf, body_start


def _read_utf8_column(
    buf, bi: int, rows: int
) -> tuple[tuple, bytes, int]:
    """(offsets, data, next buffer index) of a utf8 column whose
    validity buffer is ALREADY consumed by the caller."""
    offsets_b = buf(bi)
    data = buf(bi + 1)
    if len(offsets_b) < 4 * (rows + 1):
        raise ValueError("utf8 offsets buffer too short")
    offs = struct.unpack_from(f"<{rows + 1}i", offsets_b, 0)
    if offs[rows] > len(data):
        raise ValueError("utf8 offsets exceed data buffer")
    if rows and offs[0] < 0:
        raise ValueError("negative utf8 offset")
    return offs, data, bi + 2


def _decode_batch_values(
    payload: bytes,
    meta_start: int,
    meta_len: int,
    body_len: int,
    types: list[tuple],
    stats: dict,
    dicts: dict[int, list] | None = None,
) -> int:
    """Decode ONE record-batch message's values into ``stats``;
    returns the position just past the batch body."""
    fb = _FB(payload[meta_start : meta_start + meta_len])
    msg = fb.root()
    tag_pos = fb.field(msg, 1)
    if (0 if tag_pos is None else fb.u8(tag_pos)) != _MSG_RECORD_BATCH:
        raise ValueError("message is not a record batch")
    header = fb.table_field(msg, 2)
    if header is None:
        raise ValueError("record-batch message missing header")
    rows, node, buf, body_start = _walk_batch_header(
        payload, fb, header, body_len, meta_start, meta_len, len(types)
    )
    bi = 0
    for col, spec in enumerate(types):
        kind = spec[0]
        _, null_count = node(col)
        validity = buf(bi)
        bi += 1
        if kind == "int":
            bits = spec[1]
            data = buf(bi)
            bi += 1
            if len(data) < rows * (bits // 8):
                raise ValueError("int data buffer too short")
            vals = struct.unpack_from(f"<{rows}{_INT_LETTER[bits]}", data, 0)
            for i in range(rows):
                if _valid(validity, i, null_count):
                    stats["int_sum"] += vals[i]
                else:
                    stats["int_nulls"] += 1
        elif kind == "utf8":
            offs, data, bi = _read_utf8_column(buf, bi, rows)
            for i in range(rows):
                # the spec requires GLOBAL monotonicity (null slots
                # included) — and it rules out negative-index slicing
                if offs[i + 1] < offs[i]:
                    raise ValueError("non-monotone utf8 offsets")
                if _valid(validity, i, null_count):
                    stats["str_chars"] += len(
                        data[offs[i] : offs[i + 1]].decode("utf-8")
                    )
                else:
                    stats["str_nulls"] += 1
        else:  # dict: indices into a previously-delivered dictionary
            _, index_bits, vkind, dict_id = spec
            data = buf(bi)
            bi += 1
            if len(data) < rows * (index_bits // 8):
                raise ValueError("dictionary index buffer too short")
            idxs = struct.unpack_from(
                f"<{rows}{_INT_LETTER[index_bits]}", data, 0
            )
            if dicts is None or dict_id not in dicts:
                raise ValueError(
                    f"record batch references dictionary {dict_id} "
                    "before any dictionary batch delivered it"
                )
            values = dicts[dict_id]
            null_key = "str_nulls" if vkind[0] == "utf8" else "int_nulls"
            for i in range(rows):
                if not _valid(validity, i, null_count):
                    stats[null_key] += 1
                    continue
                ix = idxs[i]
                if ix < 0 or ix >= len(values):
                    raise ValueError(
                        f"dictionary index {ix} outside the "
                        f"{len(values)}-entry dictionary {dict_id}"
                    )
                v = values[ix]
                if v is None:  # a null dictionary VALUE is a null slot
                    stats[null_key] += 1
                elif vkind[0] == "utf8":
                    stats["str_chars"] += len(v)
                else:
                    stats["int_sum"] += v
    stats["n_rows"] += rows
    return body_start + body_len


def _decode_dict_batch(
    payload: bytes,
    meta_start: int,
    meta_len: int,
    body_len: int,
    vkinds: dict[int, tuple],
    dicts: dict[int, list],
) -> int:
    """Decode ONE DictionaryBatch message (Message.fbs: id(0, long),
    data(1, RecordBatch), isDelta(2, bool)) into ``dicts`` — replace
    on initial batches, APPEND on deltas.  The inner RecordBatch
    carries exactly one column whose type is the dictionary's VALUE
    type.  Returns the position just past the body."""
    fb = _FB(payload[meta_start : meta_start + meta_len])
    msg = fb.root()
    tag_pos = fb.field(msg, 1)
    if (0 if tag_pos is None else fb.u8(tag_pos)) != _MSG_DICT_BATCH:
        raise ValueError("message is not a dictionary batch")
    header = fb.table_field(msg, 2)
    if header is None:
        raise ValueError("dictionary-batch message missing header")
    id_pos = fb.field(header, 0)
    dict_id = 0 if id_pos is None else fb.i64(id_pos)
    if dict_id not in vkinds:
        raise ValueError(
            f"dictionary batch id {dict_id} matches no schema field"
        )
    delta_pos = fb.field(header, 2)
    is_delta = bool(fb.u8(delta_pos)) if delta_pos is not None else False
    rb = fb.table_field(header, 1)
    if rb is None:
        raise ValueError("dictionary batch without record batch data")
    rows, node, buf, body_start = _walk_batch_header(
        payload, fb, rb, body_len, meta_start, meta_len, 1
    )
    _, null_count = node(0)
    validity = buf(0)
    vkind = vkinds[dict_id]
    values: list = []
    if vkind[0] == "utf8":
        offs, data, _ = _read_utf8_column(buf, 1, rows)
        for i in range(rows):
            if offs[i + 1] < offs[i]:
                raise ValueError("non-monotone utf8 offsets")
            if _valid(validity, i, null_count):
                values.append(data[offs[i] : offs[i + 1]].decode("utf-8"))
            else:
                values.append(None)
    else:
        bits = vkind[1]
        data = buf(1)
        if len(data) < rows * (bits // 8):
            raise ValueError("int data buffer too short")
        vals = struct.unpack_from(f"<{rows}{_INT_LETTER[bits]}", data, 0)
        for i in range(rows):
            values.append(
                vals[i] if _valid(validity, i, null_count) else None
            )
    if is_delta:
        if dict_id not in dicts:
            raise ValueError(
                f"delta dictionary batch for id {dict_id} with no "
                "initial batch"
            )
        if len(dicts[dict_id]) + len(values) > 1 << 24:
            raise ValueError("dictionary grew past the 16M-entry cap")
        # in-place extend: concatenation would copy the whole growing
        # list per delta, quadratic over a long Flight feed
        dicts[dict_id].extend(values)
    else:
        # a second non-delta batch REPLACES the dictionary — the
        # stream format's defined semantics (the file format forbids
        # one, but the block list cannot prove provenance)
        if len(values) > 1 << 24:
            raise ValueError("dictionary grew past the 16M-entry cap")
        dicts[dict_id] = values
    return body_start + body_len


_MSG_SCHEMA = 1
_MSG_DICT_BATCH = 2


def decode_arrow_stream(payload: bytes) -> dict:
    """Decode the Arrow IPC STREAMING format (.arrows) — the
    footer-less on-the-wire twin of the file format: a Schema
    message first, then record-batch messages, then the
    end-of-stream marker (continuation + zero metadata length).
    This is the layout Flight/socket shipping uses, where no footer
    exists to seek to — schema state is carried forward instead.
    Shares the batch value decoder with :func:`decode_arrow_values`."""
    pos = 0
    n = len(payload)
    types: list[tuple[str, int]] | None = None
    n_batches = 0
    stats = {
        "n_rows": 0, "int_sum": 0, "int_nulls": 0,
        "str_chars": 0, "str_nulls": 0,
    }
    saw_eos = False
    dicts: dict[int, list] = {}
    vkinds: dict[int, tuple] = {}
    while pos < n:
        if pos + 4 > n:
            raise ValueError("truncated arrow stream message")
        (cont,) = struct.unpack_from("<I", payload, pos)
        if cont == 0xFFFFFFFF:
            if pos + 8 > n:
                raise ValueError("truncated arrow stream continuation")
            (meta_len,) = struct.unpack_from("<I", payload, pos + 4)
            meta_start = pos + 8
        else:
            meta_len = cont
            meta_start = pos + 4
        if meta_len == 0:
            saw_eos = True
            pos = meta_start
            break
        if meta_start + meta_len > n:
            raise ValueError("arrow stream metadata out of range")
        fb = _FB(payload[meta_start : meta_start + meta_len])
        msg = fb.root()
        tag_pos = fb.field(msg, 1)
        tag = 0 if tag_pos is None else fb.u8(tag_pos)
        body_pos = fb.field(msg, 3)
        body_len = 0 if body_pos is None else fb.i64(body_pos)
        if body_len < 0:
            raise ValueError("negative arrow message body length")
        if tag == _MSG_SCHEMA:
            if types is not None:
                raise ValueError("duplicate schema message in stream")
            schema_tbl = fb.table_field(msg, 2)
            if schema_tbl is None:
                raise ValueError("schema message without schema table")
            types = _schema_types(fb, schema_tbl)
            vkinds = _dict_value_kinds(types)
            pos = meta_start + meta_len + body_len
        elif tag == _MSG_RECORD_BATCH:
            if types is None:
                raise ValueError("record batch before schema message")
            pos = _decode_batch_values(
                payload, meta_start, meta_len, body_len, types, stats,
                dicts,
            )
            n_batches += 1
        elif tag == _MSG_DICT_BATCH:
            if types is None:
                raise ValueError("dictionary batch before schema message")
            pos = _decode_dict_batch(
                payload, meta_start, meta_len, body_len, vkinds, dicts
            )
        else:
            raise ValueError(f"unknown arrow stream message tag {tag}")
    if types is None:
        raise ValueError("arrow stream without schema message")
    if not saw_eos and pos != n:
        raise ValueError("arrow stream with trailing garbage")
    return {
        "n_batches": n_batches,
        "n_rows": stats["n_rows"],
        "int_sum": stats["int_sum"],
        "int_nulls": stats["int_nulls"],
        "str_chars": stats["str_chars"],
        "str_nulls": stats["str_nulls"],
        "payload_bytes": len(payload),
    }


def synth_arrow_stream_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``1 + seed%3`` batches of
    ``15 + (seed*7) % 40`` rows, same column recipe as
    :func:`synth_arrow_values_plan` (int64 nullable / int32 / utf8
    nullable)."""
    return {
        "n_batches": 1 + seed % 3,
        "rows_per_batch": 15 + (seed * 7) % 40,
    }


def synth_arrow_stream(seed: int) -> bytes:
    """A REAL Arrow IPC STREAM from the pyarrow writer."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    plan = synth_arrow_stream_plan(seed)
    n = plan["rows_per_batch"]
    schema = pa.schema(
        [
            pa.field("v64", pa.int64()),
            pa.field("v32", pa.int32()),
            pa.field("txt", pa.utf8()),
        ]
    )
    buf = io.BytesIO()
    with ipc.new_stream(buf, schema) as w:
        for b in range(plan["n_batches"]):
            v64 = [
                None
                if (seed + i) % 7 == 3
                else (seed * 11 + i * 13 + b * 3) % 2000 - 700
                for i in range(n)
            ]
            v32 = [(seed * 5 + i * 9 + b) % 500 for i in range(n)]
            txt = [
                None if (i + b) % 5 == 4 else f"t{(seed + i + b) % 50}"
                for i in range(n)
            ]
            w.write_batch(
                pa.record_batch(
                    [
                        pa.array(v64, pa.int64()),
                        pa.array(v32, pa.int32()),
                        pa.array(txt, pa.utf8()),
                    ],
                    schema=schema,
                )
            )
    return buf.getvalue()


def synth_arrow_values_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``1 + seed%2`` batches of
    ``20 + (seed*3) % 50`` rows with three columns — an int64
    ``(seed*11 + i*13 + b*3) % 2000 - 700`` (NULL when
    ``(seed+i)%7 == 3``), an int32 ``(seed*5 + i*9 + b) % 500``
    (never null), and a utf8 ``t{(seed+i+b) % 50}`` (NULL when
    ``(i+b)%5 == 4``).  Seed also rotates BodyCompression
    (round 13): ``seed % 3`` picks uncompressed / LZ4_FRAME / ZSTD
    bodies from the pyarrow writer — the VALUES (and so the oracle)
    are identical across the three, only the wire differs."""
    return {
        "n_batches": 1 + seed % 2,
        "rows_per_batch": 20 + (seed * 3) % 50,
        "compression": (None, "lz4", "zstd")[seed % 3],
    }


def synth_arrow_values(seed: int) -> bytes:
    """A REAL Arrow IPC file from the pyarrow writer with nullable
    int64/int32/utf8 columns varying per batch, body compression
    rotating uncompressed/lz4/zstd by seed."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    plan = synth_arrow_values_plan(seed)
    n = plan["rows_per_batch"]
    batches = []
    schema = pa.schema(
        [
            pa.field("v64", pa.int64()),
            pa.field("v32", pa.int32()),
            pa.field("txt", pa.utf8()),
        ]
    )
    for b in range(plan["n_batches"]):
        v64 = [
            None
            if (seed + i) % 7 == 3
            else (seed * 11 + i * 13 + b * 3) % 2000 - 700
            for i in range(n)
        ]
        v32 = [(seed * 5 + i * 9 + b) % 500 for i in range(n)]
        txt = [
            None if (i + b) % 5 == 4 else f"t{(seed + i + b) % 50}"
            for i in range(n)
        ]
        batches.append(
            pa.record_batch(
                [
                    pa.array(v64, pa.int64()),
                    pa.array(v32, pa.int32()),
                    pa.array(txt, pa.utf8()),
                ],
                schema=schema,
            )
        )
    buf = io.BytesIO()
    comp = plan["compression"]
    opts = ipc.IpcWriteOptions(compression=comp)
    with ipc.new_file(buf, schema, options=opts) as w:
        for rb in batches:
            w.write_batch(rb)
    return buf.getvalue()


def synth_arrow_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: 1 + seed % 3 batches of
    10 + (seed*3) % 40 rows, 2 + seed % 3 int64 columns."""
    return {
        "n_batches": 1 + seed % 3,
        "rows_per_batch": 10 + (seed * 3) % 40,
        "n_columns": 2 + seed % 3,
    }


def synth_arrow_ipc(seed: int) -> bytes:
    """A REAL Arrow IPC file from pyarrow's writer (independent
    producer), multiple record batches per file."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    plan = synth_arrow_plan(seed)
    n = plan["rows_per_batch"]
    cols = {
        f"c{j}": pa.array(
            [(seed + i * 7 + j) % 1000 for i in range(n)], pa.int64()
        )
        for j in range(plan["n_columns"])
    }
    table = pa.table(cols)
    buf = io.BytesIO()
    with ipc.new_file(buf, table.schema) as w:
        for _ in range(plan["n_batches"]):
            w.write_table(table)
    return buf.getvalue()


def synth_arrow_dict_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``1 + seed%2`` batches of
    ``20 + (seed*3) % 40`` rows; a dictionary<int32, utf8> column
    over ``3 + seed%4`` categories ``cat{k}`` with index
    ``(seed + i*7 + b) % K`` (NULL when ``(i+b)%6 == 5``), a
    dictionary<int8, int32> column over ``2 + seed%3`` codes
    ``seed + 100*k`` with index ``(i+b) % K2`` (never null), and a
    plain int64 ``(seed*11 + i*13 + b*5) % 3000 - 1000`` (NULL when
    ``(seed+i)%9 == 2``)."""
    return {
        "n_batches": 1 + seed % 2,
        "rows_per_batch": 20 + (seed * 3) % 40,
        "n_cats": 3 + seed % 4,
        "n_codes": 2 + seed % 3,
    }


def synth_arrow_dict(seed: int) -> bytes:
    """A REAL Arrow IPC FILE with DICTIONARY-ENCODED columns from
    the pyarrow writer — pyarrow's default for low-cardinality
    strings, and the round-9 verdict's #3 gap.  The dictionary is
    constant across batches (the file format forbids replacement),
    so the footer carries one dictionary block per id."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    plan = synth_arrow_dict_plan(seed)
    n, k, k2 = plan["rows_per_batch"], plan["n_cats"], plan["n_codes"]
    cat_values = pa.array([f"cat{j}" for j in range(k)], pa.utf8())
    code_values = pa.array([seed + 100 * j for j in range(k2)], pa.int32())
    schema = pa.schema(
        [
            pa.field("cat", pa.dictionary(pa.int32(), pa.utf8())),
            pa.field("code", pa.dictionary(pa.int8(), pa.int32())),
            pa.field("v64", pa.int64()),
        ]
    )
    buf = io.BytesIO()
    with ipc.new_file(buf, schema) as w:
        for b in range(plan["n_batches"]):
            cat_idx = pa.array(
                [
                    None if (i + b) % 6 == 5 else (seed + i * 7 + b) % k
                    for i in range(n)
                ],
                pa.int32(),
            )
            code_idx = pa.array([(i + b) % k2 for i in range(n)], pa.int8())
            v64 = pa.array(
                [
                    None
                    if (seed + i) % 9 == 2
                    else (seed * 11 + i * 13 + b * 5) % 3000 - 1000
                    for i in range(n)
                ],
                pa.int64(),
            )
            w.write_batch(
                pa.record_batch(
                    [
                        pa.DictionaryArray.from_arrays(cat_idx, cat_values),
                        pa.DictionaryArray.from_arrays(code_idx, code_values),
                        v64,
                    ],
                    schema=schema,
                )
            )
    return buf.getvalue()


def synth_arrow_dict_stream_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``1 + seed%3`` stream
    batches of ``15 + (seed*7) % 30`` rows; batch ``b`` indexes a
    GROWING dictionary of ``(3 + seed%3) + 2*b`` utf8 entries
    ``w{j}`` with index ``(seed + i*5 + b) % size_b`` (NULL when
    ``(i+b)%4 == 3``), plus a plain int64
    ``(seed*7 + i*11 + b*3) % 1000`` (NULL when ``(i+seed)%8 == 6``).
    The growth forces pyarrow to emit DELTA dictionary batches."""
    return {
        "n_batches": 1 + seed % 3,
        "rows_per_batch": 15 + (seed * 7) % 30,
        "k0": 3 + seed % 3,
    }


def synth_arrow_dict_stream(seed: int) -> bytes:
    """A REAL Arrow IPC STREAM with INITIAL + DELTA dictionary
    batches (``IpcWriteOptions(emit_dictionary_deltas=True)``): the
    dictionary grows by two entries every batch, so the wire carries
    one initial dictionary batch and ``n_batches - 1`` deltas —
    the accumulate-on-delta path a Flight feed exercises."""
    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    plan = synth_arrow_dict_stream_plan(seed)
    n, k0 = plan["rows_per_batch"], plan["k0"]
    schema = pa.schema(
        [
            pa.field("cat", pa.dictionary(pa.int32(), pa.utf8())),
            pa.field("v64", pa.int64()),
        ]
    )
    opts = ipc.IpcWriteOptions(emit_dictionary_deltas=True)
    buf = io.BytesIO()
    with ipc.new_stream(buf, schema, options=opts) as w:
        for b in range(plan["n_batches"]):
            size_b = k0 + 2 * b
            values = pa.array([f"w{j}" for j in range(size_b)], pa.utf8())
            idx = pa.array(
                [
                    None if (i + b) % 4 == 3 else (seed + i * 5 + b) % size_b
                    for i in range(n)
                ],
                pa.int32(),
            )
            v64 = pa.array(
                [
                    None
                    if (i + seed) % 8 == 6
                    else (seed * 7 + i * 11 + b * 3) % 1000
                    for i in range(n)
                ],
                pa.int64(),
            )
            w.write_batch(
                pa.record_batch(
                    [pa.DictionaryArray.from_arrays(idx, values), v64],
                    schema=schema,
                )
            )
    return buf.getvalue()
