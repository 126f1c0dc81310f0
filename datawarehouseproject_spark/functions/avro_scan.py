"""Avro OBJECT CONTAINER FILE reader, by hand — the row-major
interchange format of the Hadoop/Kafka world, and (with parquet, ORC,
Arrow IPC already covered) the last of the big-four table containers
this engine meets in a real lake.  Everything here is the public
Apache Avro 1.11 specification ("Object Container Files" +
"Binary Encoding"):

- header: magic ``Obj\\x01``, then file metadata as an Avro
  map<string, bytes> (``avro.schema`` = the writer schema JSON,
  ``avro.codec`` = null/deflate/snappy/...), then a 16-byte sync
  marker;
- maps encode as a series of blocks: zigzag-varint count (a NEGATIVE
  count means abs(count) items preceded by a long byte-size — the
  skippable form), the key/value pairs, then a terminating count 0;
- each data block: long record-count, long byte-length, the (possibly
  compressed) record bytes, then the 16-byte sync marker REPEATED —
  readers must verify it to resynchronize (and this one refuses on
  mismatch rather than resyncing silently);
- codecs: ``null``; ``deflate`` = RAW DEFLATE (RFC 1951, no zlib
  wrapper) decoded by stdlib zlib; ``snappy`` = raw snappy block
  PLUS a 4-byte BIG-endian CRC32 of the uncompressed bytes (spec
  quirk: the CRC is inside the block, after the compressed payload)
  decoded by the hand snappy decoder;
- primitive encodings: long/int = zigzag varint (the SAME zigzag the
  protobuf codec pins), string/bytes = long length + payload,
  double = 8-byte little-endian IEEE 754, boolean = one byte 0/1,
  null = zero bytes; union = zigzag branch index then the value.

The schema JSON is parsed (stdlib json) into a flat-record decode
plan supporting long/int/string/double/boolean and the
``["null", T]`` nullable union — the shape real flat Avro tables
have; anything else is a loud documented boundary ON THE FLAT PATH.
The generic nested decoder (``_parse_type_spec``/``_decode_spec``,
shared with the Iceberg manifest reader) additionally covers
records, arrays, maps, enums, fixed, and GENERAL unions (round 11),
so Kafka-archive-shaped schemas decode end to end.

Pinning: no Avro library ships in this container, so the layered
pattern from TFRecord applies — the writer below is hand-rolled from
the spec, the zigzag/varint layer is shared with the independently-
pinned protobuf codec, the deflate/snappy layers are produced by
stdlib zlib / re-verified against the snappy decoder's own producer
pins, and every aggregate is recomputed by the DuckDB oracle from
the plan formulas."""

from __future__ import annotations

import json
import struct
import zlib

_MAGIC = b"Obj\x01"
_MAX_BLOCK = 1 << 26
_MAX_TOTAL = 1 << 28
_MAX_RECORDS = 1 << 22
_SUPPORTED = {"long", "int", "string", "double", "boolean"}


def _zigzag_read(data: bytes, pos: int) -> tuple[int, int]:
    """Avro long: little-endian base-128 varint, zigzag-mapped.
    Masked to 64 bits BEFORE the zigzag unmap — a 10-byte varint can
    carry up to 70 raw bits, and an unmasked int past int64 escapes
    the quarantine later as Arrow's OverflowError (the exact lesson
    the protobuf/parquet varint readers already pin)."""
    out = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated avro varint")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 63:
            raise ValueError("avro varint too long")
    out &= (1 << 64) - 1
    return (out >> 1) ^ -(out & 1), pos


def _zigzag_write(v: int) -> bytes:
    u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _zigzag_read(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError("avro bytes length out of bounds")
    return data[pos : pos + n], pos + n


def _read_meta_map(data: bytes, pos: int) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _zigzag_read(data, pos)
        if count == 0:
            return meta, pos
        if count < 0:
            count = -count
            _, pos = _zigzag_read(data, pos)  # skippable byte size
        if count > 1 << 16:
            raise ValueError("avro metadata map too large")
        for _ in range(count):
            k, pos = _read_bytes(data, pos)
            v, pos = _read_bytes(data, pos)
            meta[k.decode("utf-8", "replace")] = v


def parse_avro_schema(schema_json: bytes) -> list[tuple[str, str, int]]:
    """Writer schema -> [(field name, primitive type, null_branch)]
    where ``null_branch`` is the union index of "null" (-1 for
    non-nullable fields) — BOTH ``["null", T]`` and ``[T, "null"]``
    orders are legal Avro and encode different branch numbers.  Flat
    records of long/int/string/double/boolean only; anything else is
    a loud boundary."""
    try:
        schema = json.loads(schema_json)
    except json.JSONDecodeError as e:
        raise ValueError(f"avro schema is not JSON: {e}") from None
    if not isinstance(schema, dict) or schema.get("type") != "record":
        raise ValueError("avro schema is not a record (boundary)")
    fields = schema.get("fields")
    if not isinstance(fields, list) or not fields:
        raise ValueError("avro record schema without fields")
    plan: list[tuple[str, str, int]] = []
    for f in fields:
        if not isinstance(f, dict) or "name" not in f or "type" not in f:
            raise ValueError("malformed avro field")
        t = f["type"]
        null_branch = -1
        if isinstance(t, list):
            if len(t) != 2 or "null" not in t:
                raise ValueError(
                    "avro union beyond ['null', T] unsupported (boundary)"
                )
            null_branch = t.index("null")
            t = t[1 - null_branch]
        if not isinstance(t, str):
            # A dict/list branch (e.g. ['null', {'type': 'record', ...}])
            # would raise TypeError on the set-membership test below and
            # escape the ValueError-only quarantine.
            raise ValueError("avro type unsupported (boundary)")
        if t not in _SUPPORTED:
            raise ValueError(f"avro type {t!r} unsupported (boundary)")
        plan.append((str(f["name"]), t, null_branch))
    return plan


def _decode_value(data: bytes, pos: int, typ: str):
    if typ == "long" or typ == "int":
        return _zigzag_read(data, pos)
    if typ == "string":
        raw, pos = _read_bytes(data, pos)
        return raw.decode("utf-8"), pos
    if typ == "double":
        if pos + 8 > len(data):
            raise ValueError("truncated avro double")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if typ == "float":
        if pos + 4 > len(data):
            raise ValueError("truncated avro float")
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    # boolean
    if pos >= len(data):
        raise ValueError("truncated avro boolean")
    b = data[pos]
    if b not in (0, 1):
        raise ValueError(f"avro boolean byte {b} invalid")
    return bool(b), pos + 1


def _iter_avro_blocks(payload: bytes):
    """The SHARED container walk both record decoders consume: yields
    the metadata map first, then (count, decoded body bytes) per
    block — magic, metadata map, codec gate, sync fencing, per-block
    codec decode, and the cumulative output cap live HERE ONLY, so a
    framing fix cannot diverge between the flat and nested readers."""
    if len(payload) < 20 or payload[:4] != _MAGIC:
        raise ValueError("not an avro object container (bad magic)")
    meta, pos = _read_meta_map(payload, 4)
    if "avro.schema" not in meta:
        raise ValueError("avro container without avro.schema")
    codec = meta.get("avro.codec", b"null").decode("utf-8", "replace")
    if codec not in ("null", "deflate", "snappy", "zstandard", "bzip2"):
        raise ValueError(f"avro codec {codec!r} unsupported (boundary)")
    if pos + 16 > len(payload):
        raise ValueError("truncated avro sync marker")
    sync = payload[pos : pos + 16]
    pos += 16
    n = len(payload)
    total_out = 0  # cumulative decoded bytes across ALL blocks
    total_records = 0
    yield meta
    while pos < n:
        count, pos = _zigzag_read(payload, pos)
        size, pos = _zigzag_read(payload, pos)
        if count <= 0 or size < 0 or size > _MAX_BLOCK:
            raise ValueError("avro block count/size out of range")
        total_records += count
        if total_records > _MAX_RECORDS:
            # byte caps alone let a container declare billions of
            # zero-byte records (bomb class): cap the record count too
            raise ValueError("avro container exceeds record-count cap")
        if pos + size + 16 > n:
            raise ValueError("avro block overruns payload")
        body = payload[pos : pos + size]
        pos += size
        if payload[pos : pos + 16] != sync:
            raise ValueError("avro sync marker mismatch")
        pos += 16
        if codec == "deflate":
            d = zlib.decompressobj(wbits=-15)
            try:
                body = d.decompress(body, _MAX_BLOCK)
            except zlib.error as e:
                raise ValueError(f"avro deflate block: {e}") from None
            if not d.eof or d.unconsumed_tail:
                raise ValueError("avro deflate block truncated/oversized")
            if d.unused_data:
                # eof with leftover bytes: garbage smuggled after the
                # stream inside the declared block length
                raise ValueError("avro deflate block has trailing bytes")
        elif codec == "snappy":
            if len(body) < 4:
                raise ValueError("avro snappy block shorter than its CRC")
            from .snappy import decode_snappy

            crc = int.from_bytes(body[-4:], "big")
            body = decode_snappy(body[:-4], max_output=_MAX_BLOCK)
            if zlib.crc32(body) & 0xFFFFFFFF != crc:
                raise ValueError("avro snappy block CRC mismatch")
        elif codec == "zstandard":
            # spec: each block is one zstd frame, no extra framing
            # (round 13 — the hand decoder was already in the repo)
            from .zstd_codec import decode_zstd

            body = decode_zstd(body, max_output=_MAX_BLOCK)
        elif codec == "bzip2":
            from .bzip2 import decode_bz2

            body = decode_bz2(body, max_output=_MAX_BLOCK)
        total_out += len(body)
        if total_out > _MAX_TOTAL:
            # per-block caps alone let many small blocks expand a
            # tiny payload to gigabytes (bomb class): cap the SUM
            raise ValueError("avro container exceeds cumulative cap")
        yield count, body


def iter_avro_records(payload: bytes):
    """Yield decoded record dicts (the FLAT fixture schema path);
    framing/codec/sync handling is :func:`_iter_avro_blocks`'s."""
    blocks = _iter_avro_blocks(payload)
    meta = next(blocks)
    plan = parse_avro_schema(meta["avro.schema"])
    for count, body in blocks:
        bpos = 0
        for _ in range(count):
            rec = {}
            for name, typ, null_branch in plan:
                if null_branch >= 0:
                    branch, bpos = _zigzag_read(body, bpos)
                    if branch == null_branch:
                        rec[name] = None
                        continue
                    if branch != 1 - null_branch:
                        raise ValueError(
                            f"avro union branch {branch} out of range"
                        )
                rec[name], bpos = _decode_value(body, bpos, typ)
            yield rec
        if bpos != len(body):
            raise ValueError(
                f"avro block decoded {bpos} of {len(body)} bytes"
            )


def scan_avro(payload: bytes) -> dict:
    """Scan for the ``avro_container_scan`` query over the fixture
    schema (id long, name string, ratio double, ok boolean, opt
    nullable long): exact aggregates per field family."""
    n_records = 0
    id_sum = 0
    name_chars = 0
    ratio_sum = 0.0
    n_ok = 0
    n_opt_null = 0
    opt_sum = 0
    for rec in iter_avro_records(payload):
        if set(rec) != {"id", "name", "ratio", "ok", "opt"}:
            raise ValueError("avro record does not match fixture schema")
        n_records += 1
        id_sum += rec["id"]
        name_chars += len(rec["name"])
        ratio_sum += rec["ratio"]
        n_ok += 1 if rec["ok"] else 0
        if rec["opt"] is None:
            n_opt_null += 1
        else:
            opt_sum += rec["opt"]
    if n_records == 0:
        raise ValueError("avro container with no records")
    # The per-record values are int64-masked, but the accumulated sums
    # can still leave int64 range; Arrow's LongType conversion would
    # raise OverflowError AFTER the ValueError quarantine, killing the
    # task. Fence here so a hostile container quarantines instead.
    for label, s in (("id_sum", id_sum), ("opt_sum", opt_sum)):
        if not (-(2**63) <= s < 2**63):
            raise ValueError(f"avro {label} overflows int64 (boundary)")
    return {
        "n_records": n_records,
        "id_sum": id_sum,
        "name_chars": name_chars,
        "ratio_sum": ratio_sum,
        "n_ok": n_ok,
        "n_opt_null": n_opt_null,
        "opt_sum": opt_sum,
        "payload_bytes": len(payload),
    }


_SCHEMA_JSON = json.dumps(
    {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "ratio", "type": "double"},
            {"name": "ok", "type": "boolean"},
            {"name": "opt", "type": ["null", "long"]},
        ],
    }
).encode()


def synth_avro_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``2 + seed%3`` blocks of
    ``12 + (seed*7) % 40`` records; record (b, i) has id =
    ``(seed*13 + i*7 + b) % 5000 - 1000``, name = ``'doc-' + (seed +
    i + b) % 37``, ratio = ``((seed + i*3 + b) % 16) * 0.25`` (exact
    in binary), ok = ``(i + b) % 3 == 0``, opt NULL when
    ``(i + seed) % 5 == 2`` else ``(i * 11 + b) % 400``.  Codec
    rotates null/deflate/snappy by ``seed % 3``."""
    return {
        "n_blocks": 2 + seed % 3,
        "recs_per_block": 12 + (seed * 7) % 40,
        "codec": ("null", "deflate", "snappy")[seed % 3],
    }


def _encode_record(seed: int, i: int, b: int) -> bytes:
    out = bytearray()
    out += _zigzag_write((seed * 13 + i * 7 + b) % 5000 - 1000)
    name = f"doc-{(seed + i + b) % 37}".encode()
    out += _zigzag_write(len(name)) + name
    out += struct.pack("<d", ((seed + i * 3 + b) % 16) * 0.25)
    out += b"\x01" if (i + b) % 3 == 0 else b"\x00"
    if (i + seed) % 5 == 2:
        out += _zigzag_write(0)  # union branch: null
    else:
        out += _zigzag_write(1) + _zigzag_write((i * 11 + b) % 400)
    return bytes(out)


def synth_avro(seed: int) -> bytes:
    """An Avro object container hand-assembled from the spec (no
    Avro library ships here — the TFRecord layered-pinning pattern):
    metadata map with the schema JSON and codec, deterministic sync
    marker, multi-block body.  The snappy layer is produced by
    pyarrow (libsnappy) — independent of the hand decoder."""
    plan = synth_avro_plan(seed)
    sync = bytes((seed * 31 + j * 7 + 3) % 256 for j in range(16))
    out = bytearray(_MAGIC)
    # metadata map: one block of two entries, then the 0 terminator
    out += _zigzag_write(2)
    for k, v in (
        (b"avro.schema", _SCHEMA_JSON),
        (b"avro.codec", plan["codec"].encode()),
    ):
        out += _zigzag_write(len(k)) + k
        out += _zigzag_write(len(v)) + v
    out += _zigzag_write(0)
    out += sync
    for b in range(plan["n_blocks"]):
        body = b"".join(
            _encode_record(seed, i, b)
            for i in range(plan["recs_per_block"])
        )
        if plan["codec"] == "deflate":
            comp = zlib.compressobj(9, zlib.DEFLATED, -15)
            body = comp.compress(body) + comp.flush()
        elif plan["codec"] == "snappy":
            import pyarrow as pa

            raw_crc = struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
            body = bytes(pa.Codec("snappy").compress(body)) + raw_crc
        out += _zigzag_write(plan["recs_per_block"])
        out += _zigzag_write(len(body))
        out += body
        out += sync
    return bytes(out)


# ---------------------------------------------------------------------------
# Generic (nested) decode — rounds out the flat fixture reader for
# schemas real metadata formats use: nested records, arrays of
# records (how Iceberg stores its non-string-key "maps"), and
# ["null", T] unions at any depth.  Same binary encoding rules.
# ---------------------------------------------------------------------------

_MAX_SCHEMA_DEPTH = 16


def _named_keys(t: dict) -> set[str]:
    """The lookup keys a named type (record/enum/fixed) defines: its
    bare name plus the namespace-qualified fullname (Avro spec
    "Names" — a dotted name is already full and ignores the
    enclosing namespace)."""
    nm = t.get("name")
    if not isinstance(nm, str) or not nm:
        raise ValueError("avro named type without a name")
    keys = {nm}
    ns = t.get("namespace")
    if isinstance(ns, str) and ns and "." not in nm:
        keys.add(f"{ns}.{nm}")
    return keys


def _parse_type_spec(t, depth: int = 0, named: dict | None = None):
    """Schema JSON fragment -> decode-spec tree:
    ('prim', name) | ('record', [(field, spec), ...]) |
    ('array', item_spec) | ('map', value_spec) |
    ('enum', (symbols...)) | ('fixed', size) |
    ('union', [branch_spec, ...]).

    Round 11 (VERDICT r10 item 4): the full complex-type set — maps,
    enums, fixed, and GENERAL unions (any branch count/order, not
    just ``['null', T]``) — on the shared container path; real
    Kafka-archive schemas hit these immediately.

    Round 12 (VERDICT r11 item 4): NAMED-TYPE REFERENCES — a
    previously defined record/enum/fixed reused by NAME (standard in
    real Kafka registries).  ``named`` threads the definition
    environment; redefining a name is the spec violation it sounds
    like and quarantines.

    Round 13 (VERDICT r12 item 6): BOUNDED-DEPTH RECURSIVE named
    types — a reference to an in-progress record (the linked-list /
    tree shape: ``Node{value, next: [null, Node]}``) returns a LAZY
    ``('ref', name, env)`` node resolved at decode time, when the
    env's entry has been completed.  Recursion is bounded by the
    VALUE depth cap in :func:`_decode_spec` (2x schema depth = 32
    nesting levels) — a deeper value quarantines loudly, so a crafted
    body cannot stack-overflow the decoder."""
    if named is None:
        named = {}
    if depth > _MAX_SCHEMA_DEPTH:
        raise ValueError("avro schema nests too deep")
    if isinstance(t, str):
        if t in _SUPPORTED or t in ("bytes", "null", "float"):
            return ("prim", t)
        if t in named:
            spec = named[t]
            if spec is None:
                # in-progress definition: a RECURSIVE reference —
                # resolve lazily at decode time (bounded there)
                return ("ref", t, named)
            return spec
        raise ValueError(f"avro type {t!r} unsupported (boundary)")
    if isinstance(t, list):
        if not 1 <= len(t) <= 32:
            raise ValueError("avro union branch count out of range")
        return (
            "union",
            [_parse_type_spec(b, depth + 1, named) for b in t],
        )
    if isinstance(t, dict):
        kind = t.get("type")
        if not isinstance(kind, str):
            raise ValueError("avro type name is not a string")
        if kind in ("record", "enum", "fixed"):
            keys = _named_keys(t)
            for k in keys:
                if k in named:
                    raise ValueError(f"avro named type {k!r} redefined")
        if kind == "record":
            fields = t.get("fields")
            # a NESTED record with an EMPTY field list is spec-legal
            # and decodes zero bytes (Iceberg's data_file.partition
            # on an unpartitioned table is exactly this shape —
            # round 14); a TOP-LEVEL one decodes nothing and stays
            # quarantined
            if not isinstance(fields, list) \
                    or (not fields and depth == 0):
                raise ValueError("avro nested record without fields")
            for k in keys:
                named[k] = None  # in-progress sentinel
            out = []
            for f in fields:
                # the schema arrives inside untrusted payload bytes:
                # shape errors must quarantine, not KeyError/TypeError
                if not isinstance(f, dict) or "name" not in f \
                        or "type" not in f:
                    raise ValueError("malformed avro field")
                out.append(
                    (
                        str(f["name"]),
                        _parse_type_spec(f["type"], depth + 1, named),
                    )
                )
            spec = ("record", out)
            for k in keys:
                named[k] = spec
            return spec
        if kind == "array":
            return (
                "array",
                _parse_type_spec(t.get("items"), depth + 1, named),
            )
        if kind == "map":
            return (
                "map",
                _parse_type_spec(t.get("values"), depth + 1, named),
            )
        if kind == "enum":
            symbols = t.get("symbols")
            if (
                not isinstance(symbols, list)
                or not symbols
                or len(symbols) > 1 << 12
                or not all(isinstance(s, str) for s in symbols)
            ):
                raise ValueError("avro enum symbols malformed")
            spec = ("enum", tuple(symbols))
            for k in keys:
                named[k] = spec
            return spec
        if kind == "fixed":
            size = t.get("size")
            if (
                not isinstance(size, int) or isinstance(size, bool)
                or not 0 <= size <= 1 << 20
            ):
                raise ValueError("avro fixed size out of range")
            spec = ("fixed", size)
            for k in keys:
                named[k] = spec
            return spec
        if kind in _SUPPORTED or kind in ("bytes", "float"):
            return ("prim", kind)  # {"type": "long"} spelling
    raise ValueError(f"avro type {t!r} unsupported (boundary)")


def _decode_spec(data: bytes, pos: int, spec, depth: int = 0):
    if depth > 2 * _MAX_SCHEMA_DEPTH:
        raise ValueError("avro value nests too deep")
    kind = spec[0]
    if kind == "prim":
        if spec[1] == "null":
            return None, pos
        if spec[1] == "bytes":
            return _read_bytes(data, pos)
        return _decode_value(data, pos, spec[1])
    if kind == "ref":
        target = spec[2].get(spec[1])
        if target is None or not isinstance(target, tuple):
            raise ValueError("avro named-type reference unresolved")
        return _decode_spec(data, pos, target, depth + 1)
    if kind == "union":
        branch, pos = _zigzag_read(data, pos)
        if not 0 <= branch < len(spec[1]):
            raise ValueError(f"avro union branch {branch} out of range")
        return _decode_spec(data, pos, spec[1][branch], depth + 1)
    if kind == "record":
        rec = {}
        for name, fspec in spec[1]:
            rec[name], pos = _decode_spec(data, pos, fspec, depth + 1)
        return rec, pos
    if kind == "enum":
        idx, pos = _zigzag_read(data, pos)
        if not 0 <= idx < len(spec[1]):
            raise ValueError(f"avro enum index {idx} out of range")
        return spec[1][idx], pos
    if kind == "fixed":
        if pos + spec[1] > len(data):
            raise ValueError("truncated avro fixed")
        return data[pos : pos + spec[1]], pos + spec[1]
    if kind == "map":
        # same count-prefixed block framing as array, keys are strings
        out = {}
        while True:
            count, pos = _zigzag_read(data, pos)
            if count == 0:
                return out, pos
            if count < 0:
                count = -count
                _, pos = _zigzag_read(data, pos)  # block byte size
            if count > 1 << 24 or len(out) + count > 1 << 24:
                raise ValueError("avro map too large")
            for _ in range(count):
                kraw, pos = _read_bytes(data, pos)
                key = kraw.decode("utf-8")
                out[key], pos = _decode_spec(data, pos, spec[1], depth + 1)
    # array: count-prefixed blocks, negative count = skippable form,
    # terminated by count 0
    items = []
    while True:
        count, pos = _zigzag_read(data, pos)
        if count == 0:
            return items, pos
        if count < 0:
            count = -count
            _, pos = _zigzag_read(data, pos)  # block byte size
        if count > 1 << 24 or len(items) + count > 1 << 24:
            raise ValueError("avro array too large")
        for _ in range(count):
            v, pos = _decode_spec(data, pos, spec[1], depth + 1)
            items.append(v)


def _decode_records(meta: dict, blocks) -> list[dict]:
    """Decode core shared by :func:`decode_avro_blocks` and the
    logical-type scan: ONE schema parse, one block walk (review r11
    pass 5: a second walk with a second schema validator is exactly
    the fence-drift class that produced the duplicate-field
    TypeError escape)."""
    try:
        schema = json.loads(meta["avro.schema"])
    except json.JSONDecodeError as e:
        raise ValueError(f"avro schema is not JSON: {e}") from None
    spec = _parse_type_spec(schema)
    if spec[0] != "record":
        raise ValueError("avro top-level schema is not a record")
    records: list[dict] = []
    for count, body in blocks:
        bpos = 0
        for _ in range(count):
            rec, bpos = _decode_spec(body, bpos, spec)
            records.append(rec)
        if bpos != len(body):
            raise ValueError(
                f"avro block decoded {bpos} of {len(body)} bytes"
            )
    if not records:
        raise ValueError("avro container with no records")
    return records


def decode_avro_blocks(payload: bytes) -> list[dict]:
    """Decode EVERY record of an Avro container through the generic
    (nested-capable) decoder.  The top-level schema must be a record;
    framing/codec/sync handling and the byte/record caps are
    :func:`_iter_avro_blocks`'s — one walk, two decoders."""
    blocks = _iter_avro_blocks(payload)
    meta = next(blocks)
    return _decode_records(meta, blocks)


def encode_avro_container(
    schema_json: bytes,
    encoded_records: list[bytes],
    sync: bytes,
    codec: str = "null",
) -> bytes:
    """Assemble a container around pre-encoded record bytes (the
    writer half the Iceberg fixtures use); ``codec`` may also be
    ``deflate`` (raw DEFLATE per the spec, via stdlib zlib) or
    ``zstandard`` (one zstd frame per block, produced by pyarrow's
    Codec — an independent compressor; the hand decoder reads it)."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    if codec not in ("null", "deflate", "zstandard"):
        raise ValueError(f"encoder codec {codec!r} unsupported")
    out = bytearray(_MAGIC)
    out += _zigzag_write(2)
    for k, v in (
        (b"avro.schema", schema_json),
        (b"avro.codec", codec.encode()),
    ):
        out += _zigzag_write(len(k)) + k
        out += _zigzag_write(len(v)) + v
    out += _zigzag_write(0)
    out += sync
    body = b"".join(encoded_records)
    if codec == "deflate":
        body = zlib.compress(body)[2:-4]  # strip zlib header + adler
    elif codec == "zstandard":
        import pyarrow as pa

        body = pa.Codec("zstd").compress(body, asbytes=True)
    out += _zigzag_write(len(encoded_records))
    out += _zigzag_write(len(body))
    out += body
    out += sync
    return bytes(out)


# ---------------------------------------------------------------------------
# complex-type container fixture (round 11): array/map/enum/fixed +
# general union through the SAME generic decoder the Iceberg
# manifests use
# ---------------------------------------------------------------------------

def _complex_schema_json(seed: int) -> bytes:
    """The complex-type fixture schema; ODD seeds append a field
    that reuses the ``Fp`` fixed type BY NAME (round 12 — VERDICT
    r11 item 4: named-type references, standard in real Kafka
    registries)."""
    fields = [
        {"name": "id", "type": "long"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {
            "name": "color",
            "type": {
                "type": "enum",
                "name": "Color",
                "symbols": ["RED", "GREEN", "BLUE"],
            },
        },
        {
            "name": "fp",
            "type": {"type": "fixed", "name": "Fp", "size": 4},
        },
        # GENERAL union: three branches, null LAST (the
        # ['null', T] fast path never sees this shape)
        {"name": "u", "type": ["long", "string", "null"]},
    ]
    if seed % 2 == 1:
        fields.append({"name": "fp2", "type": "Fp"})
    if seed % 3 == 2:
        # round 13 (VERDICT r12 item 6): a BOUNDED RECURSIVE named
        # type — the linked-list shape; depth is value-driven and
        # capped by the decoder, the schema itself is legal Avro
        fields.append({
            "name": "chain",
            "type": ["null", {
                "type": "record", "name": "Node",
                "fields": [
                    {"name": "v", "type": "long"},
                    {"name": "next", "type": ["null", "Node"]},
                ],
            }],
        })
    return json.dumps(
        {"type": "record", "name": "event", "fields": fields}
    ).encode()


#: the even-seed (no named reference) schema shape, kept for tests
_COMPLEX_SCHEMA_JSON = _complex_schema_json(0)


def synth_avro_complex_plan(seed: int) -> dict:
    """Mirrored in the DuckDB oracle: ``10 + seed%20`` records;
    record i carries ``i%4`` tags ``t{(i+j)%10}`` (2 chars each),
    ``i%3`` map entries ``p{j} -> (i*7 + j*13) % 1000``, enum index
    ``(seed+i)%3``, fixed bytes ``(seed+i+b)%256``, and union branch
    ``i%3`` (long ``seed+i`` / string ``u{i}`` / null).  ODD seeds
    add ``fp2`` (the ``Fp`` fixed reused by NAME) with bytes
    ``(i+b)%256`` — its contribution lands in ``fp_sum``.

    Round 13: seeds with ``seed%3 == 2`` add ``chain`` — a BOUNDED
    RECURSIVE linked list (``Node{v, next:[null,Node]}``) of depth
    ``i%4`` whose node k carries ``(i*3+k) % 100``; and the
    container codec rotates ``(seed>>1)%3`` through null / deflate /
    zstandard (the zstd blocks compressed by pyarrow's codec and
    decoded by :func:`.zstd_codec.decode_zstd`)."""
    n = 10 + seed % 20
    return {
        "n_records": n,
        "has_fp2": seed % 2 == 1,
        "has_chain": seed % 3 == 2,
        "codec": ("null", "deflate", "zstandard")[(seed >> 1) % 3],
    }


def synth_avro_complex(seed: int) -> bytes:
    plan = synth_avro_complex_plan(seed)
    n = plan["n_records"]
    recs = []
    for i in range(n):
        body = bytearray()
        body += _zigzag_write(seed * 1000 + i)  # id
        n_tags = i % 4
        if n_tags:
            body += _zigzag_write(n_tags)
            for j in range(n_tags):
                tag = f"t{(i + j) % 10}".encode()
                body += _zigzag_write(len(tag)) + tag
        body += _zigzag_write(0)  # array terminator
        n_props = i % 3
        if n_props:
            body += _zigzag_write(n_props)
            for j in range(n_props):
                key = f"p{j}".encode()
                body += _zigzag_write(len(key)) + key
                body += _zigzag_write((i * 7 + j * 13) % 1000)
        body += _zigzag_write(0)  # map terminator
        body += _zigzag_write((seed + i) % 3)  # enum index
        body += bytes((seed + i + b) % 256 for b in range(4))  # fixed
        branch = i % 3
        body += _zigzag_write(branch)
        if branch == 0:
            body += _zigzag_write(seed + i)
        elif branch == 1:
            s = f"u{i}".encode()
            body += _zigzag_write(len(s)) + s
        if plan["has_fp2"]:
            body += bytes((i + b) % 256 for b in range(4))
        if plan["has_chain"]:
            depth = i % 4
            if depth == 0:
                body += _zigzag_write(0)  # chain = null
            else:
                body += _zigzag_write(1)  # chain = Node
                for k in range(depth):
                    body += _zigzag_write((i * 3 + k) % 100)
                    body += _zigzag_write(1 if k < depth - 1 else 0)
        recs.append(bytes(body))
    sync = bytes((seed * 13 + j * 3 + 7) % 256 for j in range(16))
    return encode_avro_container(
        _complex_schema_json(seed), recs, sync, codec=plan["codec"]
    )


def scan_avro_complex(payload: bytes) -> dict:
    """Aggregates over every complex-typed field — each one failing
    if its decoder mis-frames (array/map block terminators, enum
    range, fixed width, union branch selection)."""
    records = decode_avro_blocks(payload)
    n = len(records)
    tag_count = tag_chars = 0
    prop_count = prop_sum = 0
    color_hist = {"RED": 0, "GREEN": 0, "BLUE": 0}
    fp_sum = 0
    u_long_sum = u_str_chars = u_nulls = 0
    id_sum = 0
    chain_nodes = chain_sum = 0
    base_keys = {"id", "tags", "props", "color", "fp", "u"}
    for rec in records:
        if set(rec) - {"fp2", "chain"} != base_keys:
            raise ValueError("avro record does not match complex schema")
        if not isinstance(rec["id"], int):
            raise ValueError("complex id not an integer")
        id_sum += rec["id"]
        tags = rec["tags"]
        if not isinstance(tags, list):
            raise ValueError("tags not a list")
        tag_count += len(tags)
        for t in tags:
            if not isinstance(t, str):
                raise ValueError("tag not a string")
            tag_chars += len(t)
        props = rec["props"]
        if not isinstance(props, dict):
            raise ValueError("props not a map")
        prop_count += len(props)
        for v in props.values():
            if not isinstance(v, int):
                raise ValueError("prop value not an integer")
            prop_sum += v
        color = rec["color"]
        if color not in color_hist:
            raise ValueError(f"enum symbol {color!r} out of range")
        color_hist[color] += 1
        fp = rec["fp"]
        if not isinstance(fp, bytes) or len(fp) != 4:
            raise ValueError("fixed field malformed")
        fp_sum += sum(fp)
        if "fp2" in rec:
            # the name-reused Fp: MUST decode at the same 4-byte
            # width the original definition declared
            fp2 = rec["fp2"]
            if not isinstance(fp2, bytes) or len(fp2) != 4:
                raise ValueError("named-reference fixed malformed")
            fp_sum += sum(fp2)
        u = rec["u"]
        if u is None:
            u_nulls += 1
        elif isinstance(u, int):
            u_long_sum += u
        elif isinstance(u, str):
            u_str_chars += len(u)
        else:
            raise ValueError("union value of unexpected type")
        node = rec.get("chain")
        hops = 0
        while node is not None:
            # the recursive named type, value-bounded: the decoder's
            # depth cap already refused anything pathological, but a
            # local hop cap keeps this WALK safe under drift too
            hops += 1
            if hops > 64:
                raise ValueError("chain walk exceeds hop cap")
            if not isinstance(node, dict) or "v" not in node:
                raise ValueError("chain node malformed")
            v = node["v"]
            if not isinstance(v, int):
                raise ValueError("chain node value not an integer")
            chain_nodes += 1
            chain_sum += v
            node = node.get("next")
    for label, s in (
        ("id_sum", id_sum),
        ("prop_sum", prop_sum),
        ("u_long_sum", u_long_sum),
    ):
        if not (-(2**63) <= s < 2**63):
            raise ValueError(f"avro {label} overflows int64 (boundary)")
    return {
        "n_records": n,
        "id_sum": id_sum,
        "tag_count": tag_count,
        "tag_chars": tag_chars,
        "prop_count": prop_count,
        "prop_sum": prop_sum,
        "n_red": color_hist["RED"],
        "n_green": color_hist["GREEN"],
        "n_blue": color_hist["BLUE"],
        "fp_sum": fp_sum,
        "u_long_sum": u_long_sum,
        "u_str_chars": u_str_chars,
        "u_nulls": u_nulls,
        "chain_nodes": chain_nodes,
        "chain_sum": chain_sum,
    }


# ---------------------------------------------------------------------------
# logical types (round 11): date / timestamp-micros / decimal — the
# annotations real Kafka-archive schemas carry on top of the base
# primitives (Avro 1.11 spec, "Logical Types")
# ---------------------------------------------------------------------------

_LOGICAL_SCHEMA_JSON = json.dumps(
    {
        "type": "record",
        "name": "txn",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "ts",
                "type": {
                    "type": "long",
                    "logicalType": "timestamp-micros",
                },
            },
            {
                "name": "amount",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 9,
                    "scale": 2,
                },
            },
        ],
    }
).encode()


def parse_logical_types(schema_json: bytes) -> dict[str, tuple]:
    """field name -> (base type, logical type, precision, scale).

    The spec: ``date`` annotates int (days since epoch),
    ``timestamp-micros`` annotates long, ``decimal`` annotates bytes
    (big-endian two's-complement unscaled value) and REQUIRES a
    valid precision; an invalid logical-type annotation must be
    IGNORED per spec ("implementations must use the underlying type")
    — except decimal-without-precision which this reader treats as a
    loud boundary rather than silently reinterpreting money bytes."""
    try:
        schema = json.loads(schema_json)
    except json.JSONDecodeError as e:
        raise ValueError(f"avro schema is not JSON: {e}") from None
    if not isinstance(schema, dict) or not isinstance(
        schema.get("fields"), list
    ):
        raise ValueError("avro schema is not a record (boundary)")
    out: dict[str, tuple] = {}
    for f in schema["fields"]:
        if not isinstance(f, dict):
            raise ValueError("malformed avro field")
        t = f.get("type")
        if not isinstance(t, dict):
            continue
        lt = t.get("logicalType")
        if lt is None:
            continue
        base = t.get("type")
        name = str(f.get("name"))
        if lt == "date" and base == "int":
            out[name] = ("int", "date", None, None)
        elif lt == "timestamp-micros" and base == "long":
            out[name] = ("long", "timestamp-micros", None, None)
        elif lt == "decimal" and base == "bytes":
            prec, scale = t.get("precision"), t.get("scale", 0)
            if (
                not isinstance(prec, int) or isinstance(prec, bool)
                or not 0 < prec <= 38
                or not isinstance(scale, int) or isinstance(scale, bool)
                or not 0 <= scale <= prec
            ):
                raise ValueError("avro decimal precision/scale invalid")
            out[name] = ("bytes", "decimal", prec, scale)
        # any other annotation: ignored per spec (underlying type)
    return out


def decode_decimal_unscaled(raw: bytes, precision: int) -> int:
    """Big-endian two's-complement unscaled decimal (Avro spec);
    value must fit the declared precision."""
    if not raw or len(raw) > 17:
        raise ValueError("avro decimal byte length out of range")
    v = int.from_bytes(raw, "big", signed=True)
    if abs(v) >= 10**precision:
        raise ValueError("avro decimal exceeds declared precision")
    return v


def _enc_decimal(v: int) -> bytes:
    """Minimal-length big-endian two's complement."""
    n = max(1, (v.bit_length() + 8) // 8)
    return v.to_bytes(n, "big", signed=True)


def synth_avro_logical_plan(seed: int) -> dict:
    """Mirrored in the DuckDB oracle: ``12 + seed%20`` records;
    record i: date ``19000 + (seed+i) % 365`` days, timestamp
    ``1_700_000_000_000_000 + (seed*1000 + i) * 1_000_000`` micros,
    decimal unscaled ``(seed*13 + i*7) % 100000 - 5000`` (negatives
    exercise two's complement)."""
    return {"n_records": 12 + seed % 20}


def synth_avro_logical(seed: int) -> bytes:
    n = synth_avro_logical_plan(seed)["n_records"]
    recs = []
    for i in range(n):
        amount = (seed * 13 + i * 7) % 100000 - 5000
        body = (
            _zigzag_write(seed * 100 + i)
            + _zigzag_write(19000 + (seed + i) % 365)
            + _zigzag_write(1_700_000_000_000_000 + (seed * 1000 + i) * 1_000_000)
        )
        dec = _enc_decimal(amount)
        body += _zigzag_write(len(dec)) + dec
        recs.append(body)
    sync = bytes((seed * 19 + j * 11 + 5) % 256 for j in range(16))
    return encode_avro_container(_LOGICAL_SCHEMA_JSON, recs, sync)


def scan_avro_logical(payload: bytes) -> dict:
    """Logical-type aware container scan: dates/timestamps stay
    integer (days / micros — exact), decimals decode to the unscaled
    int with a precision fence; all aggregates int64-fenced."""
    blocks = _iter_avro_blocks(payload)
    meta = next(blocks)
    logical = parse_logical_types(meta["avro.schema"])
    if set(logical) != {"d", "ts", "amount"}:
        raise ValueError("avro logical fixture schema mismatch")
    # kind fence, not just name fence: a schema listing 'amount'
    # twice (date first, plain bytes second) would register a
    # non-decimal tuple here while the generic decoder yields bytes,
    # and prec=None would TypeError past the quarantine (review r11
    # pass 5, reproduced)
    if logical["d"][:2] != ("int", "date")             or logical["ts"][:2] != ("long", "timestamp-micros")             or logical["amount"][:2] != ("bytes", "decimal"):
        raise ValueError("avro logical annotations mismatch (boundary)")
    prec = logical["amount"][2]
    if not isinstance(prec, int):
        raise ValueError("avro decimal precision missing (boundary)")
    records = _decode_records(meta, blocks)  # ONE walk, one validator
    n = 0
    date_min = date_max = None
    ts_min = ts_max = None
    amount_sum = 0
    n_negative = 0
    for rec in records:
        if set(rec) != {"id", "d", "ts", "amount"}:
            raise ValueError("avro record does not match logical schema")
        d, ts, raw = rec["d"], rec["ts"], rec["amount"]
        if not isinstance(d, int) or not isinstance(ts, int) \
                or not isinstance(raw, bytes):
            raise ValueError("logical field base type mismatch")
        if not (-(1 << 31) <= d < (1 << 31)):
            raise ValueError("avro date outside int32 (boundary)")
        n += 1
        date_min = d if date_min is None else min(date_min, d)
        date_max = d if date_max is None else max(date_max, d)
        ts_min = ts if ts_min is None else min(ts_min, ts)
        ts_max = ts if ts_max is None else max(ts_max, ts)
        v = decode_decimal_unscaled(raw, prec)
        amount_sum += v
        n_negative += 1 if v < 0 else 0
    # empty containers already quarantined inside _decode_records
    for label, s in (("amount_sum", amount_sum), ("ts_span", ts_max - ts_min)):
        if not (-(2**63) <= s < 2**63):
            raise ValueError(f"avro {label} overflows int64 (boundary)")
    return {
        "n_records": n,
        "date_min": date_min,
        "date_max": date_max,
        "ts_span_micros": ts_max - ts_min,
        "amount_sum_unscaled": amount_sum,
        "n_negative": n_negative,
    }


# ---------------------------------------------------------------------------
# schema RESOLUTION (round 11 continuation): reader schema vs writer
# schema, per the Avro spec's "Schema Resolution" rules — the feature
# every evolving Kafka archive depends on.
# ---------------------------------------------------------------------------

_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
}


def resolve_avro_schemas(writer_t, reader_t, depth: int = 0):
    """Writer + reader schema JSON fragments -> a RESOLVED decode
    plan: wire bytes are consumed in the writer's shape, values are
    delivered in the reader's (field matching BY NAME, writer-only
    fields decoded and discarded, reader-only fields filled from
    their declared defaults, primitive promotions applied, enum
    symbols re-resolved by NAME against the reader's symbol list).

    Plan nodes: ('read', writer_spec) | ('promote', w, r) |
    ('record', [(reader_field|None, node), ...], [(field, default)])
    | ('enum', (resolved_symbol_per_writer_index...)) |
    ('union', [node per writer branch]) | ('array', node) |
    ('map', node).

    Scope note (round 12): NAMED-TYPE REFERENCES resolve on the
    container DECODE path (:func:`_parse_type_spec` threads the
    definition environment) but not across sibling fields of this
    resolution walk, which re-parses each subfragment independently —
    a cross-field reference lands on the loud "type unsupported"
    boundary rather than mis-resolving."""
    if depth > _MAX_SCHEMA_DEPTH:
        raise ValueError("avro schema nests too deep")
    wspec = _parse_type_spec(writer_t, depth)
    rspec = _parse_type_spec(reader_t, depth)
    if wspec[0] == "union" or rspec[0] == "union":
        wbranches = writer_t if wspec[0] == "union" else [writer_t]
        rbranches = reader_t if rspec[0] == "union" else [reader_t]
        nodes = []
        for wb in wbranches:
            node = None
            for rb in rbranches:
                try:
                    node = resolve_avro_schemas(wb, rb, depth + 1)
                    break
                except ValueError:
                    continue
            if node is None:
                raise ValueError(
                    "writer union branch matches no reader branch"
                )
            nodes.append(node)
        return ("union", nodes) if wspec[0] == "union" else nodes[0]
    if wspec[0] == "prim" and rspec[0] == "prim":
        if wspec[1] == rspec[1]:
            return ("read", wspec)
        if (wspec[1], rspec[1]) in _PROMOTIONS:
            return ("promote", wspec[1], rspec[1])
        raise ValueError(
            f"cannot resolve writer {wspec[1]} to reader {rspec[1]}"
        )
    if wspec[0] != rspec[0]:
        raise ValueError(
            f"cannot resolve writer {wspec[0]} to reader {rspec[0]}"
        )
    if wspec[0] == "record":
        wfields = writer_t["fields"]
        rfields = reader_t["fields"]
        rby = {f["name"]: f for f in rfields}
        wire = []
        for wf in wfields:
            name = str(wf["name"])
            if name in rby:
                wire.append(
                    (
                        name,
                        resolve_avro_schemas(
                            wf["type"], rby[name]["type"], depth + 1
                        ),
                    )
                )
            else:
                wire.append((None, ("read", _parse_type_spec(wf["type"], depth + 1))))
        wnames = {str(wf["name"]) for wf in wfields}
        defaults = []
        for rf in rfields:
            name = str(rf["name"])
            if name in wnames:
                continue
            if "default" not in rf:
                raise ValueError(
                    f"reader field {name!r} missing from writer "
                    "and has no default"
                )
            defaults.append(
                (name, _default_value(rf["type"], rf["default"]))
            )
        order = [str(f["name"]) for f in rfields]
        return ("record", wire, defaults, tuple(order))
    if wspec[0] == "enum":
        rsymbols = rspec[1]
        mapping = []
        for sym in wspec[1]:
            if sym in rsymbols:
                mapping.append(sym)
            else:
                # spec: fall back to the reader's default symbol
                dflt = (
                    reader_t.get("default")
                    if isinstance(reader_t, dict) else None
                )
                if not isinstance(dflt, str) or dflt not in rsymbols:
                    raise ValueError(
                        f"writer enum symbol {sym!r} not in reader "
                        "enum and no reader default"
                    )
                mapping.append(dflt)
        return ("enum", tuple(mapping))
    if wspec[0] == "fixed":
        if wspec[1] != rspec[1]:
            raise ValueError("fixed size mismatch between schemas")
        return ("read", wspec)
    if wspec[0] == "array":
        return (
            "array",
            resolve_avro_schemas(
                writer_t["items"], reader_t["items"], depth + 1
            ),
        )
    # map
    return (
        "map",
        resolve_avro_schemas(
            writer_t["values"], reader_t["values"], depth + 1
        ),
    )


def _default_value(reader_type, raw):
    """Reader-declared default (JSON) -> python value; only scalar
    defaults are in scope (list/dict defaults loud-reject)."""
    spec = _parse_type_spec(reader_type)
    if spec[0] == "union":
        # spec: the default matches the FIRST branch
        return _default_value(
            reader_type[0] if isinstance(reader_type, list) else reader_type,
            raw,
        )
    if spec[0] == "prim":
        t = spec[1]
        if t == "null" and raw is None:
            return None
        if t in ("int", "long") and isinstance(raw, int) \
                and not isinstance(raw, bool):
            return raw
        if t in ("float", "double") and isinstance(raw, (int, float)) \
                and not isinstance(raw, bool):
            return float(raw)
        if t == "string" and isinstance(raw, str):
            return raw
        if t == "boolean" and isinstance(raw, bool):
            return raw
        if t == "bytes" and isinstance(raw, str):
            # spec: bytes defaults are JSON strings, latin-1 mapped
            return raw.encode("latin-1")
    if spec[0] == "enum" and isinstance(raw, str) and raw in spec[1]:
        return raw
    raise ValueError("avro default value unsupported (boundary)")


def _decode_resolved(data: bytes, pos: int, node, depth: int = 0):
    if depth > 2 * _MAX_SCHEMA_DEPTH:
        raise ValueError("avro value nests too deep")
    kind = node[0]
    if kind == "read":
        return _decode_spec(data, pos, node[1], depth)
    if kind == "promote":
        v, pos = _decode_spec(data, pos, ("prim", node[1]), depth)
        if node[2] in ("float", "double"):
            return float(v), pos
        if node[2] == "bytes":
            return v.encode("utf-8"), pos
        if node[2] == "string":
            try:
                return v.decode("utf-8"), pos
            except UnicodeDecodeError:
                raise ValueError(
                    "bytes-to-string promotion hit invalid utf-8"
                ) from None
        return v, pos  # int -> long
    if kind == "union":
        branch, pos = _zigzag_read(data, pos)
        if not 0 <= branch < len(node[1]):
            raise ValueError(f"avro union branch {branch} out of range")
        return _decode_resolved(data, pos, node[1][branch], depth + 1)
    if kind == "record":
        rec = {}
        for name, fnode in node[1]:
            v, pos = _decode_resolved(data, pos, fnode, depth + 1)
            if name is not None:
                rec[name] = v
        for name, dflt in node[2]:
            rec[name] = dflt
        return {n: rec[n] for n in node[3]}, pos
    if kind == "enum":
        idx, pos = _zigzag_read(data, pos)
        if not 0 <= idx < len(node[1]):
            raise ValueError(f"avro enum index {idx} out of range")
        return node[1][idx], pos
    if kind == "array":
        items = []
        while True:
            count, pos = _zigzag_read(data, pos)
            if count == 0:
                return items, pos
            if count < 0:
                count = -count
                _, pos = _zigzag_read(data, pos)
            if count > 1 << 24 or len(items) + count > 1 << 24:
                raise ValueError("avro array too large")
            for _ in range(count):
                v, pos = _decode_resolved(data, pos, node[1], depth + 1)
                items.append(v)
    if kind == "map":
        out = {}
        while True:
            count, pos = _zigzag_read(data, pos)
            if count == 0:
                return out, pos
            if count < 0:
                count = -count
                _, pos = _zigzag_read(data, pos)
            if count > 1 << 24 or len(out) + count > 1 << 24:
                raise ValueError("avro map too large")
            for _ in range(count):
                kraw, pos = _read_bytes(data, pos)
                out[kraw.decode("utf-8")], pos = _decode_resolved(
                    data, pos, node[1], depth + 1
                )
    raise ValueError(f"resolved plan node {kind!r} unknown")


_READER_SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "region", "type": "string", "default": "emea"},
        {
            "name": "color",
            "type": {
                "type": "enum",
                "name": "c",
                "symbols": ["blue", "red", "green"],
            },
        },
    ],
}

_WRITER_V1 = {  # old producer: int id, float score, extra debug field,
    # no region, enum symbols in a DIFFERENT order
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "id", "type": "int"},
        {"name": "debug", "type": "string"},
        {"name": "score", "type": "float"},
        {
            "name": "color",
            "type": {
                "type": "enum",
                "name": "c",
                "symbols": ["red", "green", "blue"],
            },
        },
        {"name": "name", "type": "string"},
    ],
}

_WRITER_V2 = {  # newer producer: field order shuffled, region present
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "name", "type": "string"},
        {"name": "region", "type": "string"},
        {
            "name": "color",
            "type": {
                "type": "enum",
                "name": "c",
                "symbols": ["red", "green", "blue"],
            },
        },
        {"name": "id", "type": "long"},
        {"name": "score", "type": "double"},
    ],
}


def synth_avro_evolved_plan(seed: int) -> dict:
    """Mirrored in the DuckDB oracle: ``n = 40 + (seed*3) % 60``
    records from writer v1 (even seeds: int id + float score +
    dropped ``debug`` + defaulted ``region``) or v2 (odd: shuffled
    field order, region ``apac`` at ``i%4==0`` else ``emea``).
    Row i: id = ``i + seed%50``, name = ``n{i}``, score = ``i*0.25``,
    color = writer symbol ``(red,green,blue)[i%3]`` whose READER
    index is ``(1,2,0)[i%3]``."""
    n = 40 + (seed * 3) % 60
    return {"n": n, "writer": 1 if seed % 2 == 0 else 2}


def synth_avro_evolved(seed: int) -> bytes:
    import struct as _struct

    plan = synth_avro_evolved_plan(seed)
    n = plan["n"]
    sync = bytes((seed * 37 + j * 3 + 1) % 256 for j in range(16))

    def s(text: str) -> bytes:
        b = text.encode()
        return _zigzag_write(len(b)) + b

    recs = []
    for i in range(n):
        vid = i + seed % 50
        name = f"n{i}"
        color_idx = i % 3  # writer order (red, green, blue)
        if plan["writer"] == 1:
            recs.append(
                _zigzag_write(vid)
                + s(f"dbg{i}")
                + _struct.pack("<f", i * 0.25)
                + _zigzag_write(color_idx)
                + s(name)
            )
        else:
            region = "apac" if i % 4 == 0 else "emea"
            recs.append(
                s(name)
                + s(region)
                + _zigzag_write(color_idx)
                + _zigzag_write(vid)
                + _struct.pack("<d", i * 0.25)
            )
    schema = _WRITER_V1 if plan["writer"] == 1 else _WRITER_V2
    # codec rotates so resolution is exercised THROUGH the
    # decompression path too (seed%3==0 -> deflate)
    return encode_avro_container(
        json.dumps(schema).encode(), recs, sync,
        codec="deflate" if seed % 3 == 0 else "null",
    )


def scan_avro_evolved(payload: bytes) -> dict:
    """Read an evolving container THROUGH the reader schema: parse
    the writer schema out of the file metadata, resolve it against
    this consumer's schema (:func:`resolve_avro_schemas`), and
    aggregate the reader-shaped records — promotions applied,
    writer-only fields skipped, missing fields defaulted, enum
    symbols matched by name across differing symbol orders."""
    blocks = _iter_avro_blocks(payload)
    meta = next(blocks)  # raises inside the walk if avro.schema absent
    try:
        writer = json.loads(meta["avro.schema"])
    except json.JSONDecodeError as e:
        raise ValueError(f"avro schema is not JSON: {e}") from None
    plan = resolve_avro_schemas(writer, _READER_SCHEMA)
    n = 0
    id_sum = 0
    score_sum = 0.0
    name_bytes = 0
    region_emea = 0
    color_code_sum = 0
    reader_symbols = ("blue", "red", "green")
    for count, body in blocks:
        pos = 0
        for _ in range(count):
            rec, pos = _decode_resolved(body, pos, plan)
            n += 1
            if n > _MAX_RECORDS:
                raise ValueError("avro record count past cap")
            vid = rec["id"]
            if not isinstance(vid, int) or isinstance(vid, bool):
                raise ValueError("resolved id is not an integer")
            id_sum += vid
            if not -(2**63) <= id_sum < 2**63:
                raise ValueError("avro id_sum overflows int64")
            score_sum += rec["score"]
            name_bytes += len(rec["name"].encode())
            if rec["region"] == "emea":
                region_emea += 1
            color_code_sum += reader_symbols.index(rec["color"])
        if pos != len(body):
            raise ValueError("avro block has trailing bytes")
    return {
        "n_records": n,
        "id_sum": id_sum,
        "score_sum": score_sum,
        "name_bytes": name_bytes,
        "region_emea": region_emea,
        "color_code_sum": color_code_sum,
    }
