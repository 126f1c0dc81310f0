"""WARC (.warc / .warc.gz) record scan — the crawl ingestion format.

WARC is THE format web-scale training corpora arrive in (Common
Crawl ships ~100 TB-scale .warc.gz), which makes this the single
most on-theme source reader in the repo: before any dedup, quality
scoring, or language ID can run, the engine must split crawl
archives into records.  All format facts are public (ISO 28500 /
the WARC 1.1 specification and the IIPC warc-specifications repo):

- a WARC file is a sequence of records; each record is a header
  block of ``\\r\\n``-terminated lines — ``WARC/1.0`` or
  ``WARC/1.1`` version line, then ``Name: value`` fields — ended by
  an empty line, followed by exactly ``Content-Length`` payload
  bytes and the mandatory ``\\r\\n\\r\\n`` record terminator;
- required fields: WARC-Type, WARC-Record-ID, WARC-Date,
  Content-Length; responses/requests add WARC-Target-URI;
- the standard compressed layout is MULTI-MEMBER GZIP with ONE
  RECORD PER MEMBER (so readers can seek to member boundaries and
  split work — exactly the property a distributed reader needs);
  this scan accepts both the .gz form and the plain concatenation.

The gzip layer decodes member-by-member via stdlib zlib with trailer
verification (CRC32 + ISIZE per member, same contract as
:func:`.zipscan.decode_gzip`); the record grammar is parsed by hand.
The SYNTHESIZER compresses with stdlib gzip per member (independent
producer for the compression layer) around spec-conformant records.
"""

from __future__ import annotations

import struct
import zlib


def split_gzip_members(payload: bytes) -> list[bytes]:
    """Decode a multi-member gzip file into per-member plaintexts,
    verifying each member's CRC32 and ISIZE trailer.  Raises
    ``ValueError`` on any corruption (permissive-quarantine
    contract)."""
    out = []
    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError(f"gzip member {len(out)}: bad magic")
        d = zlib.decompressobj(wbits=31)
        try:
            plain = d.decompress(payload[pos:])
        except zlib.error as e:
            raise ValueError(f"gzip member {len(out)}: {e}") from e
        if not d.eof:
            raise ValueError(f"gzip member {len(out)}: truncated")
        consumed = n - pos - len(d.unused_data)
        # zlib verifies CRC32+ISIZE itself at eof; double-check ISIZE
        (isize,) = struct.unpack_from("<I", payload, pos + consumed - 4)
        if isize != len(plain) & 0xFFFFFFFF:
            raise ValueError(f"gzip member {len(out)}: ISIZE mismatch")
        out.append(plain)
        pos += consumed
    return out


def parse_warc_records(data: bytes) -> list[dict]:
    """Parse concatenated WARC records from plaintext bytes: version
    line, header fields, Content-Length payload, ``\\r\\n\\r\\n``
    terminator.  Returns one dict per record with ``type``, ``uri``,
    ``date``, ``content_length``, ``payload``."""
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("WARC header block missing blank line")
        lines = data[pos:head_end].split(b"\r\n")
        version = lines[0]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line {version[:20]!r}")
        if version not in (b"WARC/1.0", b"WARC/1.1"):
            raise ValueError(f"unsupported WARC version {version!r}")
        fields: dict[str, str] = {}
        for ln in lines[1:]:
            if b":" not in ln:
                raise ValueError(f"malformed WARC header line {ln[:30]!r}")
            k, v = ln.split(b":", 1)
            fields[k.strip().decode("ascii", "replace").lower()] = (
                v.strip().decode("utf-8", "replace")
            )
        for req in ("warc-type", "warc-record-id", "warc-date",
                    "content-length"):
            if req not in fields:
                raise ValueError(f"WARC record missing {req}")
        try:
            clen = int(fields["content-length"])
        except ValueError:
            raise ValueError("non-integer WARC Content-Length") from None
        if clen < 0:
            raise ValueError("negative WARC Content-Length")
        body_start = head_end + 4
        body_end = body_start + clen
        if body_end + 4 > n:
            raise ValueError("WARC payload past end of data")
        if data[body_end : body_end + 4] != b"\r\n\r\n":
            raise ValueError("WARC record missing terminator")
        records.append(
            {
                "type": fields["warc-type"],
                "uri": fields.get("warc-target-uri"),
                "date": fields["warc-date"],
                "content_length": clen,
                "payload": data[body_start:body_end],
            }
        )
        pos = body_end + 4
    if not records:
        raise ValueError("no WARC records in file")
    return records


def warc_record_rows(payload: bytes) -> list[dict]:
    """One row per record of a .warc.gz, numbered across its gzip
    members (``explode_warc_records``). Payload bytes decode as UTF-8
    with replacement: crawl payloads lie about encodings, and
    replacement keeps the row."""
    rows = []
    for member in split_gzip_members(payload):
        for rec in parse_warc_records(member):
            rows.append({
                "rec_idx": len(rows),
                "rec_type": rec["type"],
                "uri": rec["uri"],
                "text": rec["payload"].decode("utf-8", "replace"),
            })
    return rows


def lift_warc_dictionary(payload: bytes):
    """The IIPC warc-zstd convention (iipc/warc-specifications):
    a ``.warc.zst`` MAY open with a skippable frame whose magic is
    specifically ``0x184D2A5D``, carrying a shared zstd dictionary —
    raw, or itself compressed as a (dictionary-less) zstd frame.
    Returns ``(ZstdDict | None, remaining bytes)``; generic skippable
    magics (0x184D2A50..5F other than 5D) are NOT treated as
    dictionaries, matching the spec's reservation of that one value.
    """
    from .zstd_codec import decode_zstd, parse_zstd_dictionary

    if payload[:4] != b"\x5d\x2a\x4d\x18":
        return None, payload
    if len(payload) < 8:
        raise ValueError("truncated warc-zstd dictionary frame")
    (sz,) = struct.unpack_from("<I", payload, 4)
    blob = payload[8 : 8 + sz]
    if len(blob) < sz:
        raise ValueError("warc-zstd dictionary frame overruns payload")
    if blob[:4] == b"\x28\xb5\x2f\xfd":
        blob = decode_zstd(blob)
    return parse_zstd_dictionary(blob), payload[8 + sz :]


def scan_warc(payload: bytes) -> dict:
    """Aggregates for the ``warc_record_scan`` query.  Accepts the
    standard one-record-per-gzip-member .warc.gz layout (members
    CRC-verified) or plain .warc bytes."""
    if payload[:2] == b"\x1f\x8b":
        members = split_gzip_members(payload)
        records = []
        for m in members:
            recs = parse_warc_records(m)
            if len(recs) != 1:
                raise ValueError(
                    f"warc.gz member holds {len(recs)} records "
                    f"(spec says one per member)"
                )
            records.extend(recs)
    elif payload[:4] in (
        b"\x28\xb5\x2f\xfd",
        *(bytes([0x50 + i, 0x2A, 0x4D, 0x18]) for i in range(16)),
    ):
        # .warc.zst: concatenated zstd frames, optionally behind the
        # IIPC dictionary frame — lift it, then decode the rest
        from .zstd_codec import decode_zstd

        dictionary, rest = lift_warc_dictionary(payload)
        records = parse_warc_records(
            decode_zstd(rest, dictionary=dictionary)
        )
    elif payload[:5] == b"WARC/":
        records = parse_warc_records(payload)
    else:
        raise ValueError("neither gzip nor zstd nor WARC magic")
    n_resp = sum(1 for r in records if r["type"] == "response")
    n_req = sum(1 for r in records if r["type"] == "request")
    uris = {r["uri"] for r in records if r["uri"]}
    return {
        "n_records": len(records),
        "n_responses": n_resp,
        "n_requests": n_req,
        "n_distinct_uris": len(uris),
        "payload_bytes": sum(r["content_length"] for r in records),
        "response_bytes": sum(
            r["content_length"] for r in records if r["type"] == "response"
        ),
    }


def synth_warc_text_plan(seed: int) -> dict:
    """Plan for the TEXT fixture (``warc_response_text_stats``):
    2 + seed % 3 responses; response i carries 20 + (seed + i) % 30
    space-separated tokens, token j = ``w{(seed*3 + i + j) % 10}`` —
    small vocabulary so distinct-counts exercise the JVM-side
    aggregation, all mirrored in SQL."""
    return {"n_responses": 2 + seed % 3}


def synth_warc_text(seed: int) -> bytes:
    """A .warc.gz whose response payloads are TOKENIZABLE TEXT — the
    fixture for composing the Python record split with JVM-side text
    analytics (split/explode/aggregate, zero Python in that stage)."""
    import gzip
    import io

    def record(rtype: str, rid: int, body: bytes, uri: str) -> bytes:
        head = [
            "WARC/1.0",
            f"WARC-Type: {rtype}",
            f"WARC-Record-ID: <urn:uuid:00000000-0000-4000-9000-"
            f"{seed:06d}{rid:06d}>",
            "WARC-Date: 2024-01-01T00:00:00Z",
            f"WARC-Target-URI: {uri}",
            f"Content-Length: {len(body)}",
        ]
        return "\r\n".join(head).encode() + b"\r\n\r\n" + body + b"\r\n\r\n"

    plan = synth_warc_text_plan(seed)
    out = io.BytesIO()
    for i in range(plan["n_responses"]):
        m = 20 + (seed + i) % 30
        text = " ".join(f"w{(seed * 3 + i + j) % 10}" for j in range(m))
        rec = record(
            "response", i, text.encode(),
            f"http://text{(seed + i) % 4}.example/doc{i}",
        )
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(rec)
        out.write(buf.getvalue())
    return out.getvalue()


def synth_warc_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: 2 + seed % 4 page fetches,
    each a (request, response) record pair plus one leading warcinfo;
    request body = 40 + (seed + i*3) % 60 bytes, response body =
    100 + (seed * 7 + i * 13) % 400 bytes; each pair shares one URI
    ``http://site{(seed+i) % 5}.example/page{i}``."""
    return {"n_pairs": 2 + seed % 4}


def _record(seed: int, rtype: str, rid: int, body: bytes,
            uri: str | None = None, extra: str = "") -> bytes:
    """One spec-conformant WARC record — the single builder behind
    BOTH container synthesizers (.warc.gz and .warc.zst), so the two
    fixtures cannot drift apart."""
    head = [
        "WARC/1.0",
        f"WARC-Type: {rtype}",
        f"WARC-Record-ID: <urn:uuid:00000000-0000-4000-8000-"
        f"{seed:06d}{rid:06d}>",
        "WARC-Date: 2024-01-01T00:00:00Z",
    ]
    if uri:
        head.append(f"WARC-Target-URI: {uri}")
    if extra:
        head.append(extra)
    head.append(f"Content-Length: {len(body)}")
    text = "\r\n".join(head).encode() + b"\r\n\r\n"
    return text + body + b"\r\n\r\n"



def synth_warc(seed: int) -> bytes:
    """A spec-conformant .warc.gz: one gzip member per record
    (stdlib gzip as the compression-layer producer), warcinfo then
    request/response pairs with formula-sized payloads."""
    import gzip
    import io

    out = io.BytesIO()
    for r in _build_warc_records(seed):
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(r)
        out.write(buf.getvalue())
    return out.getvalue()


def _build_warc_records(seed: int) -> list[bytes]:
    """The record list shared by the .warc.gz and .warc.zst
    synthesizers — one plan, one record builder, two containers."""
    plan = synth_warc_plan(seed)
    recs = [
        _record(
            seed, "warcinfo", 0,
            b"software: datawarehouseproject_spark\r\n",
            extra="Content-Type: application/warc-fields",
        )
    ]
    rid = 1
    for i in range(plan["n_pairs"]):
        uri = f"http://site{(seed + i) % 5}.example/page{i}"
        req_body = b"q" * (40 + (seed + i * 3) % 60)
        resp_body = b"r" * (100 + (seed * 7 + i * 13) % 400)
        recs.append(_record(seed, "request", rid, req_body, uri))
        recs.append(_record(seed, "response", rid + 1, resp_body, uri))
        rid += 2
    return recs


def synth_warc_zst(seed: int) -> bytes:
    """The .warc.zst layout Common Crawl actually distributes: zstd
    FRAMES each holding a run of records, preceded by a SKIPPABLE
    frame.  This variant uses the GENERIC skippable magic
    (``0x184D2A50``, an ignorable marker — NOT the ``0x184D2A5D``
    dictionary value, which :func:`synth_warc_zst_dict` exercises).
    Producer: libzstd via pyarrow; same record plan AND record
    builder as :func:`synth_warc`."""
    import struct as _struct

    import pyarrow as pa

    recs = _build_warc_records(seed)
    codec = pa.Codec("zstd", compression_level=(1, 3, 9)[seed % 3])
    marker = b"dwps-no-dict"
    out = [_struct.pack("<II", 0x184D2A50, len(marker)) + marker]
    # two records per frame — multi-frame files like the real layout
    for k in range(0, len(recs), 2):
        out.append(bytes(codec.compress(b"".join(recs[k : k + 2]))))
    return b"".join(out)


_ZSTD_CLI_CACHE: list[str] = []


def _zstd_cli() -> str:
    """Resolve the zstd CLI (the dict-training producer) robustly:
    the harness PATH drifts between sessions, so fall back to the
    known install locations before giving up loudly.  Memoized — the
    synth calls this once per payload."""
    import os
    import shutil

    if _ZSTD_CLI_CACHE:
        return _ZSTD_CLI_CACHE[0]
    found = shutil.which("zstd")
    if not found:
        for cand in (
            "/root/miniconda/bin/zstd",
            "/usr/bin/zstd",
            "/usr/local/bin/zstd",
            "/opt/conda/bin/zstd",
        ):
            if os.path.exists(cand):
                found = cand
                break
    if not found:
        raise ValueError("zstd CLI not available on this host")
    _ZSTD_CLI_CACHE.append(found)
    return found


def synth_warc_zst_dict(seed: int) -> bytes:
    """A DICT-TRAINED .warc.zst — the layout the real Common Crawl
    feed ships: ``zstd --train`` over seed-derived record-shaped
    samples produces a genuine trained dictionary (independent
    producer: the zstd CLI binary), the record frames are compressed
    WITH it (``-D``, so every frame header declares the
    dictionary-id), and the dictionary rides in the leading
    ``0x184D2A5D`` skippable frame per the IIPC warc-zstd convention
    — raw for even seeds, itself zstd-compressed for odd seeds (both
    forms the spec allows).  Same record plan and record builder as
    :func:`synth_warc`, so the aggregates equal the .gz container's.
    Decoding WITHOUT the dictionary must refuse loudly (the frames
    declare an id), which ``tests/test_zstd_dict.py`` pins."""
    import os
    import struct as _struct
    import subprocess
    import tempfile

    zstd_bin = _zstd_cli()
    recs = _build_warc_records(seed)
    with tempfile.TemporaryDirectory() as td:
        # the trainer refuses tiny corpora: give it 12 deterministic
        # record-shaped samples (the real plan has only 5-9 records)
        sample_paths = []
        for i in range(12):
            body = b"r" * (100 + (seed * 7 + i * 13) % 400)
            s = _record(
                seed, "response", 1000 + i, body,
                uri=f"http://site{(seed + i) % 5}.example/page{i}",
            )
            p = os.path.join(td, f"s{i}")
            with open(p, "wb") as fh:
                fh.write(s)
            sample_paths.append(p)
        dict_path = os.path.join(td, "dict.bin")
        subprocess.run(
            [zstd_bin, "-q", "--train", *sample_paths,
             "-o", dict_path, "--maxdict=1024"],
            check=True, capture_output=True,
        )
        # two records per frame, all chunks compressed in ONE CLI call
        paths = []
        for k in range(0, len(recs), 2):
            p = os.path.join(td, f"c{k:03d}")
            with open(p, "wb") as fh:
                fh.write(b"".join(recs[k : k + 2]))
            paths.append(p)
        subprocess.run(
            [zstd_bin, "-q", "-f", f"-{(1, 3, 9)[seed % 3]}",
             "-D", dict_path, *paths],
            check=True, capture_output=True,
        )
        with open(dict_path, "rb") as fh:
            dict_blob = fh.read()
        frames = b"".join(
            open(p + ".zst", "rb").read() for p in paths
        )
    if seed % 2:
        import pyarrow as pa

        dict_blob = bytes(pa.Codec("zstd").compress(dict_blob))
    return (
        _struct.pack("<II", 0x184D2A5D, len(dict_blob))
        + dict_blob
        + frames
    )
