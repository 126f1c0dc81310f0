"""NPY / NPZ tensor-file reading from raw bytes, by hand.

Numpy's ``.npy`` (NEP 1 / ``numpy.lib.format``, public) is the
de-facto tensor interchange file of ML corpora — dataset shards,
embedding dumps, cached features — and ``.npz`` is simply a ZIP of
``.npy`` members (STORED by ``np.savez``, DEFLATE by
``np.savez_compressed``).  This reader composes three layers:

- the ZIP central-directory walk (``functions/zipscan.py``) locates
  members (plus the local-header skip to the data);
- the raw DEFLATE decoder (``functions/inflate.py``, stdlib zlib)
  decompresses ``savez_compressed`` members;
- a new NPY header parser: ``\\x93NUMPY`` magic, version 1/2 header
  length (u2/u4 little-endian), and the header DICT read with a
  strict regex grammar — NOT ``eval`` (the format docs themselves
  warn the header is untrusted input; same posture as
  ``pickle_scan``'s no-unpickle rule);
- the tensor DATA decoded with ``struct`` iteration — independent
  of numpy's own buffer machinery — including the FORTRAN-ORDER
  remap: a position-weighted checksum over the LOGICAL C-order
  index pins the byte layout, not just the multiset of values
  (a column-major buffer mis-read as row-major keeps the plain sum
  but breaks the weighted sum).

Producer: ``np.save`` / ``np.savez`` / ``np.savez_compressed`` (the
independent writer), pinned in ``tests/test_npy_scan.py`` across
dtypes, orders, shapes, and both container modes.
"""

from __future__ import annotations

import re
import struct
import zlib

_MAGIC = b"\x93NUMPY"

#: dtype code -> (struct letter, itemsize, signed)
_DTYPES = {
    "i1": ("b", 1),
    "u1": ("B", 1),
    "i2": ("h", 2),
    "u2": ("H", 2),
    "i4": ("i", 4),
    "u4": ("I", 4),
    "i8": ("q", 8),
    "u8": ("Q", 8),
    "b1": ("B", 1),  # bool stored as one byte, values 0/1
}

_HDR_DESCR = re.compile(r"'descr'\s*:\s*'([|<>])([a-z][0-9]+)'")
_HDR_FORTRAN = re.compile(r"'fortran_order'\s*:\s*(True|False)")
_HDR_SHAPE = re.compile(r"'shape'\s*:\s*\(([0-9,\s]*)\)")


def parse_npy(data: bytes) -> dict:
    """Parse ONE .npy payload: header + full integer/bool data decode.

    Returns dtype code, shape, n_elements, fortran flag, the exact
    ``value_sum``, and ``weighted_sum`` = sum(value * (c_index + 1))
    where ``c_index`` is the element's position in LOGICAL C order —
    identical for the same logical array regardless of the stored
    byte order, which is what pins the fortran remap."""
    if data[:6] != _MAGIC:
        raise ValueError("bad npy magic")
    if len(data) < 10:
        raise ValueError("truncated npy preamble")
    major, minor = data[6], data[7]
    if major == 1:
        (hlen,) = struct.unpack_from("<H", data, 8)
        hstart = 10
    elif major in (2, 3):
        if len(data) < 12:
            raise ValueError("truncated npy v2 preamble")
        (hlen,) = struct.unpack_from("<I", data, 8)
        hstart = 12
    else:
        raise ValueError(f"npy version {major}.{minor} unsupported")
    header = data[hstart : hstart + hlen]
    if len(header) < hlen:
        raise ValueError("truncated npy header")
    if not header.endswith(b"\n"):
        raise ValueError("npy header not newline-terminated")
    text = header.decode("latin-1")
    m = _HDR_DESCR.search(text)
    if not m:
        raise ValueError("npy header missing parseable descr")
    byteorder, code = m.group(1), m.group(2)
    if code not in _DTYPES:
        raise ValueError(f"npy dtype {code!r} unsupported")
    letter, itemsize = _DTYPES[code]
    if itemsize > 1 and byteorder == ">":
        letter_prefix = ">"
    else:
        letter_prefix = "<"
    mf = _HDR_FORTRAN.search(text)
    if not mf:
        raise ValueError("npy header missing fortran_order")
    fortran = mf.group(1) == "True"
    ms = _HDR_SHAPE.search(text)
    if ms is None:
        raise ValueError("npy header missing shape")
    shape = tuple(
        int(p) for p in ms.group(1).replace(" ", "").split(",") if p
    )
    n = 1
    for d in shape:
        n *= d
    body = data[hstart + hlen :]
    if len(body) != n * itemsize:
        raise ValueError(
            f"npy body is {len(body)} bytes, expected {n * itemsize}"
        )
    values = [
        v[0] for v in struct.iter_unpack(f"{letter_prefix}{letter}", body)
    ] if n else []
    if code == "b1" and any(v not in (0, 1) for v in values):
        raise ValueError("npy bool buffer with non-0/1 byte")
    value_sum = sum(values)
    # weighted checksum over the LOGICAL C-order position
    if not fortran or len(shape) < 2:
        weighted = sum(v * (i + 1) for i, v in enumerate(values))
    else:
        # buffer index -> column-major multi-index -> C-order index
        c_strides = [0] * len(shape)
        acc = 1
        for d in range(len(shape) - 1, -1, -1):
            c_strides[d] = acc
            acc *= shape[d]
        weighted = 0
        for b, v in enumerate(values):
            rem = b
            c_index = 0
            for d in range(len(shape)):  # column-major: first dim fastest
                rem, idx = divmod(rem, shape[d])
                c_index += idx * c_strides[d]
            weighted += v * (c_index + 1)
    return {
        "dtype": code,
        "ndim": len(shape),
        "n_elements": n,
        "fortran": fortran,
        "value_sum": value_sum,
        "weighted_sum": weighted,
    }


def scan_npz(payload: bytes) -> dict:
    """Walk one .npz container: hand-rolled ZIP central directory ->
    per-member local-header skip -> (inflate if DEFLATE) ->
    :func:`parse_npy`, aggregated over all members.  Member CRC32s
    are verified against the central directory."""
    from .inflate import inflate
    from .zipscan import scan_zip

    z = scan_zip(payload)
    n_arrays = 0
    n_elements = 0
    value_sum = 0
    weighted_sum = 0
    n_fortran = 0
    n_deflated = 0
    for mem in z["members"]:
        off = mem["local_off"]
        if payload[off : off + 4] != b"PK\x03\x04":
            raise ValueError(f"bad local header for {mem['name']!r}")
        if off + 30 > len(payload):
            # a local_off pointing into the file's last 30 bytes can
            # pass the magic check; struct.error must not escape
            raise ValueError(f"truncated local header for {mem['name']!r}")
        (name_len, extra_len) = struct.unpack_from("<HH", payload, off + 26)
        data_start = off + 30 + name_len + extra_len
        raw = payload[data_start : data_start + mem["comp_size"]]
        if len(raw) < mem["comp_size"]:
            raise ValueError(f"truncated member data for {mem['name']!r}")
        if mem["method"] == 0:
            npy = raw
        elif mem["method"] == 8:
            npy = inflate(raw, max_output=1 << 26)
            n_deflated += 1
        else:  # scan_zip already rejects others; belt and braces
            raise ValueError(f"unsupported method {mem['method']}")
        if zlib.crc32(npy) != mem["crc32"]:
            raise ValueError(f"member CRC mismatch for {mem['name']!r}")
        if len(npy) != mem["uncomp_size"]:
            raise ValueError(f"member size mismatch for {mem['name']!r}")
        st = parse_npy(npy)
        n_arrays += 1
        n_elements += st["n_elements"]
        value_sum += st["value_sum"]
        weighted_sum += st["weighted_sum"]
        n_fortran += int(st["fortran"])
    return {
        "n_arrays": n_arrays,
        "n_elements": n_elements,
        "value_sum": value_sum,
        "weighted_sum": weighted_sum,
        "n_fortran": n_fortran,
        "n_deflated": n_deflated,
        "payload_bytes": len(payload),
    }


def synth_npz_plan(seed: int) -> dict:
    """Plan mirrored in the DuckDB oracle: ``2 + seed%2`` arrays;
    array k has shape ``(2 + (seed+k)%3, 3 + (seed + 2*k)%4)``,
    dtype by ``k%3`` (0 -> <i8 signed, 1 -> <i4 signed, 2 -> <u1),
    element ``[i,j] = (seed*7 + k*11 + i*5 + j*3) % 100``, minus 50
    when signed; fortran order when ``(seed+k)%2 == 1``; container
    is ``savez_compressed`` when ``seed%3 == 0`` else ``savez``."""
    n_arrays = 2 + seed % 2
    arrays = []
    for k in range(n_arrays):
        arrays.append(
            {
                "rows": 2 + (seed + k) % 3,
                "cols": 3 + (seed + 2 * k) % 4,
                "signed": k % 3 != 2,
                "dtype": ("<i8", "<i4", "<u1")[k % 3],
                "fortran": (seed + k) % 2 == 1,
            }
        )
    return {
        "n_arrays": n_arrays,
        "arrays": arrays,
        "compressed": seed % 3 == 0,
    }


def synth_npz(seed: int) -> bytes:
    """REAL .npz bytes from the numpy producer per the plan."""
    import io

    import numpy as np

    plan = synth_npz_plan(seed)
    arrs = {}
    for k, a in enumerate(plan["arrays"]):
        r, c = a["rows"], a["cols"]
        base = [
            [
                (seed * 7 + k * 11 + i * 5 + j * 3) % 100
                - (50 if a["signed"] else 0)
                for j in range(c)
            ]
            for i in range(r)
        ]
        arr = np.array(base, dtype=np.dtype(a["dtype"]))
        if a["fortran"]:
            arr = np.asfortranarray(arr)
        arrs[f"arr_{k}"] = arr
    buf = io.BytesIO()
    if plan["compressed"]:
        np.savez_compressed(buf, **arrs)
    else:
        np.savez(buf, **arrs)
    return buf.getvalue()
