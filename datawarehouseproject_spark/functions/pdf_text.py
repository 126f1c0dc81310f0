"""PDF text extraction from raw bytes — the #1 document format a
training-data pipeline meets (papers, invoices, scans with text
layers), parsed here from first principles.

Reader path (all layouts are public, ISO 32000-1 / the PDF 1.4
reference):

- tail scan: ``startxref`` -> classic cross-reference TABLE
  (subsection headers + fixed 20-byte entries) -> trailer dict
  (``/Root``, ``/Size``);
- a real PDF object tokenizer: dictionaries, arrays, names, numbers,
  literal strings with nesting/escapes/octal, hex strings, indirect
  references, booleans/null;
- document walk: catalog -> page tree -> per-page ``/Contents``
  (single ref or array, ``/Length`` possibly indirect);
- content streams are **FlateDecode**, decompressed by the raw
  DEFLATE decoder (:mod:`.inflate`) through the zlib-container
  wrapper below (header check + Adler-32 verify);
- text operators ``Tj``, ``'`` and ``TJ`` (string elements shown,
  kerning numbers skipped) with full literal-string unescaping.

The PRODUCER is the deterministic writer at the bottom — a
spec-complete classic-xref PDF assembled byte-by-byte (correct
offsets, free-entry 0, trailer, ``%%EOF``) — the same
self-synthesis pattern as the JPEG/PNG codecs, validated both ways
(every synthesized offset is re-derived by the reader, and the
recovered text is value-checked against the plan formulas by the
oracle).

PDF 1.5+ layouts (the default for every modern writer) are read
too: cross-reference STREAMS (``/Type /XRef`` — ``/W`` field
widths, ``/Index`` subsections, type-0/1/2 entries), OBJECT
streams (``/Type /ObjStm`` — N header pairs + ``/First``),
FlateDecode PNG predictors 10-15 (the row filters reused from
:mod:`.png`'s unfilter), incremental updates (``/Prev`` chains,
newest-wins merge including freed objects), and hybrid-reference
files (``/XRefStm`` supplementing a classic section).

Documented boundaries (ValueError -> quarantine): encryption,
non-Flate filters, TIFF predictor 2, non-8-bit predictor
components. Error contract: only ValueError escapes (fuzz-pinned).
"""

from __future__ import annotations

import re
import zlib

from .inflate import inflate

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def zlib_inflate(data: bytes, max_output: int = 1 << 26) -> bytes:
    """RFC 1950 container around a raw DEFLATE body: 2-byte header
    (method 8, window, no preset dict, FCHECK multiple of 31) + the
    stream + Adler-32 of the plaintext — verified here."""
    if len(data) < 6:
        raise ValueError("zlib stream too short")
    cmf, flg = data[0], data[1]
    if cmf & 0x0F != 8:
        raise ValueError(f"zlib method {cmf & 0x0F} is not deflate")
    if (cmf << 8 | flg) % 31 != 0:
        raise ValueError("zlib header check failed")
    if flg & 0x20:
        raise ValueError("zlib preset dictionary unsupported")
    out = inflate(data[2:-4], max_output=max_output)
    if zlib.adler32(out) != int.from_bytes(data[-4:], "big"):
        raise ValueError("zlib Adler-32 mismatch")
    return out


class _Lexer:
    """Tokenizer over the PDF object syntax."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        data, n = self.data, len(self.data)
        while self.pos < n:
            c = self.data[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment to end of line
                while self.pos < n and data[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def next_token(self):
        """Returns one of: ('dict_open'/'dict_close'/'arr_open'/
        'arr_close',), ('name', str), ('num', int|float),
        ('str', bytes), ('kw', str), or None at end."""
        self._skip_ws()
        data, n = self.data, len(self.data)
        if self.pos >= n:
            return None
        c = data[self.pos]
        if data[self.pos : self.pos + 2] == b"<<":
            self.pos += 2
            return ("dict_open",)
        if data[self.pos : self.pos + 2] == b">>":
            self.pos += 2
            return ("dict_close",)
        if c == 0x5B:  # [
            self.pos += 1
            return ("arr_open",)
        if c == 0x5D:  # ]
            self.pos += 1
            return ("arr_close",)
        if c == 0x2F:  # /Name
            self.pos += 1
            start = self.pos
            while self.pos < n and data[self.pos] not in _WS and data[self.pos] not in _DELIM:
                self.pos += 1
            return ("name", data[start : self.pos].decode("latin-1"))
        if c == 0x28:  # (literal string)
            return ("str", self._literal_string())
        if c == 0x3C:  # <hex string>
            end = data.find(b">", self.pos + 1)
            if end < 0:
                raise ValueError("unterminated hex string")
            hexs = bytes(
                ch for ch in data[self.pos + 1 : end] if ch not in _WS
            )
            if len(hexs) % 2:
                hexs += b"0"  # spec: odd final digit implies 0
            try:
                out = bytes.fromhex(hexs.decode("ascii"))
            except (ValueError, UnicodeDecodeError):
                raise ValueError("bad hex string") from None
            self.pos = end + 1
            return ("str", out)
        if c in b"+-.0123456789":
            start = self.pos
            self.pos += 1
            while self.pos < n and data[self.pos] in b".0123456789":
                self.pos += 1
            txt = data[start : self.pos]
            try:
                return ("num", float(txt) if b"." in txt else int(txt))
            except ValueError:
                raise ValueError(f"bad number token {txt!r}") from None
        start = self.pos
        while self.pos < n and data[self.pos] not in _WS and data[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:
            raise ValueError(f"unexpected byte {c:#x} in object stream")
        return ("kw", data[start : self.pos].decode("latin-1"))

    def _literal_string(self) -> bytes:
        data, n = self.data, len(self.data)
        pos = self.pos + 1
        depth = 1
        out = bytearray()
        while pos < n:
            c = data[pos]
            if c == 0x5C:  # backslash
                if pos + 1 >= n:
                    raise ValueError("string escape at end of data")
                e = data[pos + 1]
                pos += 2
                if e in b"nrtbf()\\":
                    out.append(
                        {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(e, e)
                    )
                elif e in b"01234567":  # up to 3 octal digits
                    oct_digits = bytes([e])
                    while (
                        len(oct_digits) < 3
                        and pos < n
                        and data[pos] in b"01234567"
                    ):
                        oct_digits += bytes([data[pos]])
                        pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and pos < n and data[pos] == 0x0A:
                        pos += 1
                # unknown escape: spec says drop the backslash
                else:
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
                pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos = pos + 1
                    return bytes(out)
                out.append(c)
                pos += 1
            else:
                out.append(c)
                pos += 1
        raise ValueError("unterminated literal string")

    def parse_value(self, tok=None):
        """One PDF value; 'N G R' indirect refs come back as
        ('ref', N)."""
        if tok is None:
            tok = self.next_token()
        if tok is None:
            raise ValueError("unexpected end of object data")
        kind = tok[0]
        if kind == "dict_open":
            d = {}
            while True:
                t = self.next_token()
                if t is None:
                    raise ValueError("unterminated dictionary")
                if t[0] == "dict_close":
                    return d
                if t[0] != "name":
                    raise ValueError(f"dictionary key is {t[0]}, not a name")
                d[t[1]] = self.parse_value()
            # not reached
        if kind == "arr_open":
            arr = []
            while True:
                t = self.next_token()
                if t is None:
                    raise ValueError("unterminated array")
                if t[0] == "arr_close":
                    return arr
                arr.append(self.parse_value(t))
        if kind == "num":
            # lookahead for "G R" (indirect reference)
            save = self.pos
            t2 = self.next_token()
            if t2 is not None and t2[0] == "num":
                t3 = self.next_token()
                if t3 is not None and t3[0] == "kw" and t3[1] == "R":
                    return ("ref", int(tok[1]))
            self.pos = save
            return tok[1]
        if kind in ("str", "name"):
            return tok[1]
        if kind == "kw":
            if tok[1] == "true":
                return True
            if tok[1] == "false":
                return False
            if tok[1] == "null":
                return None
            raise ValueError(f"unexpected keyword {tok[1]!r} in value")
        raise ValueError(f"unexpected token {kind} in value")


class _Document:
    def __init__(self, data: bytes, xref: dict[int, int]):
        self.data = data
        self.xref = xref
        self._cache: dict[int, object] = {}
        #: objstm number -> (decoded body, /First, [(objnum, rel), ...])
        self._objstm: dict[int, tuple[bytes, int, list]] = {}
        #: object numbers currently being resolved — re-entry means a
        #: reference cycle (e.g. xref maps n into ObjStm S while S's
        #: /Length is `n 0 R`); RecursionError would escape the
        #: ValueError-only quarantine, so fence it here.
        self._resolving: set[int] = set()

    def _objstm_obj(self, n: int, stm_num: int, idx: int):
        """Resolve object ``n`` out of object stream ``stm_num`` at
        directory index ``idx`` (ISO 32000-1 §7.5.7)."""
        if isinstance(self.xref.get(stm_num), tuple):
            raise ValueError("object stream stored inside an object stream")
        if stm_num not in self._objstm:
            stm = self.obj(("ref", stm_num))
            if not isinstance(stm, _Stream) or stm.d.get("Type") != "ObjStm":
                raise ValueError(f"object {stm_num} is not an /ObjStm")
            # /N and /First must be DIRECT: resolving an indirect ref
            # here can point back INTO this object stream and recurse
            # unboundedly (RecursionError is not quarantinable)
            count = stm.d.get("N")
            first = stm.d.get("First")
            if (
                not isinstance(count, int) or not 0 < count <= 1 << 16
                or not isinstance(first, int) or first < 0
            ):
                raise ValueError("object stream /N or /First malformed")
            body = stm.decoded()
            if first > len(body):
                raise ValueError("object stream /First past its data")
            lex = _Lexer(body)
            pairs = []
            for _ in range(count):
                ta, tb = lex.next_token(), lex.next_token()
                if (
                    ta is None or ta[0] != "num"
                    or tb is None or tb[0] != "num"
                ):
                    raise ValueError("object stream directory malformed")
                pairs.append((int(ta[1]), int(tb[1])))
            if lex.pos > first:
                raise ValueError("object stream directory overruns /First")
            self._objstm[stm_num] = (body, first, pairs)
        body, first, pairs = self._objstm[stm_num]
        if idx >= len(pairs):
            raise ValueError(
                f"object {n}: objstm index {idx} past directory"
            )
        objnum, rel = pairs[idx]
        if objnum != n:
            raise ValueError(
                f"objstm directory names {objnum} at index {idx}, "
                f"xref says {n}"
            )
        if first + rel > len(body):
            raise ValueError("objstm object offset past its data")
        return _Lexer(body, first + rel).parse_value()

    def obj(self, ref):
        """Resolve ('ref', n) (or pass a direct value through)."""
        if not (isinstance(ref, tuple) and len(ref) == 2 and ref[0] == "ref"):
            return ref
        n = ref[1]
        if n in self._cache:
            return self._cache[n]
        if n in self._resolving:
            raise ValueError(f"object {n}: reference cycle (boundary)")
        self._resolving.add(n)
        try:
            return self._resolve(n)
        finally:
            self._resolving.discard(n)

    def _resolve(self, n: int):
        off = self.xref.get(n)
        if isinstance(off, tuple):
            value = self._objstm_obj(n, off[1], off[2])
            self._cache[n] = value
            return value
        if off is None or off <= 0 or off >= len(self.data):
            raise ValueError(f"object {n} missing from xref")
        lex = _Lexer(self.data, off)
        t1, t2, t3 = lex.next_token(), lex.next_token(), lex.next_token()
        if (
            t1 is None or t1[0] != "num" or int(t1[1]) != n
            or t2 is None or t2[0] != "num"
            or t3 is None or t3 != ("kw", "obj")
        ):
            raise ValueError(f"object {n}: header not 'N G obj' at {off}")
        value = lex.parse_value()
        nxt = lex.next_token()
        if nxt == ("kw", "stream"):
            if not isinstance(value, dict):
                raise ValueError(f"object {n}: stream without a dict")
            # EOL after 'stream' is CRLF or LF
            p = lex.pos
            if self.data[p : p + 2] == b"\r\n":
                p += 2
            elif self.data[p : p + 1] == b"\n":
                p += 1
            else:
                raise ValueError("stream keyword not followed by EOL")
            length = self.obj(value.get("Length"))
            if not isinstance(length, int) or length < 0 or p + length > len(self.data):
                raise ValueError(f"object {n}: bad stream /Length")
            value = _Stream(value, self.data[p : p + length])
        self._cache[n] = value
        return value


class _Stream:
    __slots__ = ("d", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.d = d
        self.raw = raw

    def decoded(self) -> bytes:
        filt = self.d.get("Filter")
        if isinstance(filt, list) and len(filt) == 1:
            filt = filt[0]
        if filt is None:
            return self.raw
        if filt != "FlateDecode":
            raise ValueError(f"stream filter {filt!r} out of scope")
        out = zlib_inflate(self.raw)
        parms = self.d.get("DecodeParms")
        if isinstance(parms, list) and len(parms) == 1:
            parms = parms[0]
        if parms is None:
            return out
        if not isinstance(parms, dict):
            raise ValueError("malformed /DecodeParms")
        pred = parms.get("Predictor", 1)
        if pred == 1:
            return out
        if not isinstance(pred, int) or not 10 <= pred <= 15:
            raise ValueError(f"predictor {pred!r} out of scope")
        columns = parms.get("Columns", 1)
        colors = parms.get("Colors", 1)
        bpc = parms.get("BitsPerComponent", 8)
        if bpc != 8:
            raise ValueError(f"predictor with {bpc}-bit components out of scope")
        if (
            not isinstance(columns, int) or not isinstance(colors, int)
            or not 1 <= colors <= 4 or not 1 <= columns <= 1 << 20
        ):
            raise ValueError("malformed predictor /Columns or /Colors")
        return _png_unpredict(out, columns, colors)


def _png_unpredict(data: bytes, columns: int, colors: int) -> bytes:
    """PNG predictors 10-15 over a byte stream (ISO 32000-1
    §7.4.4.4): rows of ``columns * colors`` bytes, each preceded by
    one PNG filter-type byte — the EXACT row filters already
    implemented for real PNGs, reused from :mod:`.png`."""
    import numpy as np

    from .png import _unfilter

    rowlen = columns * colors
    if rowlen == 0 or len(data) % (rowlen + 1):
        raise ValueError("predictor data is not whole filtered rows")
    height = len(data) // (rowlen + 1)
    lines = np.frombuffer(data, dtype=np.uint8).reshape(height, rowlen + 1)
    return _unfilter(lines, columns, height, bpp=colors).tobytes()


def _parse_classic_section(data: bytes, start: int) -> tuple[dict, dict]:
    """One classic cross-reference section + its trailer dict.
    In-use entries map to byte offsets; FREE entries map to None so
    an incremental delete SHADOWS older offsets in the newest-wins
    merge."""
    lex = _Lexer(data, start)
    t = lex.next_token()
    if t != ("kw", "xref"):
        raise ValueError("no classic xref table at section start")
    xref: dict[int, int | None | tuple] = {}
    while True:
        t = lex.next_token()
        if t == ("kw", "trailer"):
            break
        if t is None or t[0] != "num":
            raise ValueError("xref subsection header malformed")
        first = int(t[1])
        t2 = lex.next_token()
        if t2 is None or t2[0] != "num":
            raise ValueError("xref subsection count malformed")
        count = int(t2[1])
        if count < 0 or count > 1 << 20:
            raise ValueError("unreasonable xref subsection count")
        lex._skip_ws()
        pos = lex.pos
        for i in range(count):
            entry = data[pos : pos + 20]
            if len(entry) < 18:
                raise ValueError("truncated xref entry")
            try:
                off = int(entry[0:10])
            except ValueError:
                raise ValueError("non-numeric xref offset") from None
            kind = entry[17:18]
            if kind == b"n":
                xref[first + i] = off
            elif kind == b"f":
                xref[first + i] = None
            else:
                raise ValueError(f"xref entry type {kind!r} unknown")
            pos += 20
        lex.pos = pos
    trailer = lex.parse_value()
    if not isinstance(trailer, dict):
        raise ValueError("trailer is not a dictionary")
    return xref, trailer


def _parse_xref_stream_at(data: bytes, start: int) -> tuple[dict, dict]:
    """A PDF 1.5 cross-reference STREAM (ISO 32000-1 §7.5.8): an
    ordinary ``N G obj`` whose dict doubles as the trailer.  ``/W``
    gives the three field widths; rows cover the ``/Index``
    subsections (default ``[0 /Size]``).  Entry types: 0 = free
    (None), 1 = byte offset, 2 = ('objstm', stream number, index)."""
    lex = _Lexer(data, start)
    t1, t2, t3 = lex.next_token(), lex.next_token(), lex.next_token()
    if (
        t1 is None or t1[0] != "num" or t2 is None or t2[0] != "num"
        or t3 != ("kw", "obj")
    ):
        raise ValueError("no xref stream object at section start")
    d = lex.parse_value()
    if not isinstance(d, dict) or d.get("Type") != "XRef":
        raise ValueError("startxref object is not /Type /XRef")
    if lex.next_token() != ("kw", "stream"):
        raise ValueError("xref stream dict without stream data")
    p = lex.pos
    if data[p : p + 2] == b"\r\n":
        p += 2
    elif data[p : p + 1] == b"\n":
        p += 1
    else:
        raise ValueError("stream keyword not followed by EOL")
    length = d.get("Length")
    # /Length must be direct here: resolving an indirect length needs
    # the xref this stream is still defining
    if not isinstance(length, int) or length < 0 or p + length > len(data):
        raise ValueError("xref stream /Length missing or not direct")
    body = _Stream(d, data[p : p + length]).decoded()
    w = d.get("W")
    if (
        not isinstance(w, list) or len(w) != 3
        or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)
        or sum(w) == 0
    ):
        raise ValueError("xref stream /W malformed")
    size = d.get("Size")
    if not isinstance(size, int) or size <= 0 or size > 1 << 24:
        raise ValueError("xref stream /Size malformed")
    index = d.get("Index", [0, size])
    if (
        not isinstance(index, list) or len(index) % 2
        or not all(isinstance(x, int) and x >= 0 for x in index)
    ):
        raise ValueError("xref stream /Index malformed")
    rw = sum(w)
    n_rows = sum(index[1::2])
    if n_rows * rw != len(body):
        raise ValueError(
            f"xref stream holds {len(body)} bytes, "
            f"/Index wants {n_rows} x {rw}"
        )
    xref: dict[int, int | None | tuple] = {}
    pos = 0
    for k in range(0, len(index), 2):
        first, count = index[k], index[k + 1]
        for i in range(count):
            f = []
            for width in w:
                f.append(int.from_bytes(body[pos : pos + width], "big"))
                pos += width
            etype = f[0] if w[0] else 1  # width-0 type defaults to 1
            num = first + i
            if etype == 0:
                xref[num] = None
            elif etype == 1:
                xref[num] = f[1]
            elif etype == 2:
                xref[num] = ("objstm", f[1], f[2])
            else:
                raise ValueError(f"xref stream entry type {etype} unknown")
    return xref, d


_MAX_XREF_SECTIONS = 32


def _read_xref_chain(data: bytes, start: int) -> tuple[dict, dict]:
    """Follow the cross-reference chain from ``startxref``: classic
    tables and/or xref streams, ``/Prev`` links (incremental
    updates), and hybrid ``/XRefStm`` supplements.  Newest section
    wins — including FREE entries, so deletes shadow old offsets.
    Returns the merged (xref, trailer)."""
    xref: dict[int, int | None | tuple] = {}
    trailer: dict = {}
    seen: set[int] = set()
    for _ in range(_MAX_XREF_SECTIONS):
        if start in seen:
            raise ValueError("xref /Prev chain loops")
        seen.add(start)
        lex = _Lexer(data, start)
        t = lex.next_token()
        if t == ("kw", "xref"):
            sec, tr = _parse_classic_section(data, start)
        elif t is not None and t[0] == "num":
            sec, tr = _parse_xref_stream_at(data, start)
        else:
            raise ValueError("neither xref table nor xref stream at startxref")
        if "Encrypt" in tr:
            raise ValueError("encrypted PDF out of scope")
        xs = tr.get("XRefStm")
        if xs is not None:
            # hybrid-reference file (ISO 32000-1 §7.5.8.4): within
            # this update tier the STREAM's entries take precedence —
            # Acrobat-style writers mark ObjStm-contained objects FREE
            # in the classic table as a legacy-reader fallback, with
            # the real type-2 locations in the /XRefStm
            if not isinstance(xs, int) or not 0 < xs < len(data):
                raise ValueError("bad /XRefStm offset")
            ssec, _ = _parse_xref_stream_at(data, xs)
            for k, v in ssec.items():
                xref.setdefault(k, v)
        for k, v in sec.items():
            xref.setdefault(k, v)
        for k, v in tr.items():
            trailer.setdefault(k, v)
        prev = tr.get("Prev")
        if prev is None:
            return xref, trailer
        if not isinstance(prev, int) or not 0 < prev < len(data):
            raise ValueError("bad /Prev offset")
        start = prev
    raise ValueError("xref /Prev chain too long")


_TEXT_SHOW_OPS = ("Tj", "'", '"')


def _extract_text_ops(content: bytes) -> list[str]:
    """Walk a content stream; collect shown text from Tj / ' / " /
    TJ in operator order. Operands stack up until an operator names
    what to do with them — the PostScript-heritage model."""
    lex = _Lexer(content)
    stack: list = []
    out: list[str] = []
    while True:
        t = lex.next_token()
        if t is None:
            return out
        if t[0] == "kw":
            op = t[1]
            if op in _TEXT_SHOW_OPS:
                if stack and isinstance(stack[-1], bytes):
                    out.append(stack[-1].decode("latin-1"))
            elif op == "TJ":
                if stack and isinstance(stack[-1], list):
                    out.append(
                        "".join(
                            e.decode("latin-1")
                            for e in stack[-1]
                            if isinstance(e, bytes)
                        )
                    )
            stack.clear()
        elif t[0] == "str":
            stack.append(t[1])
        elif t[0] == "arr_open":
            arr = []
            while True:
                t2 = lex.next_token()
                if t2 is None:
                    raise ValueError("unterminated TJ array")
                if t2[0] == "arr_close":
                    break
                if t2[0] == "str":
                    arr.append(t2[1])
            stack.append(arr)
        elif t[0] == "num" or t[0] == "name":
            stack.append(t[1])
        elif t[0] == "dict_open":
            # inline dicts (e.g. BDC property lists): parse and drop
            d = {}
            while True:
                t2 = lex.next_token()
                if t2 is None:
                    raise ValueError("unterminated content dict")
                if t2[0] == "dict_close":
                    break
                if t2[0] == "name":
                    d[t2[1]] = lex.parse_value()
            stack.append(d)
        # arr_close outside an array would be malformed; ignore


def extract_pdf_text(payload: bytes) -> dict:
    """Full reader walk; returns the `pdf_text_extract` features.
    Page texts are joined with '|', text runs within a page
    concatenate in operator order."""
    if payload[:5] != b"%PDF-":
        raise ValueError("not a PDF (missing %PDF- header)")
    tail = payload[-256:]
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", tail):
        pass  # keep the LAST startxref
    if m is None:
        raise ValueError("startxref not found in file tail")
    xref_pos = int(m.group(1))
    if xref_pos <= 0 or xref_pos >= len(payload):
        raise ValueError("startxref offset out of bounds")
    xref, trailer = _read_xref_chain(payload, xref_pos)
    doc = _Document(payload, xref)
    root = doc.obj(trailer.get("Root"))
    if not isinstance(root, dict) or root.get("Type") != "Catalog":
        raise ValueError("trailer /Root is not the catalog")
    pages_node = doc.obj(root.get("Pages"))
    if not isinstance(pages_node, dict) or pages_node.get("Type") != "Pages":
        raise ValueError("catalog /Pages is not a page tree")
    kids = pages_node.get("Kids")
    if not isinstance(kids, list):
        raise ValueError("page tree without /Kids")
    page_texts: list[str] = []
    for kid in kids:
        page = doc.obj(kid)
        if not isinstance(page, dict) or page.get("Type") != "Page":
            raise ValueError("page-tree kid is not a /Page (nesting out of scope)")
        contents = page.get("Contents")
        streams = contents if isinstance(contents, list) else [contents]
        chunks: list[str] = []
        for sref in streams:
            st = doc.obj(sref)
            if not isinstance(st, _Stream):
                raise ValueError("/Contents entry is not a stream")
            chunks.extend(_extract_text_ops(st.decoded()))
        page_texts.append("".join(chunks))
    size = trailer.get("Size")
    if not isinstance(size, int):
        raise ValueError("trailer /Size missing")
    text = "|".join(page_texts)
    return {
        "n_pages": len(page_texts),
        "n_objects": size - 1,  # object 0 is the free-list head
        "text": text,
        "text_chars": len(text),
    }


# --- deterministic producer ------------------------------------------------


def synth_pdf_plan(seed: int) -> dict:
    """Text plan, mirrored in the DuckDB oracle: ``1 + seed%3``
    pages; page p shows, in order: ``Invoice {seed} page {p}``
    (Tj), ``line two {seed+p}`` ('), ``par``+``t{p}`` (TJ with a
    kerning number between), ``a(b)c\\dA`` (escapes + octal) and
    ``#{p}`` (hex string)."""
    n_pages = 1 + seed % 3
    pages = [
        f"Invoice {seed} page {p}"
        f"line two {seed + p}"
        f"part{p}"
        "a(b)c\\dA"
        f"#{p}"
        for p in range(n_pages)
    ]
    return {"n_pages": n_pages, "pages": pages, "text": "|".join(pages)}


def synth_pdf(seed: int) -> bytes:
    """Assemble a classic-xref PDF byte-by-byte: catalog, page tree,
    one page + one FlateDecode content stream per page (page 0's
    /Length is an INDIRECT reference, exercising that resolution
    path), a shared Type1 font, a correct xref table and trailer."""
    import zlib

    n_pages = 1 + seed % 3
    objects: dict[int, bytes] = {}
    # object numbering: 1 catalog, 2 pages, 3 font,
    # per page p: 4+2p page, 5+2p content; length obj for page 0 last
    font_ref = 3
    first_page_obj = 4
    len_obj = first_page_obj + 2 * n_pages
    kids = " ".join(f"{first_page_obj + 2 * p} 0 R" for p in range(n_pages))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objects[font_ref] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    streams: dict[int, bytes] = {}
    for p in range(n_pages):
        page_obj = first_page_obj + 2 * p
        content_obj = page_obj + 1
        hexs = f"#{p}".encode().hex().upper()
        content = (
            f"BT /F1 12 Tf 72 720 Td (Invoice {seed} page {p}) Tj "
            f"0 -14 Td (line two {seed + p}) ' "
            f"[(par) -250 (t{p})] TJ "
            "(a\\(b\\)c\\\\d\\101) Tj "
            f"<{hexs}> Tj ET"
        ).encode()
        comp = zlib.compress(content, 9)
        if p == 0:
            dict_bytes = (
                f"<< /Length {len_obj} 0 R /Filter /FlateDecode >>".encode()
            )
            objects[len_obj] = str(len(comp)).encode()
        else:
            dict_bytes = (
                f"<< /Length {len(comp)} /Filter /FlateDecode >>".encode()
            )
        streams[content_obj] = dict_bytes + b"\nstream\n" + comp + b"\nendstream"
        objects[page_obj] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {font_ref} 0 R >> >> "
            f"/Contents {content_obj} 0 R >>"
        ).encode()
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for n in sorted(set(objects) | set(streams)):
        offsets[n] = len(out)
        body = streams.get(n, objects.get(n))
        out += f"{n} 0 obj\n".encode() + body + b"\nendobj\n"
    size = len(offsets) + 1
    xref_pos = len(out)
    out += f"xref\n0 {size}\n".encode()
    out += b"0000000000 65535 f \n"
    for n in range(1, size):
        out += f"{offsets[n]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {size} /Root 1 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n"
    ).encode()
    return bytes(out)


def synth_pdf_xref_stream(seed: int) -> bytes:
    """The PDF 1.5+ layout EVERY modern writer emits by default:
    catalog/pages/font packed into an OBJECT STREAM (``/Type
    /ObjStm``), the cross-reference as a ``/Type /XRef`` STREAM with
    ``/W [1 4 2]`` field widths, FlateDecode + ``/Predictor 12``
    row filters (rotated per seed through None/Sub/Up/Paeth — the
    predictor VALUE only announces "PNG family"; each row's filter
    byte decides), and ``/Index`` exercised in all three spellings
    (omitted / explicit / split subsections).  Same text plan as
    :func:`synth_pdf`, so the oracle shares its string formulas;
    object count differs (the ObjStm and XRef stream are objects)."""
    import zlib

    n_pages = 1 + seed % 3
    first_page_obj = 4
    objstm_num = first_page_obj + 2 * n_pages
    xref_num = objstm_num + 1
    size = xref_num + 1
    kids = " ".join(f"{first_page_obj + 2 * p} 0 R" for p in range(n_pages))
    inner: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for p in range(n_pages):
        page_obj = first_page_obj + 2 * p
        content_obj = page_obj + 1
        hexs = f"#{p}".encode().hex().upper()
        content = (
            f"BT /F1 12 Tf 72 720 Td (Invoice {seed} page {p}) Tj "
            f"0 -14 Td (line two {seed + p}) ' "
            f"[(par) -250 (t{p})] TJ "
            "(a\\(b\\)c\\\\d\\101) Tj "
            f"<{hexs}> Tj ET"
        ).encode()
        comp = zlib.compress(content, 9)
        offsets[content_obj] = len(out)
        out += (
            f"{content_obj} 0 obj\n<< /Length {len(comp)} "
            f"/Filter /FlateDecode >>\nstream\n".encode()
            + comp
            + b"\nendstream\nendobj\n"
        )
        offsets[page_obj] = len(out)
        out += (
            f"{page_obj} 0 obj\n<< /Type /Page /Parent 2 0 R "
            f"/MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {content_obj} 0 R >>\nendobj\n"
        ).encode()
    # object stream: directory of (objnum, relative offset) pairs,
    # then the bodies at /First + offset
    dir_parts, bodies, rel = [], [], 0
    for num in sorted(inner):
        b = inner[num]
        dir_parts.append(f"{num} {rel}")
        bodies.append(b)
        rel += len(b) + 1
    header = (" ".join(dir_parts) + " ").encode()
    stm_plain = header + b" ".join(bodies)
    first = len(header)
    comp = zlib.compress(stm_plain, 9)
    offsets[objstm_num] = len(out)
    out += (
        f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(inner)} "
        f"/First {first} /Length {len(comp)} "
        f"/Filter /FlateDecode >>\nstream\n".encode()
        + comp
        + b"\nendstream\nendobj\n"
    )
    # xref stream rows, W = [1 4 2]
    xref_pos = len(out)
    offsets[xref_num] = xref_pos
    rows = []
    rows.append((0, 0, 65535))  # object 0: free-list head
    for num, idx in zip(sorted(inner), range(len(inner))):
        rows.append((2, objstm_num, idx))
    for num in range(first_page_obj, objstm_num + 1):
        rows.append((1, offsets[num], 0))
    rows.append((1, xref_pos, 0))
    raw = b"".join(
        bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in rows
    )
    # PNG-predict the rows (filter rotated by seed; Up needs the
    # previous RECONSTRUCTED row, Sub/Paeth the previous bytes)
    rowlen = 7
    filt = (0, 1, 2, 4)[seed % 4]
    filtered = bytearray()
    prev = bytes(rowlen)
    for r in range(0, len(raw), rowlen):
        row = raw[r : r + rowlen]
        filtered.append(filt)
        if filt == 0:
            filtered += row
        elif filt == 1:  # Sub, bpp=1
            left = 0
            for x in row:
                filtered.append((x - left) & 0xFF)
                left = x
        elif filt == 2:  # Up
            filtered += bytes((x - p) & 0xFF for x, p in zip(row, prev))
        else:  # Paeth, bpp=1: predictor(left, up, upleft)
            left = upleft = 0
            for x, up in zip(row, prev):
                pp = left + up - upleft
                pa, pb, pc = abs(pp - left), abs(pp - up), abs(pp - upleft)
                pred = (
                    left if (pa <= pb and pa <= pc)
                    else (up if pb <= pc else upleft)
                )
                filtered.append((x - pred) & 0xFF)
                left, upleft = x, up
        prev = row
    comp = zlib.compress(bytes(filtered), 9)
    index = {
        0: b"",
        1: f" /Index [0 {size}]".encode(),
        2: f" /Index [0 1 1 {size - 1}]".encode(),
    }[seed % 3]
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [1 4 2]"
        .encode()
        + index
        + (
            f" /Root 1 0 R /Length {len(comp)} /Filter /FlateDecode"
            f" /DecodeParms << /Predictor 12 /Columns {rowlen} >> >>"
            f"\nstream\n"
        ).encode()
        + comp
        + b"\nendstream\nendobj\n"
    )
    out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)


def synth_pdf_incremental(seed: int) -> bytes:
    """An INCREMENTAL UPDATE on top of :func:`synth_pdf`'s classic
    file — how every PDF editor saves: the original bytes untouched,
    a replacement for page 0's content stream appended, a second
    xref section covering only the changed object (plus a FREED
    entry shadowing the now-orphaned indirect-length object), and a
    trailer whose ``/Prev`` points at the original table.  Page 0's
    text becomes ``rev2 {seed} page 0``; other pages keep the base
    plan."""
    import zlib

    base = synth_pdf(seed)
    m = None
    for m in re.finditer(rb"startxref\s+(\d+)", base[-256:]):
        pass
    assert m is not None  # our own producer always writes one
    old_xref = int(m.group(1))
    n_pages = 1 + seed % 3
    size = 2 * n_pages + 5  # unchanged /Size
    len_obj = 4 + 2 * n_pages  # the old indirect-length object, freed
    content = f"BT /F1 12 Tf 72 720 Td (rev2 {seed} page 0) Tj ET".encode()
    comp = zlib.compress(content, 9)
    out = bytearray(base)
    new_off = len(out)
    out += (
        f"5 0 obj\n<< /Length {len(comp)} /Filter /FlateDecode >>"
        f"\nstream\n".encode()
        + comp
        + b"\nendstream\nendobj\n"
    )
    new_xref = len(out)
    out += (
        f"xref\n5 1\n{new_off:010d} 00001 n \n"
        f"{len_obj} 1\n0000000000 00001 f \n"
        f"trailer\n<< /Size {size} /Root 1 0 R /Prev {old_xref} >>\n"
        f"startxref\n{new_xref}\n%%EOF\n"
    ).encode()
    return bytes(out)
