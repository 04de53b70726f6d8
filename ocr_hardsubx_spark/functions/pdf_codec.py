"""From-scratch PDF text + layout extraction (ISO 32000-1 subset), stdlib only.

The north rule names "PDF/layout parse" as a first-class input path of the
main-content extraction pipeline next to the HTML boilerplate strip
(reference contract: erfilter.c's detect->classify->recognize over page
regions; here the "regions" are positioned text spans).  This module is the
codec layer: a real parser for the PDF object model and content streams,
plus a deterministic writer used by fixtures and the roundtrip oracle
queries (the writer is NOT a general-purpose PDF producer).

Parser coverage (all from the public ISO 32000-1 / Adobe PDF 1.7 spec):

* COS object model — literal strings (escapes, octal, nested parens, line
  continuations), hex strings, names with ``#xx`` escapes, numbers, arrays,
  dictionaries, indirect references, streams, comments.
* Cross-reference: classic ``xref`` tables (multi-subsection, incremental
  updates via ``/Prev`` chains) AND PDF 1.5 cross-reference streams
  (``/W``/``/Index``, PNG predictors) with compressed objects in object
  streams (``/Type /ObjStm``).
* Stream filters: FlateDecode (with TIFF predictor 2 and PNG predictors
  10-15), ASCIIHexDecode, ASCII85Decode, RunLengthDecode.  Anything else
  (LZW, DCT, JBIG2, Crypt) raises :class:`UnsupportedPdf` so the operator
  layer can provenance-flag the row instead of dropping it.
* Page tree walk with attribute inheritance (``/Resources``, ``/MediaBox``).
* Content-stream text interpreter: ``BT/ET``, ``Tf``, ``Td``, ``TD``,
  ``Tm``, ``T*``, ``TL``, ``Tc``, ``Tw``, ``Tz``, ``Tj``, ``TJ``, ``'``,
  ``"`` and the graphics-state subset that moves text space (``q``, ``Q``,
  ``cm``).  Spans record device-space position and effective size, so
  reading order is recovered from layout, not emission order.
* Font decoding: simple fonts with ``/WinAnsiEncoding`` /
  ``/MacRomanEncoding`` / ``/StandardEncoding`` base maps plus
  ``/Differences`` (glyph names via an AGL subset), ``/ToUnicode`` CMaps
  (``bfchar`` + both ``bfrange`` forms), and Identity-H Type0 fonts when a
  ToUnicode CMap is present.  Unmappable codes decode to U+FFFD and clear
  the per-document ``decoded_real`` flag rather than guessing silently.

Layout analysis (the "boilerplate strip" analog for paged documents):
:func:`strip_furniture` drops running headers/footers — lines whose
digit-masked text repeats at the same quantized y on a majority of pages —
and standalone page-number lines, the paged twin of the HTML nav/footer
collapse in ``operators/parse.py``.

Width caveat: the parser carries no font metrics, so the horizontal extent
of a shown string is estimated at ``0.5 em`` per character when deciding
whether two same-line spans abut (join with no separator) or are spaced
apart (join with a single space).  ``TJ`` kerning adjustments more negative
than ``-180`` (thousandths of an em) are treated as inter-word space, the
convention most extractors use.
"""

from __future__ import annotations

import re
import zlib

__all__ = [
    "UnsupportedPdf",
    "PdfDocument",
    "extract_spans",
    "page_lines",
    "extract_text",
    "strip_furniture",
    "write_pdf",
    "write_pdf_raw",
]


class UnsupportedPdf(ValueError):
    """Payload is not a PDF this codec can decode; the caller flags the
    row, it does not drop it."""


# --------------------------------------------------------------------------
# COS object model
# --------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
# single-match lexer fast paths (same character classes as _WS/_DELIM):
# one regex call replaces the per-byte Python loops in skip_ws /
# _read_number_or_kw / _read_name — the content-stream tokenizer is the
# extract_spans hot path (~2/3 of parse CPU before this change)
_WSC_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")
_BARE_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")


class Ref:
    """Indirect object reference ``num gen R``."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num = num
        self.gen = gen

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other) -> bool:
        return (isinstance(other, Ref)
                and (self.num, self.gen) == (other.num, other.gen))

    def __hash__(self) -> int:
        return hash((self.num, self.gen))


class Name(str):
    """PDF name object (``/Foo``); subclass so dict keys stay plain str."""

    __slots__ = ()


class Stream:
    """Stream object: dict + raw (still-encoded) data."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw


class _Keyword(str):
    """Bare keyword token (operators, ``obj``, ``stream``, ``R``...)."""

    __slots__ = ()


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def skip_ws(self) -> None:
        # whitespace runs and '%' comments (to EOL, EOL not consumed by
        # the comment arm — the next ws run takes it) in ONE regex match
        m = _WSC_RE.match(self.data, self.pos)
        if m:
            self.pos = m.end()

    def _read_name(self) -> Name:
        d, n = self.data, len(self.data)
        self.pos += 1  # '/'
        # fast path: names without '#xx' escapes (the overwhelming
        # majority) are one regex token
        m = _BARE_RE.match(d, self.pos)
        tok = m.group()
        if 0x23 not in tok:
            self.pos = m.end()
            return Name(tok.decode("latin-1"))
        out = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and self.pos + 2 < n:  # '#xx'
                out.append(int(d[self.pos + 1:self.pos + 3], 16))
                self.pos += 3
            else:
                out.append(c)
                self.pos += 1
        return Name(out.decode("latin-1"))

    def _read_literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # '('
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9,
                                0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                    val = 0
                    k = 0
                    while (k < 3 and self.pos < n
                           and 0x30 <= d[self.pos] <= 0x37):
                        val = val * 8 + (d[self.pos] - 0x30)
                        self.pos += 1
                        k += 1
                    out.append(val & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:  # unknown escape: emit char as-is
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    break
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        return bytes(out)

    def _read_hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1  # '<'
        digits = bytearray()
        while self.pos < n and d[self.pos] != 0x3E:  # '>'
            c = d[self.pos]
            if c not in _WS:
                digits.append(c)
            self.pos += 1
        self.pos += 1
        if len(digits) % 2:
            digits.append(0x30)  # trailing zero per spec
        return bytes.fromhex(digits.decode("latin-1"))

    def _read_number_or_kw(self):
        m = _BARE_RE.match(self.data, self.pos)
        tok = m.group()
        self.pos = m.end()
        # only tokens that LOOK numeric (leading digit/sign/dot) enter
        # the int/float parse: operator keywords (Tf, Tj, BT...) used to
        # pay a raised-and-caught ValueError each — ~40% of all content
        # tokens — which dominated this function's profile
        if tok and (0x30 <= tok[0] <= 0x39 or tok[0] in (0x2B, 0x2D,
                                                         0x2E)):
            try:
                if b"." in tok:
                    return float(tok)
                return int(tok)
            except ValueError:
                pass
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        return _Keyword(tok.decode("latin-1"))

    def next_token(self):
        """One lexical token: scalar, Name, bytes (string), _Keyword, or
        the structural markers '[' ']' '<<' '>>'."""
        self.skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            raise UnsupportedPdf("unexpected end of data")
        c = d[self.pos]
        if c == 0x2F:
            return self._read_name()
        if c == 0x28:
            return self._read_literal_string()
        if c == 0x3C:
            if self.pos + 1 < n and d[self.pos + 1] == 0x3C:
                self.pos += 2
                return _Keyword("<<")
            return self._read_hex_string()
        if c == 0x3E and self.pos + 1 < n and d[self.pos + 1] == 0x3E:
            self.pos += 2
            return _Keyword(">>")
        if c == 0x5B:
            self.pos += 1
            return _Keyword("[")
        if c == 0x5D:
            self.pos += 1
            return _Keyword("]")
        if c in b"{}":
            self.pos += 1
            return _Keyword(chr(c))
        return self._read_number_or_kw()

    def parse_object(self):
        """One COS object, resolving ``num gen R`` lookahead to Ref."""
        tok = self.next_token()
        return self._object_from(tok)

    def _object_from(self, tok):
        if isinstance(tok, _Keyword):
            if tok == "<<":
                d = {}
                while True:
                    k = self.next_token()
                    if isinstance(k, _Keyword) and k == ">>":
                        return d
                    if not isinstance(k, Name):
                        raise UnsupportedPdf(f"dict key {k!r} is not a name")
                    d[str(k)] = self.parse_object()
            if tok == "[":
                arr = []
                while True:
                    t = self.next_token()
                    if isinstance(t, _Keyword) and t == "]":
                        return arr
                    arr.append(self._object_from(t))
            raise UnsupportedPdf(f"unexpected keyword {tok!r}")
        if isinstance(tok, int) and not isinstance(tok, bool):
            # lookahead for 'gen R'
            save = self.pos
            try:
                t2 = self.next_token()
                if isinstance(t2, int) and not isinstance(t2, bool):
                    t3 = self.next_token()
                    if isinstance(t3, _Keyword) and t3 == "R":
                        return Ref(tok, t2)
            except UnsupportedPdf:
                pass
            self.pos = save
            return tok
        return tok


# --------------------------------------------------------------------------
# Stream filters
# --------------------------------------------------------------------------

def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    bpp = max(1, (colors * bpc + 7) // 8)
    stride = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    while pos + 1 + stride <= len(data) + stride and pos < len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            raise UnsupportedPdf(f"PNG predictor row filter {ft}")
        out.extend(row)
        prev = row
    return bytes(out)


def _tiff_unpredict(data: bytes, columns: int, colors: int,
                    bpc: int) -> bytes:
    if bpc != 8:
        raise UnsupportedPdf("TIFF predictor with bpc != 8")
    stride = columns * colors
    out = bytearray(data)
    for r0 in range(0, len(out), stride):
        for i in range(r0 + colors, min(r0 + stride, len(out))):
            out[i] = (out[i] + out[i - colors]) & 0xFF
    return bytes(out)


def _apply_predictor(data: bytes, parms: dict) -> bytes:
    pred = parms.get("Predictor", 1)
    if pred == 1:
        return data
    columns = parms.get("Columns", 1)
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    if pred == 2:
        return _tiff_unpredict(data, columns, colors, bpc)
    if 10 <= pred <= 15:
        return _png_unpredict(data, columns, colors, bpc)
    raise UnsupportedPdf(f"predictor {pred}")


def _run_length_decode(data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data):
        length = data[pos]
        pos += 1
        if length == 128:
            break
        if length < 128:
            out.extend(data[pos:pos + length + 1])
            pos += length + 1
        else:
            out.extend(data[pos:pos + 1] * (257 - length))
            pos += 1
    return bytes(out)


def _ascii85_decode(data: bytes) -> bytes:
    import base64

    body = re.sub(rb"\s", b"", data)
    if body.startswith(b"<~"):
        body = body[2:]
    if body.endswith(b"~>"):
        body = body[:-2]
    return base64.a85decode(body)


def _asciihex_decode(data: bytes) -> bytes:
    body = re.sub(rb"\s", b"", data)
    if body.endswith(b">"):
        body = body[:-1]
    if len(body) % 2:
        body += b"0"
    return bytes.fromhex(body.decode("latin-1"))


# --------------------------------------------------------------------------
# Document: xref, objects, streams, pages
# --------------------------------------------------------------------------

class PdfDocument:
    """Parsed PDF: xref map + lazy object cache + page walk."""

    def __init__(self, data: bytes) -> None:
        if not data.lstrip(b"\x00\t\n\x0c\r %").startswith(b"PDF-") \
                and b"%PDF-" not in data[:1024]:
            raise UnsupportedPdf("missing %PDF- header")
        self.data = data
        self.xref: dict[int, tuple] = {}   # num -> ('n', offset) | ('c', stm, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._load_xref_chain()

    # -- xref ---------------------------------------------------------------

    def _load_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise UnsupportedPdf("startxref not found")
        offset = int(m.group(1))
        seen = set()
        while offset and offset not in seen:
            seen.add(offset)
            offset = self._load_xref_at(offset)

    def _load_xref_at(self, offset: int) -> int:
        """Parse one xref section (table or stream); return /Prev or 0."""
        lex = _Lexer(self.data, offset)
        lex.skip_ws()
        if self.data[lex.pos:lex.pos + 4] == b"xref":
            return self._load_xref_table(lex)
        return self._load_xref_stream(lex)

    def _load_xref_table(self, lex: _Lexer) -> int:
        lex.pos += 4  # 'xref'
        while True:
            lex.skip_ws()
            if self.data[lex.pos:lex.pos + 7] == b"trailer":
                lex.pos += 7
                trailer = lex.parse_object()
                break
            start = lex.next_token()
            count = lex.next_token()
            if not isinstance(start, int) or not isinstance(count, int):
                raise UnsupportedPdf("malformed xref subsection header")
            for i in range(count):
                lex.skip_ws()
                entry = self.data[lex.pos:lex.pos + 20]
                lex.pos += 20
                off = int(entry[0:10])
                kind = entry[17:18]
                num = start + i
                if kind == b"n" and num not in self.xref:
                    self.xref[num] = ("n", off)
        if not self.trailer:
            self.trailer = trailer
        # hybrid-reference files: /XRefStm points at an xref stream with
        # entries for compressed objects invisible to the classic table
        if "XRefStm" in trailer:
            self._load_xref_at(trailer["XRefStm"])
        return trailer.get("Prev", 0)

    def _load_xref_stream(self, lex: _Lexer) -> int:
        num = lex.next_token()
        gen = lex.next_token()
        kw = lex.next_token()
        if not (isinstance(num, int) and isinstance(gen, int)
                and kw == "obj"):
            raise UnsupportedPdf("xref offset points at neither table nor "
                                 "stream object")
        obj = self._parse_indirect_body(lex)
        if not isinstance(obj, Stream) or obj.dict.get("Type") != "XRef":
            raise UnsupportedPdf("expected /Type /XRef stream")
        if not self.trailer:
            self.trailer = obj.dict
        data = self.decode_stream(obj)
        w = [int(x) for x in obj.dict["W"]]
        size = obj.dict["Size"]
        index = obj.dict.get("Index", [0, size])
        rw = sum(w)
        pos = 0
        for k in range(0, len(index), 2):
            start, count = index[k], index[k + 1]
            for i in range(count):
                if pos + rw > len(data):
                    raise UnsupportedPdf("xref stream truncated")
                fields = []
                for width in w:
                    v = int.from_bytes(data[pos:pos + width], "big") \
                        if width else 1
                    pos += width
                    fields.append(v)
                num2 = start + i
                ftype = fields[0]
                if num2 in self.xref:
                    continue
                if ftype == 1:
                    self.xref[num2] = ("n", fields[1])
                elif ftype == 2:
                    self.xref[num2] = ("c", fields[1], fields[2])
        return obj.dict.get("Prev", 0)

    # -- objects --------------------------------------------------------

    def _parse_indirect_body(self, lex: _Lexer):
        obj = lex.parse_object()
        if isinstance(obj, dict):
            save = lex.pos
            lex.skip_ws()
            if self.data[lex.pos:lex.pos + 6] == b"stream":
                lex.pos += 6
                if self.data[lex.pos:lex.pos + 2] == b"\r\n":
                    lex.pos += 2
                elif self.data[lex.pos:lex.pos + 1] in (b"\n", b"\r"):
                    lex.pos += 1
                length = obj.get("Length")
                if isinstance(length, Ref):
                    length = self.resolve(length)
                if isinstance(length, int):
                    raw = self.data[lex.pos:lex.pos + length]
                else:  # lenient: scan for endstream
                    end = self.data.find(b"endstream", lex.pos)
                    raw = self.data[lex.pos:end].rstrip(b"\r\n")
                return Stream(obj, raw)
            lex.pos = save
        return obj

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        entry = self.xref.get(num)
        if entry is None:
            return None
        if entry[0] == "n":
            lex = _Lexer(self.data, entry[1])
            onum = lex.next_token()
            lex.next_token()  # gen
            kw = lex.next_token()
            if onum != num or kw != "obj":
                raise UnsupportedPdf(f"object {num} not at xref offset")
            obj = self._parse_indirect_body(lex)
        else:  # compressed in an object stream
            obj = self._get_from_objstm(entry[1], entry[2], num)
        self._cache[num] = obj
        return obj

    def _get_from_objstm(self, stm_num: int, idx: int, want: int):
        stm = self.get(stm_num)
        if not isinstance(stm, Stream) or stm.dict.get("Type") != "ObjStm":
            raise UnsupportedPdf(f"object stream {stm_num} missing")
        data = self.decode_stream(stm)
        first = stm.dict["First"]
        n = stm.dict["N"]
        head = _Lexer(data, 0)
        pairs = []
        for _ in range(n):
            onum = head.next_token()
            off = head.next_token()
            pairs.append((onum, off))
        if idx >= len(pairs) or pairs[idx][0] != want:
            # lenient: search by object number
            for onum, off in pairs:
                if onum == want:
                    return _Lexer(data, first + off).parse_object()
            raise UnsupportedPdf(f"object {want} not in ObjStm {stm_num}")
        return _Lexer(data, first + pairs[idx][1]).parse_object()

    def resolve(self, obj):
        depth = 0
        while isinstance(obj, Ref):
            obj = self.get(obj.num)
            depth += 1
            if depth > 32:
                raise UnsupportedPdf("reference cycle")
        return obj

    # -- streams ----------------------------------------------------------

    def decode_stream(self, stm: Stream) -> bytes:
        filters = self.resolve(stm.dict.get("Filter"))
        if filters is None:
            return stm.raw
        if isinstance(filters, str):
            filters = [filters]
        parms = self.resolve(stm.dict.get("DecodeParms"))
        if parms is None or isinstance(parms, dict):
            parms = [parms] * len(filters)
        data = stm.raw
        for f, p in zip(filters, parms):
            p = self.resolve(p) or {}
            if f == "FlateDecode":
                try:
                    inflated = zlib.decompress(data)
                except zlib.error as exc:
                    raise UnsupportedPdf(f"corrupt Flate stream: {exc}") \
                        from exc
                data = _apply_predictor(inflated, p)
            elif f == "ASCIIHexDecode":
                data = _asciihex_decode(data)
            elif f == "ASCII85Decode":
                data = _ascii85_decode(data)
            elif f == "RunLengthDecode":
                data = _run_length_decode(data)
            else:
                raise UnsupportedPdf(f"stream filter {f}")
        return data

    # -- pages ------------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise UnsupportedPdf("missing /Root catalog")
        out: list[dict] = []
        inherit = {}
        self._walk_pages(self.resolve(root.get("Pages")), inherit, out, 0)
        return out

    def _walk_pages(self, node, inherit: dict, out: list, depth: int):
        if depth > 64 or not isinstance(node, dict):
            raise UnsupportedPdf("malformed page tree")
        inh = dict(inherit)
        for k in ("Resources", "MediaBox", "Rotate"):
            if k in node:
                inh[k] = node[k]
        if node.get("Type") == "Pages" or "Kids" in node:
            for kid in self.resolve(node.get("Kids", [])):
                self._walk_pages(self.resolve(kid), inh, out, depth + 1)
        else:
            page = dict(node)
            for k, v in inh.items():
                page.setdefault(k, v)
            out.append(page)

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, Stream):
            return self.decode_stream(contents)
        parts = [self.decode_stream(self.resolve(c)) for c in contents]
        return b"\n".join(parts)


# --------------------------------------------------------------------------
# Font encodings
# --------------------------------------------------------------------------

# WinAnsiEncoding = cp1252: latin-1 with the 0x80-0x9F window remapped.
_WINANSI_HIGH = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}


def _winansi_table() -> dict[int, str]:
    t = {c: chr(c) for c in range(32, 256)}
    t.update(_WINANSI_HIGH)
    for c in (0x81, 0x8D, 0x8F, 0x90, 0x9D):
        t.pop(c, None)
    return t


_WINANSI = _winansi_table()
_WINANSI_REV = {v: k for k, v in _WINANSI.items()}

# MacRomanEncoding high range (the slice fixtures exercise; full table is
# public but the corpus is ASCII-dominated — unmapped codes flag the row).
_MACROMAN_HIGH = {
    0x80: "Ä", 0x81: "Å", 0x82: "Ç", 0x83: "É",
    0x84: "Ñ", 0x85: "Ö", 0x86: "Ü", 0x87: "á",
    0x88: "à", 0x89: "â", 0x8A: "ä", 0x8B: "ã",
    0x8C: "å", 0x8D: "ç", 0x8E: "é", 0x8F: "è",
    0xA0: "†", 0xA1: "°", 0xA5: "•", 0xD0: "–",
    0xD1: "—", 0xD2: "“", 0xD3: "”", 0xD4: "‘",
    0xD5: "’",
}

# Adobe Glyph List subset for /Differences (letters + digits + the
# punctuation fixtures and web text actually hit).
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "bullet": "•",
    "emdash": "—", "endash": "–", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "ellipsis": "…", "fi": "ﬁ",
    "fl": "ﬂ", "degree": "°", "Euro": "€",
}
for _ch in "abcdefghijklmnopqrstuvwxyz":
    _AGL[_ch] = _ch
    _AGL[_ch.upper()] = _ch.upper()


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """bfchar/bfrange pairs from a ToUnicode CMap stream."""
    out: dict[int, str] = {}

    def _u16(hexs: bytes) -> str:
        b = bytes.fromhex(hexs.decode("latin-1"))
        if len(b) % 2:
            b += b"\x00"
        return b.decode("utf-16-be")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", cmap, re.S):
        for src, dst in re.findall(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                                   m.group(1)):
            out[int(src, 16)] = _u16(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", cmap, re.S):
        body = m.group(1)
        pat = (rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
               rb"(<[0-9A-Fa-f]+>|\[[^\]]*\])")
        for lo, hi, dst in re.findall(pat, body):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if dst.startswith(b"["):
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", dst)
                for i, d in enumerate(dsts):
                    if lo_i + i <= hi_i:
                        out[lo_i + i] = _u16(d)
            else:
                base = int(dst[1:-1], 16)
                for i in range(hi_i - lo_i + 1):
                    out[lo_i + i] = chr(base + i)
    return out


class _Font:
    """code -> unicode decoder for one /Font resource."""

    __slots__ = ("two_byte", "map", "real")

    def __init__(self, doc: PdfDocument, fobj: dict) -> None:
        fobj = doc.resolve(fobj)
        self.two_byte = False
        self.real = True
        subtype = fobj.get("Subtype")
        tounicode = doc.resolve(fobj.get("ToUnicode"))
        cmap = (_parse_tounicode(doc.decode_stream(tounicode))
                if isinstance(tounicode, Stream) else None)
        if subtype == "Type0":
            enc = doc.resolve(fobj.get("Encoding"))
            if enc not in ("Identity-H", "Identity-V"):
                self.real = False
            self.two_byte = True
            self.map = cmap if cmap is not None else {}
            if cmap is None:
                self.real = False
            return
        # simple font: build the 1-byte table
        table = dict(_WINANSI)  # sensible default for web-era PDFs
        enc = doc.resolve(fobj.get("Encoding"))
        base = enc if isinstance(enc, str) else (
            doc.resolve(enc.get("BaseEncoding")) if isinstance(enc, dict)
            else None)
        if base == "MacRomanEncoding":
            table = {c: chr(c) for c in range(32, 127)}
            table.update(_MACROMAN_HIGH)
        elif base == "StandardEncoding":
            table = {c: chr(c) for c in range(32, 127)}
        elif base == "WinAnsiEncoding" or base is None:
            pass  # keep WinAnsi default
        else:
            self.real = False
        if isinstance(enc, dict) and "Differences" in enc:
            code = 0
            for item in doc.resolve(enc["Differences"]):
                if isinstance(item, (int, float)):
                    code = int(item)
                else:
                    glyph = str(item)
                    if glyph in _AGL:
                        table[code] = _AGL[glyph]
                    elif re.fullmatch(r"uni([0-9A-Fa-f]{4})", glyph):
                        table[code] = chr(int(glyph[3:], 16))
                    else:
                        table[code] = "�"
                        self.real = False
                    code += 1
        if cmap:
            table.update(cmap)
        self.map = table

    def decode(self, raw: bytes) -> tuple[str, bool]:
        ok = self.real
        out = []
        if self.two_byte:
            codes = [int.from_bytes(raw[i:i + 2], "big")
                     for i in range(0, len(raw) - len(raw) % 2, 2)]
        else:
            codes = list(raw)
        for c in codes:
            ch = self.map.get(c)
            if ch is None:
                ch = "�"
                ok = False
            out.append(ch)
        return "".join(out), ok


# --------------------------------------------------------------------------
# Content-stream text interpreter
# --------------------------------------------------------------------------

def _mat_mul(m: tuple, n: tuple) -> tuple:
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

# kerning adjustment (thousandths of em, negative = rightward gap) below
# which a TJ element boundary is read as an inter-word space
TJ_SPACE_THRESHOLD = -180.0


def _interp_page(doc: PdfDocument, content: bytes,
                 fonts: dict[str, _Font]) -> tuple[list[dict], bool]:
    """Run the text-op subset; return (spans, decoded_real)."""
    lex = _Lexer(content, 0)
    stack: list = []          # operand stack
    ctm_stack: list = []
    ctm = _ID
    tm = tlm = _ID
    font: _Font | None = None
    size = 0.0
    leading = 0.0
    spans: list[dict] = []
    real = True

    def device_pos() -> tuple[float, float, float]:
        m = _mat_mul(tm, ctm)
        sy = (m[2] * m[2] + m[3] * m[3]) ** 0.5
        return m[4], m[5], size * sy

    def show(raw: bytes, pieces: list[str]) -> None:
        nonlocal real
        if not isinstance(raw, bytes):
            return
        if font is None:
            text, ok = raw.decode("latin-1"), False
        else:
            text, ok = font.decode(raw)
        real = real and ok
        pieces.append(text)

    def emit(pieces: list[str]) -> None:
        text = "".join(pieces)
        if text:
            x, y, sz = device_pos()
            spans.append({"x": x, "y": y, "size": sz, "text": text})

    while True:
        lex.skip_ws()
        if lex.pos >= len(lex.data):
            break
        tok = lex.next_token()
        if not isinstance(tok, _Keyword) or tok in ("<<", "[", "]", ">>"):
            # operand (strings/numbers/names/arrays/dicts)
            if isinstance(tok, _Keyword) and tok == "<<":
                stack.append(lex._object_from(tok))
            elif isinstance(tok, _Keyword) and tok == "[":
                stack.append(lex._object_from(tok))
            else:
                stack.append(tok)
            continue
        op = str(tok)
        if op == "q":
            ctm_stack.append(ctm)
        elif op == "Q":
            if ctm_stack:
                ctm = ctm_stack.pop()
        elif op == "cm" and len(stack) >= 6:
            ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
        elif op == "BT":
            tm = tlm = _ID
        elif op == "ET":
            pass
        elif op == "Tf" and len(stack) >= 2:
            fname, size = stack[-2], float(stack[-1])
            font = fonts.get(str(fname))
            if font is None:
                real = False
        elif op == "TL" and stack:
            leading = float(stack[-1])
        elif op in ("Td", "TD") and len(stack) >= 2:
            tx, ty = float(stack[-2]), float(stack[-1])
            if op == "TD":
                leading = -ty
            tlm = _mat_mul((1, 0, 0, 1, tx, ty), tlm)
            tm = tlm
        elif op == "Tm" and len(stack) >= 6:
            tm = tlm = tuple(float(v) for v in stack[-6:])
        elif op == "T*":
            tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
            tm = tlm
        elif op == "Tj" and stack:
            pieces: list[str] = []
            show(stack[-1], pieces)
            emit(pieces)
        elif op == "TJ" and stack:
            arr = stack[-1]
            pieces = []
            if isinstance(arr, list):
                for el in arr:
                    if isinstance(el, bytes):
                        show(el, pieces)
                    elif isinstance(el, (int, float)) \
                            and el < TJ_SPACE_THRESHOLD:
                        pieces.append(" ")
            emit(pieces)
        elif op == "'" and stack:
            tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
            tm = tlm
            pieces = []
            show(stack[-1], pieces)
            emit(pieces)
        elif op == '"' and len(stack) >= 3:
            tlm = _mat_mul((1, 0, 0, 1, 0, -leading), tlm)
            tm = tlm
            pieces = []
            show(stack[-1], pieces)
            emit(pieces)
        # every operator clears its operands (PDF operand stack semantics)
        stack.clear()
    return spans, real


def _page_fonts(doc: PdfDocument, page: dict) -> dict[str, _Font]:
    res = doc.resolve(page.get("Resources")) or {}
    fonts = doc.resolve(res.get("Font")) or {}
    out = {}
    for name, fobj in fonts.items():
        try:
            out[str(name)] = _Font(doc, fobj)
        except UnsupportedPdf:
            pass
    return out


def extract_spans(data: bytes) -> tuple[list[list[dict]], bool]:
    """Parse a PDF; return (per-page positioned spans, decoded_real)."""
    doc = PdfDocument(data)
    pages_out: list[list[dict]] = []
    real = True
    for page in doc.pages():
        content = doc.page_content(page)
        fonts = _page_fonts(doc, page)
        spans, ok = _interp_page(doc, content, fonts)
        real = real and ok
        pages_out.append(spans)
    return pages_out, real


# --------------------------------------------------------------------------
# Reading order + furniture strip
# --------------------------------------------------------------------------

# average Helvetica-ish glyph advance, em fraction, for abutment estimates
_EM_ADVANCE = 0.5


def page_lines(spans: list[dict]) -> list[dict]:
    """Cluster spans into reading-order lines.

    Lines are y-clusters (tolerance ``max(2, 0.3 * size)``), top-down;
    spans within a line sort by x and join with '' when the estimated end
    of the previous span abuts the next start, else with one space.
    """
    if not spans:
        return []
    order = sorted(spans, key=lambda s: (-s["y"], s["x"]))
    lines: list[dict] = []
    for s in order:
        tol = max(2.0, 0.3 * s["size"])
        if lines and abs(lines[-1]["y"] - s["y"]) <= tol:
            lines[-1]["spans"].append(s)
        else:
            lines.append({"y": s["y"], "spans": [s]})
    out = []
    for ln in lines:
        parts = sorted(ln["spans"], key=lambda s: s["x"])
        text = parts[0]["text"]
        for prev, cur in zip(parts, parts[1:]):
            est_end = prev["x"] + _EM_ADVANCE * prev["size"] * len(prev["text"])
            gap = cur["x"] - est_end
            text += ("" if gap <= 0.25 * max(prev["size"], 1.0) else " ") \
                + cur["text"]
        out.append({"y": ln["y"], "x": parts[0]["x"],
                    "size": max(s["size"] for s in parts), "text": text})
    return out


_PAGE_NUM_RE = re.compile(r"^\s*(?:page\s+)?\d+(?:\s+of\s+\d+)?\s*$",
                          re.IGNORECASE)


def strip_furniture(pages: list[list[dict]], min_page_frac: float = 0.6,
                    margin_band: tuple | None = None) -> list[list[dict]]:
    """Drop running headers/footers and page-number lines (layout
    boilerplate strip — the paged analog of the HTML nav/footer collapse).

    A line is furniture when it is a margin-band candidate AND (a) its
    digit-masked text recurs at the same quantized y on > ``min_page_frac``
    of pages (requires >= 2 pages), or (b) it is a standalone page number
    ('3', 'Page 3', 'Page 3 of 7').  ``margin_band=(y_lo, y_hi)`` restricts
    candidates to lines at y <= y_lo (footer band) or y >= y_hi (header
    band) — real running furniture lives at the page margins, and the band
    guarantees body text can never be collapsed however repetitive the
    corpus.  ``margin_band=None`` considers every line (generic mode).
    Returns per-page LINES (reading order), not raw spans.
    """
    per_page = [page_lines(sp) for sp in pages]
    n_pages = len(per_page)

    def in_band(ln: dict) -> bool:
        if margin_band is None:
            return True
        return ln["y"] <= margin_band[0] or ln["y"] >= margin_band[1]

    counts: dict[tuple, set] = {}
    for i, lines in enumerate(per_page):
        for ln in lines:
            if not in_band(ln):
                continue
            key = (round(ln["y"]), re.sub(r"\d+", "#", ln["text"]))
            counts.setdefault(key, set()).add(i)
    threshold = max(2, int(min_page_frac * n_pages) + 1) \
        if n_pages >= 2 else float("inf")
    out = []
    for lines in per_page:
        kept = []
        for ln in lines:
            if in_band(ln):
                key = (round(ln["y"]), re.sub(r"\d+", "#", ln["text"]))
                if counts.get(key) and len(counts[key]) >= threshold:
                    continue
                if _PAGE_NUM_RE.match(ln["text"]):
                    continue
            kept.append(ln)
        out.append(kept)
    return out


def extract_text(data: bytes, strip: bool = False,
                 margin_band: tuple | None = None) -> tuple[str, int, bool]:
    """Decode + layout-order a PDF; return (text, n_pages, decoded_real).

    Pages join with a single newline (same separator as lines, so the
    roundtrip oracle is pagination-independent).
    """
    pages, real = extract_spans(data)
    if strip:
        lines_pp = strip_furniture(pages, margin_band=margin_band)
    else:
        lines_pp = [page_lines(sp) for sp in pages]
    parts = []
    for lines in lines_pp:
        for ln in lines:
            parts.append(ln["text"])
    return "\n".join(parts), len(pages), real


# --------------------------------------------------------------------------
# Deterministic writer (fixtures + roundtrip oracle queries)
# --------------------------------------------------------------------------

_ESC_NEEDED_RE = re.compile(rb"[\\()\x00-\x1f\x7f-\xff]")
_ASCII_SAFE_RE = re.compile(r"[\x20-\x7f]*\Z")


def _esc_literal(b: bytes) -> bytes:
    if _ESC_NEEDED_RE.search(b) is None:   # common case: nothing to do
        return b
    out = bytearray()
    for c in b:
        if c in b"\\()":
            out += b"\\" + bytes([c])
        elif 32 <= c < 127:
            out.append(c)
        else:
            out += b"\\%03o" % c
    return bytes(out)


def _encode_winansi(text: str) -> bytes:
    # fast path: WinAnsi is the identity on 0x20-0x7f (checked against
    # _WINANSI_REV), which covers typical corpus text wholesale
    if _ASCII_SAFE_RE.match(text):
        return text.encode("latin-1")
    out = bytearray()
    for ch in text:
        code = _WINANSI_REV.get(ch)
        if code is None:
            raise UnsupportedPdf(f"writer: {ch!r} not WinAnsi-encodable")
        out.append(code)
    return bytes(out)


def _num(v: float) -> bytes:
    if float(v).is_integer():
        return b"%d" % int(v)
    return (b"%.4f" % v).rstrip(b"0").rstrip(b".")


def _span_ops(span: tuple, hex_strings: bool) -> bytes:
    x, y, size, text = span
    enc = _encode_winansi(text)
    if hex_strings:
        s = b"<" + enc.hex().encode() + b">"
    else:
        s = b"(" + _esc_literal(enc) + b")"
    return (b"BT /F1 " + _num(size) + b" Tf " + _num(x) + b" " + _num(y)
            + b" Td " + s + b" Tj ET")


def write_pdf(pages: list[list[tuple]], *, compress: bool = True,
              xref_stream: bool = False, object_streams: bool = False,
              hex_strings: bool = False) -> bytes:
    """Deterministic minimal PDF: pages of (x, y, size, text) spans.

    One Helvetica /WinAnsiEncoding font; each span is its own
    ``BT..Td..Tj..ET`` block.  ``xref_stream`` emits a PDF 1.5
    cross-reference stream (PNG Up predictor) instead of a classic table;
    ``object_streams`` additionally packs the non-stream objects into a
    ``/Type /ObjStm`` (implies ``xref_stream``).
    """
    contents = []
    for spans in pages:
        body = b"\n".join(_span_ops(s, hex_strings) for s in spans)
        contents.append(body)

    # object numbering: 1 catalog, 2 pages, 3 font, then per page i:
    # (4+2i) page dict, (5+2i) content stream
    n_pages = len(pages)
    font = {"Type": "Font", "Subtype": "Type1", "BaseFont": "Helvetica",
            "Encoding": "WinAnsiEncoding"}
    kids = [Ref(4 + 2 * i, 0) for i in range(n_pages)]
    objs: dict[int, object] = {
        1: {"Type": "Catalog", "Pages": Ref(2, 0)},
        2: {"Type": "Pages", "Kids": kids, "Count": n_pages,
            "Resources": {"Font": {"F1": Ref(3, 0)}},
            "MediaBox": [0, 0, 612, 792]},
        3: font,
    }
    streams: dict[int, bytes] = {}
    for i, body in enumerate(contents):
        objs[4 + 2 * i] = {"Type": "Page", "Parent": Ref(2, 0),
                           "Contents": Ref(5 + 2 * i, 0)}
        data = zlib.compress(body, 6) if compress else body
        objs[5 + 2 * i] = {"Length": len(data)}
        if compress:
            objs[5 + 2 * i]["Filter"] = Name("FlateDecode")
        streams[5 + 2 * i] = data

    if object_streams:
        xref_stream = True

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n" if xref_stream
                    else b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    entry_type: dict[int, tuple] = {}

    def emit_obj(num: int) -> None:
        offsets[num] = len(buf)
        entry_type[num] = ("n", offsets[num])
        buf.extend(b"%d 0 obj\n" % num)
        buf.extend(_ser(objs[num]))
        if num in streams:
            buf.extend(b"\nstream\n")
            buf.extend(streams[num])
            buf.extend(b"\nendstream")
        buf.extend(b"\nendobj\n")

    if object_streams:
        packed = [n for n in sorted(objs) if n not in streams]
        loose = [n for n in sorted(objs) if n in streams]
        stm_num = max(objs) + 1
        headers = []
        bodies = bytearray()
        for n in packed:
            headers.append(b"%d %d" % (n, len(bodies)))
            bodies.extend(_ser(objs[n]) + b"\n")
        head = b" ".join(headers) + b"\n"
        payload = zlib.compress(head + bytes(bodies), 6)
        objs[stm_num] = {"Type": Name("ObjStm"), "N": len(packed),
                         "First": len(head), "Length": len(payload),
                         "Filter": Name("FlateDecode")}
        streams[stm_num] = payload
        for idx, n in enumerate(packed):
            entry_type[n] = ("c", stm_num, idx)
        for n in loose:
            emit_obj(n)
        emit_obj(stm_num)
    else:
        for n in sorted(objs):
            emit_obj(n)

    if xref_stream:
        xnum = max(objs) + 1
        size = xnum + 1
        rows = []
        for n in range(size):
            if n == 0:
                rows.append((0, 0, 65535))
            elif n == xnum:
                rows.append((1, len(buf), 0))
            else:
                e = entry_type.get(n)
                if e is None:
                    rows.append((0, 0, 0))
                elif e[0] == "n":
                    rows.append((1, e[1], 0))
                else:
                    rows.append((2, e[1], e[2]))
        stride = 1 + 4 + 2
        raw = bytearray()
        prev_row = bytes(stride)
        for t, a, b in rows:
            row = bytes([t]) + a.to_bytes(4, "big") + b.to_bytes(2, "big")
            raw.append(2)  # PNG Up filter
            raw.extend((row[i] - prev_row[i]) & 0xFF for i in range(stride))
            prev_row = row
        payload = zlib.compress(bytes(raw), 6)
        xdict = {"Type": Name("XRef"), "Size": size, "W": [1, 4, 2],
                 "Root": Ref(1, 0), "Length": len(payload),
                 "Filter": Name("FlateDecode"),
                 "DecodeParms": {"Predictor": 12, "Columns": 7}}
        start = len(buf)
        buf.extend(b"%d 0 obj\n" % xnum)
        buf.extend(_ser(xdict))
        buf.extend(b"\nstream\n")
        buf.extend(payload)
        buf.extend(b"\nendstream\nendobj\n")
        buf.extend(b"startxref\n%d\n%%%%EOF\n" % start)
    else:
        start = len(buf)
        size = max(objs) + 1
        buf.extend(b"xref\n0 %d\n" % size)
        buf.extend(b"0000000000 65535 f \n")
        for n in range(1, size):
            buf.extend(b"%010d 00000 n \n" % offsets[n])
        buf.extend(b"trailer\n")
        buf.extend(_ser({"Size": size, "Root": Ref(1, 0)}))
        buf.extend(b"\nstartxref\n%d\n%%%%EOF\n" % start)
    return bytes(buf)


def write_pdf_raw(content_streams: list[bytes], *,
                  font_obj: dict | None = None,
                  compress: bool = False) -> bytes:
    """Hand-authored content streams (tests exercise specific operators);
    same skeleton as :func:`write_pdf`."""
    font = font_obj if font_obj is not None else {
        "Type": "Font", "Subtype": "Type1", "BaseFont": "Helvetica",
        "Encoding": "WinAnsiEncoding"}
    n_pages = len(content_streams)
    kids = [Ref(4 + 2 * i, 0) for i in range(n_pages)]
    objs: dict[int, object] = {
        1: {"Type": "Catalog", "Pages": Ref(2, 0)},
        2: {"Type": "Pages", "Kids": kids, "Count": n_pages,
            "Resources": {"Font": {"F1": Ref(3, 0)}},
            "MediaBox": [0, 0, 612, 792]},
        3: font,
    }
    streams: dict[int, bytes] = {}
    for i, body in enumerate(content_streams):
        data = zlib.compress(body, 6) if compress else body
        objs[4 + 2 * i] = {"Type": "Page", "Parent": Ref(2, 0),
                           "Contents": Ref(5 + 2 * i, 0)}
        objs[5 + 2 * i] = {"Length": len(data)}
        if compress:
            objs[5 + 2 * i]["Filter"] = Name("FlateDecode")
        streams[5 + 2 * i] = data
    buf = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for n in sorted(objs):
        offsets[n] = len(buf)
        buf.extend(b"%d 0 obj\n" % n)
        buf.extend(_ser(objs[n]))
        if n in streams:
            buf.extend(b"\nstream\n")
            buf.extend(streams[n])
            buf.extend(b"\nendstream")
        buf.extend(b"\nendobj\n")
    start = len(buf)
    size = max(objs) + 1
    buf.extend(b"xref\n0 %d\n" % size)
    buf.extend(b"0000000000 65535 f \n")
    for n in range(1, size):
        buf.extend(b"%010d 00000 n \n" % offsets[n])
    buf.extend(b"trailer\n")
    buf.extend(_ser({"Size": size, "Root": Ref(1, 0)}))
    buf.extend(b"\nstartxref\n%d\n%%%%EOF\n" % start)
    return bytes(buf)


def _ser(obj) -> bytes:
    """Serialize a COS object (writer side)."""
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if obj is None:
        return b"null"
    if isinstance(obj, Ref):
        return b"%d %d R" % (obj.num, obj.gen)
    if isinstance(obj, (int, float)):
        return _num(obj)
    if isinstance(obj, Name):
        return b"/" + str(obj).encode("latin-1")
    if isinstance(obj, str):
        return b"/" + obj.encode("latin-1")
    if isinstance(obj, bytes):
        return b"(" + _esc_literal(obj) + b")"
    if isinstance(obj, list):
        return b"[" + b" ".join(_ser(v) for v in obj) + b"]"
    if isinstance(obj, dict):
        parts = []
        for k, v in obj.items():
            parts.append(b"/" + str(k).encode("latin-1") + b" " + _ser(v))
        return b"<<" + b" ".join(parts) + b">>"
    raise UnsupportedPdf(f"writer: cannot serialize {type(obj)}")
