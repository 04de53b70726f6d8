"""Transport-layer charset sniffing + decode (WHATWG encoding sniff).

Upstream of everything else in this engine sits one assumption: the
``html``/``text`` columns are correctly-decoded unicode.  Real crawl
payloads are BYTES in whatever encoding the origin served; a curation
pipeline must pick the encoding per page before any text operator can
run.  This module implements the WHATWG-style sniffing order a browser
(and Common Crawl's WET conversion) applies:

1. **BOM** — a UTF-8/UTF-16 byte-order mark wins over everything
   (WHATWG encoding §4.2: "the byte order mark takes precedence over
   a charset declaration").
2. **Transport** — the ``charset=`` parameter of the HTTP
   ``Content-Type`` header.
3. **In-band meta** — ``<meta charset=...>`` or
   ``<meta http-equiv="content-type" content="...charset=...">``
   scanned in the first ``META_SCAN_BYTES`` of the payload (the
   WHATWG prescan).
4. **Default** — UTF-8.

Labels are normalized through the WHATWG alias table's load-bearing
subset — most importantly ``iso-8859-1``/``latin1``/``ascii`` map to
``windows-1252`` (the spec's deliberate mislabel-compatibility rule:
real pages labelled latin-1 routinely contain 0x80-0x9F smart quotes
that only cp1252 decodes to text).  Unknown labels fall back to the
default rather than erroring: at crawl scale every illegal label that
exists, occurs.

Decode is ``errors="replace"`` with a per-row ``replaced`` provenance
flag: a mislabelled page yields U+FFFD markers and a flag, never a
crash and never silently dropped rows.

Spark shape: one zero-shuffle Arrow-batched ``mapInPandas`` stage over
``(url, raw, content_type)`` — the raw bytes die inside the stage,
exactly like the html column in the extract stage.  At 100 TB this is
a map-only pass fused into the scan.

Reference anchor: the reference consumes pre-decoded frames
(erfilter.c:1-40); this is part of the crawl-native input surface the
north rule adds (WARC responses arrive as bytes + headers).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

DECODE_SCHEMA = ("url string, text string, encoding string, "
                 "enc_source string, replaced boolean")

#: WHATWG prescan window for in-band <meta> declarations
META_SCAN_BYTES = 1024

#: label -> canonical python codec (WHATWG alias subset; lowercase keys)
_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "iso-8859-1": "windows-1252", "latin1": "windows-1252",
    "latin-1": "windows-1252", "l1": "windows-1252",
    "ascii": "windows-1252", "us-ascii": "windows-1252",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "x-cp1252": "windows-1252", "ansi_x3.4-1968": "windows-1252",
    "utf-16": "utf-16le", "utf-16le": "utf-16le", "utf-16be": "utf-16be",
    "windows-1251": "windows-1251", "cp1251": "windows-1251",
    "koi8-r": "koi8-r", "shift_jis": "shift_jis", "sjis": "shift_jis",
    "euc-jp": "euc-jp", "gbk": "gbk", "gb2312": "gbk", "big5": "big5",
    "iso-8859-2": "iso-8859-2", "iso-8859-15": "iso-8859-15",
}

_DEFAULT = "utf-8"


def _normalize_label(label: str):
    return _ALIASES.get(label.strip().strip('"').strip("'").lower())


def _charset_param(content_type: str):
    """charset= parameter of a Content-Type value, or None."""
    for part in (content_type or "").split(";")[1:]:
        k, _, v = part.partition("=")
        if k.strip().lower() == "charset" and v.strip():
            return v
    return None


def _meta_charset(head: bytes):
    """WHATWG-style prescan of the first payload bytes for
    ``<meta charset=..>`` / http-equiv content-type.  The prescan
    decodes as latin-1 (byte-transparent) — meta tags are ASCII."""
    import re

    text = head.decode("iso-8859-1", "replace")
    m = re.search(r"""<meta[^>]*?\bcharset\s*=\s*["']?([^"'\s;>]+)""",
                  text, re.IGNORECASE | re.DOTALL)
    return m.group(1) if m else None


def sniff_charset(raw: bytes, content_type=None) -> tuple:
    """-> (python_codec, source) with source in
    {'bom', 'header', 'meta', 'default'}."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig", "bom"
    if raw[:2] == b"\xff\xfe":
        return "utf-16le", "bom"
    if raw[:2] == b"\xfe\xff":
        return "utf-16be", "bom"
    enc = _normalize_label(_charset_param(content_type) or "")
    if enc:
        return enc, "header"
    enc = _normalize_label(_meta_charset(raw[:META_SCAN_BYTES]) or "")
    if enc:
        return enc, "meta"
    return _DEFAULT, "default"


def decode_payload(raw: bytes, content_type=None) -> tuple:
    """-> (text, reported_encoding, source, replaced).

    ``reported_encoding`` is the canonical label ('utf-8' for the BOM
    codec 'utf-8-sig'; BOM bytes are consumed, not emitted)."""
    codec, source = sniff_charset(raw or b"", content_type)
    body = raw or b""
    if codec == "utf-16le" and source == "bom":
        body = body[2:]
    elif codec == "utf-16be" and source == "bom":
        body = body[2:]
    text = body.decode(codec, "replace")
    reported = "utf-8" if codec == "utf-8-sig" else codec
    return text, reported, source, "�" in text


def decode_pages(pages: "DataFrame",
                 spark: "SparkSession" = None) -> "DataFrame":
    """(url, raw binary, content_type) -> decoded text + provenance;
    zero-shuffle mapInPandas, raw bytes never leave the stage."""
    if spark is not None:
        from ..plans.packaging import ensure_workers_can_import

        ensure_workers_can_import(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_hardsubx_spark.operators.charset import decode_payload

        for pdf in batches:
            texts, encs, srcs, reps = [], [], [], []
            for raw, ct in zip(pdf["raw"], pdf["content_type"]):
                t, e, s, r = decode_payload(
                    bytes(raw) if raw is not None else b"",
                    None if ct is None else str(ct))
                texts.append(t)
                encs.append(e)
                srcs.append(s)
                reps.append(r)
            yield pd.DataFrame({"url": pdf["url"].values, "text": texts,
                                "encoding": encs, "enc_source": srcs,
                                "replaced": reps})

    return (pages.select("url", "raw", "content_type")
            .mapInPandas(gen, DECODE_SCHEMA))


# --------------------------------------------------------------------------
# mojibake repair (double-encoding damage)
# --------------------------------------------------------------------------

#: cp1252's five undefined bytes — WHATWG windows-1252 maps them to the
#: C1 controls, so the sloppy encoder must round-trip them byte-exact
_CP1252_HOLES = frozenset((0x81, 0x8D, 0x8F, 0x90, 0x9D))

MOJIBAKE_MAX_PASSES = 2


def _encode_sloppy_cp1252(text: str) -> bytes:
    """windows-1252 encode with the WHATWG hole semantics (U+0081 etc.
    map to their own byte values instead of erroring) — the inverse of
    the decoder that CREATED the mojibake."""
    try:
        return text.encode("cp1252")
    except UnicodeEncodeError:
        out = bytearray()
        for ch in text:
            o = ord(ch)
            if o in _CP1252_HOLES:
                out.append(o)
            else:
                out += ch.encode("cp1252")    # may raise: caller handles
        return bytes(out)


def fix_mojibake(text: str) -> tuple:
    """-> (fixed_text, was_mojibake).

    Repairs the classic crawl damage where UTF-8 bytes were mis-decoded
    as windows-1252 somewhere upstream ('café' -> 'cafÃ©'): re-encode
    through sloppy-cp1252 and strictly re-decode as UTF-8; apply ONLY
    when the whole round-trip succeeds and changes the text
    (strictness is the safety: genuine cp1252-looking text fails the
    UTF-8 decode and passes through untouched).  Up to
    ``MOJIBAKE_MAX_PASSES`` for doubly-encoded text.  Deterministic,
    pure — the ftfy idea reduced to its sound core."""
    changed = False
    for _ in range(MOJIBAKE_MAX_PASSES):
        if not any(ord(c) > 127 for c in text):
            break
        try:
            raw = _encode_sloppy_cp1252(text)
            dec = raw.decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            break
        if dec == text:
            break
        text, changed = dec, True
    return text, changed


def repair_mojibake(docs: "DataFrame", text_col: str = "text",
                    spark: "SparkSession" = None) -> "DataFrame":
    """Adds ``fixed`` + ``was_mojibake`` columns; zero-shuffle
    mapInPandas over (doc_id, text)."""
    if spark is not None:
        from ..plans.packaging import ensure_workers_can_import

        ensure_workers_can_import(spark)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_hardsubx_spark.operators.charset import fix_mojibake

        for pdf in batches:
            fixed, flags = [], []
            for t in pdf[text_col]:
                f, c = fix_mojibake("" if t is None else str(t))
                fixed.append(f)
                flags.append(c)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values,
                                "text": pdf[text_col].values,
                                "fixed": fixed, "was_mojibake": flags})

    return (docs.select("doc_id", text_col)
            .mapInPandas(gen, "doc_id long, text string, fixed string, "
                              "was_mojibake boolean"))
