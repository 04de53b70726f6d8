"""WARC source: read crawl-native archive files into the page frame.

Common-Crawl-style pipelines hand pages over as WARC files (ISO 28500):
concatenated records, each a ``WARC/1.x`` header block + a body of
``Content-Length`` bytes; page payloads live in ``response`` records as
an HTTP message whose body is the HTML.  This reader turns a directory
of ``.warc`` / ``.warc.gz`` files into the same ``(url, warc_ts, html,
lang)`` frame the parquet and JSONL sources produce, so
``extract_documents`` runs unchanged on raw crawl output.

Scale shape: ``spark.read.format("binaryFile")`` makes the FILE the
parallelism unit — exactly how crawl corpora shard (Common Crawl is
~100k WARC files per snapshot; 1000 executors chew a file list, no
intra-file split needed).  Record parsing is one Arrow-batched
``mapInPandas`` pass per file; nothing about a record leaves the task
until it is a narrow (url, ts, html) row.  Whole-file gzip and the
per-record-member gzip Common Crawl actually ships both decompress
through the same code path (``gzip.decompress`` handles concatenated
members).  Malformed or truncated records are SKIPPED, never fatal —
a crawl archive always carries damage; the count of parsed records is
observable as the output row count vs the archive's record census.

Non-goals at sandbox scale, documented for production: range-request
reads of individual records via the CDX index (the random-access path)
and splitting a single huge file across tasks (needs a record-boundary
``InputFormat``; the file-per-task shape above is the standard one).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

WARC_PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, lang string"

_MAX_RECORD_BYTES = 64 << 20   # guard: a corrupt Content-Length cannot
                               # allocate an unbounded buffer


def parse_warc_records(blob: bytes, rec_types: tuple = (b"response",)):
    """Yield (url, iso_ts, body_bytes) for each well-formed record of a
    wanted type in a (possibly gzip'd) WARC blob.  Pure function — the
    single-node oracle for the Spark reader, directly testable.

    ``rec_types`` selects WARC-Type values: ``response`` records carry
    an HTTP message (headers stripped, html body returned); WET files
    carry ``conversion`` records whose body is already the plain
    extracted text (returned verbatim)."""
    for url, ts, body, _off, _ln in parse_warc_records_indexed(
            blob, rec_types=rec_types):
        yield url, ts, body


def _iter_warc_records(blob: bytes):
    """Record walk shared by every parse path: yield
    (headers, raw_body, start, length) for each well-framed record in
    a (possibly gzip'd) WARC blob; damage skips, never raises."""
    import gzip
    import zlib

    if blob[:2] == b"\x1f\x8b":
        try:
            blob = gzip.decompress(blob)   # handles concatenated members
        except (OSError, EOFError, zlib.error):
            # BadGzipFile is OSError, but a TRUNCATED member raises
            # EOFError and corrupt deflate raises zlib.error — all are
            # routine archive damage, never fatal
            return
    pos = 0
    n = len(blob)
    while pos < n:
        start = blob.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = blob.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            return
        headers = {}
        for line in blob[start:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            pos = hdr_end + 4
            continue
        body_start = hdr_end + 4
        body_end = body_start + length
        if length < 0 or length > _MAX_RECORD_BYTES or body_end > n:
            pos = body_start                  # truncated/corrupt: skip
            continue
        pos = body_end                         # next record follows \r\n\r\n
        yield headers, blob[body_start:body_end], start, body_end - start


def parse_warc_records_indexed(blob: bytes,
                               rec_types: tuple = (b"response",)):
    """Like parse_warc_records but also yields each record's
    (offset, length) within the DECOMPRESSED stream — the CDX-index
    fields that make a record individually addressable (production
    pairs these with per-record gzip member offsets for HTTP range
    reads; with whole-stream offsets the seek is into the inflated
    stream)."""
    for headers, body, start, length in _iter_warc_records(blob):
        rec_type = headers.get(b"warc-type")
        if rec_type not in rec_types:
            continue
        url = headers.get(b"warc-target-uri", b"").decode(
            "utf-8", "replace")
        ts = headers.get(b"warc-date", b"").decode("ascii", "replace")
        if not url or not ts:
            continue
        # only response records wrap the payload in an HTTP message; a
        # conversion (WET) body IS the payload — never strip it, even
        # if the text happens to start with "HTTP/"
        if rec_type == b"response" and body[:5] == b"HTTP/":
            http_end = body.find(b"\r\n\r\n")
            body = body[http_end + 4:] if http_end >= 0 else b""
        yield url, ts, body, start, length


def parse_http_message(body: bytes) -> tuple:
    """WARC response body (an HTTP/1.x message) ->
    (status, headers, payload).

    ``status`` is the integer status code or None when the body is not
    an HTTP message (payload passes through verbatim — some archives
    store bare bodies).  Transfer-Encoding: chunked is de-chunked and
    Content-Encoding: gzip/deflate is decompressed — WARC captures the
    wire bytes, so both occur in real crawls; damage in either leaves
    the RAW body (honest-degradation, same discipline as the media
    decoders).  Header keys are lowercased bytes."""
    import gzip
    import zlib

    if body[:5] != b"HTTP/":
        return None, {}, body
    hdr_end = body.find(b"\r\n\r\n")
    head, payload = (body[:hdr_end], body[hdr_end + 4:]) \
        if hdr_end >= 0 else (body, b"")
    lines = head.split(b"\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    headers = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        headers[k.strip().lower()] = v.strip()

    if b"chunked" in headers.get(b"transfer-encoding", b"").lower():
        out, pos, ok = bytearray(), 0, False
        while True:
            nl = payload.find(b"\r\n", pos)
            if nl < 0:
                break
            try:
                size = int(payload[pos:nl].split(b";")[0], 16)
            except ValueError:
                break
            if size == 0:
                ok = True
                break
            chunk_end = nl + 2 + size
            if chunk_end + 2 > len(payload):
                break
            out += payload[nl + 2:chunk_end]
            pos = chunk_end + 2            # skip the chunk's CRLF
        if ok:
            payload = bytes(out)
    enc = headers.get(b"content-encoding", b"").lower()
    if enc in (b"gzip", b"x-gzip", b"deflate"):
        try:
            payload = gzip.decompress(payload) if b"gzip" in enc \
                else zlib.decompress(payload)
        except (OSError, EOFError, zlib.error):
            pass                           # mislabelled: keep raw bytes
    return status, headers, payload


def parse_warc_http_records(blob: bytes):
    """Yield (url, iso_ts, status, content_type, payload) for each
    response record — the FETCH-layer view (status + Content-Type are
    what a curation gate filters on; the stripped-body readers above
    discard them)."""
    for headers, body, _start, _length in _iter_warc_records(blob):
        if headers.get(b"warc-type") != b"response":
            continue
        url = headers.get(b"warc-target-uri", b"").decode(
            "utf-8", "replace")
        ts = headers.get(b"warc-date", b"").decode("ascii", "replace")
        if not url or not ts:
            continue
        status, http_headers, payload = parse_http_message(body)
        ct = http_headers.get(b"content-type", b"").decode(
            "latin-1", "replace") or None
        yield url, ts, status, ct, payload


def build_response_warc_blob(records, gzip_compress: bool = False,
                             chunked: bool = False) -> bytes:
    """(url, iso_ts, status, content_type, payload, extra_headers)
    rows -> a WARC blob of ``response`` records wrapping full HTTP/1.1
    messages — the writer twin of ``parse_warc_http_records`` for
    fixtures and tests (deterministic: no wall clock, gzip mtime=0).
    ``chunked`` re-encodes each payload with chunked transfer coding
    to exercise the de-chunking path."""
    import gzip

    _REASONS = {200: b"OK", 301: b"Moved Permanently", 404: b"Not Found"}
    out = bytearray()
    for url, ts, status, content_type, payload, extra in records:
        http_headers = [(b"Content-Type", content_type)]
        http_headers += list(extra.items()) if extra else []
        if chunked:
            http_headers.append((b"Transfer-Encoding", b"chunked"))
            payload = (b"%x\r\n" % len(payload) + payload +
                       b"\r\n0\r\n\r\n") if payload else b"0\r\n\r\n"
        http = (b"HTTP/1.1 " + str(status).encode() + b" " +
                _REASONS.get(status, b"Status") + b"\r\n" +
                b"".join(k + b": " + v + b"\r\n"
                         for k, v in http_headers) +
                b"\r\n" + payload)
        head = (b"WARC/1.0\r\n"
                b"WARC-Type: response\r\n"
                b"WARC-Target-URI: " + str(url).encode("utf-8") + b"\r\n"
                b"WARC-Date: " + str(ts).encode("ascii") + b"\r\n"
                b"Content-Type: application/http; msgtype=response\r\n"
                b"Content-Length: " + str(len(http)).encode() +
                b"\r\n\r\n")
        out += head + http + b"\r\n\r\n"
    data = bytes(out)
    return gzip.compress(data, mtime=0) if gzip_compress else data


#: deterministic warcinfo stamp — the writer must be reproducible
#: byte-for-byte (manifest/idempotence discipline), so no wall clock
_WET_INFO_DATE = b"2025-01-01T00:00:00Z"


def build_wet_blob(records, gzip_compress: bool = True) -> bytes:
    """(url, iso_ts, text) rows -> a WET archive blob: one ``warcinfo``
    header record followed by one ``conversion`` record per page, the
    shape Common Crawl ships extracted text in (ISO 28500; WET is WARC
    whose conversion bodies are the plain text).  The writer twin of
    ``parse_warc_records(rec_types=(b"conversion",))`` — roundtrip is
    pinned byte-exact in tests and q_wet_roundtrip."""
    import gzip

    def rec(headers: list, body: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            k + b": " + v + b"\r\n" for k, v in headers)
        head += b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
        return head + body + b"\r\n\r\n"

    out = bytearray()
    out += rec(
        [(b"WARC-Type", b"warcinfo"), (b"WARC-Date", _WET_INFO_DATE),
         (b"Content-Type", b"application/warc-fields")],
        b"software: ocr-hardsubx-spark WET writer\r\n"
        b"format: WARC File Format 1.0\r\n")
    for url, ts, text in records:
        out += rec(
            [(b"WARC-Type", b"conversion"),
             (b"WARC-Target-URI", str(url).encode("utf-8")),
             (b"WARC-Date", str(ts).encode("ascii", "replace")),
             (b"Content-Type", b"text/plain")],
            ("" if text is None else str(text)).encode("utf-8"))
    data = bytes(out)
    return gzip.compress(data, mtime=0) if gzip_compress else data


def parse_files(it):
    """mapInPandas body shared by the batch and streaming WARC readers:
    binaryFile ``content`` batches -> (url, warc_ts, html, lang) rows."""
    import pandas as pd

    for pdf in it:
        rows = []
        for blob in pdf["content"]:
            for url, ts, html in parse_warc_records(bytes(blob)):
                try:
                    when = pd.Timestamp(ts)
                except ValueError:     # unparseable WARC-Date: skip
                    continue
                rows.append((url, when, html, None))
        yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "lang"])


def read_documents_warc(spark: "SparkSession", path: str) -> "DataFrame":
    """Directory/glob of WARC files -> (url, warc_ts, html, lang) frame
    with the same schema/semantics as the parquet and JSONL sources
    (lang rides NULL — WARC carries no language annotation; lang-id is
    a downstream operator, q_lang_id)."""
    from ..plans.packaging import ensure_workers_can_import

    ensure_workers_can_import(spark)
    files = spark.read.format("binaryFile").load(path) \
        .select("content")
    return files.mapInPandas(parse_files, schema=WARC_PAGE_SCHEMA)


CDX_SCHEMA = ("url string, warc_ts timestamp, file string, "
              "offset long, length long")


def build_cdx(spark: "SparkSession", path: str) -> "DataFrame":
    """Build the CDX-style record index for a WARC directory: one row
    per response record with its archive file and (offset, length) —
    the lookup table that turns a trillion-record archive into a
    random-access store (resolve url -> (file, offset), range-read one
    record; Common Crawl ships exactly this as its cdx-*.gz index).
    Same file-per-task sharding as read_documents_warc; typically
    written out sorted/bucketed by url so the resolve is a pruned
    lookup, not a scan."""
    import pandas as pd

    from ..plans.packaging import ensure_workers_can_import

    ensure_workers_can_import(spark)

    def index_files(it):
        from ocr_hardsubx_spark.sources.warc import (
            parse_warc_records_indexed,
        )

        for pdf in it:
            rows = []
            for fname, blob in zip(pdf["path"], pdf["content"]):
                for url, ts, _body, off, ln in \
                        parse_warc_records_indexed(bytes(blob)):
                    try:
                        when = pd.Timestamp(ts)
                    except ValueError:
                        continue
                    rows.append((url, when, fname, off, ln))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "file",
                               "offset", "length"])

    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    return files.mapInPandas(index_files, schema=CDX_SCHEMA)


# -- intra-file split reader (round-5 verdict item 8) ----------------------

_SPLIT_TAIL = _MAX_RECORD_BYTES + (64 << 10)   # a record starting just
# inside a split can extend at most one max-record past the boundary


def _anchor_record_start(blob: bytes, pos: int, abs_base: int) -> int:
    """First byte offset >= pos that is a REAL record start: ``WARC/``
    at absolute file offset 0 or preceded by ``\\r\\n\\r\\n``, AND whose
    header block carries WARC-Date + Content-Length (the
    record-separator anchor production WARC InputFormats use — a bare
    ``find(b"WARC/")`` would bite on archived pages whose BODY contains
    a fake WARC header).  A byte-exact embedded full record (a WARC
    archived inside a WARC) can still fool any content anchor — the
    airtight production split is per-record gzip member boundaries;
    this reader targets plain oversized archives.  Returns -1 if
    none."""
    while True:
        cand = blob.find(b"WARC/", pos)
        if cand < 0:
            return -1
        if (abs_base + cand == 0) or blob[max(0, cand - 4):cand] == \
                b"\r\n\r\n":
            hdr_end = blob.find(b"\r\n\r\n", cand)
            if hdr_end >= 0:
                hdr = blob[cand:hdr_end].lower()
                if b"warc-date:" in hdr and b"content-length:" in hdr:
                    return cand
        pos = cand + 5


def read_documents_warc_split(spark: "SparkSession", path: str,
                              split_bytes: int = 64 << 20) -> "DataFrame":
    """Record-boundary-aware SPLIT reader for archives that exceed one
    task's appetite: each uncompressed ``.warc`` file fans out as
    ceil(size / split_bytes) byte-range splits, and a record belongs to
    the split containing its START (the task reads past its range end
    to finish a straddling record — classic InputFormat semantics, the
    read-ahead bounded by the max-record guard).  Gzip members are not
    seekable, so ``.gz`` archives stay file-per-task (Common Crawl's
    ~1 GB files make that the standard shape; this reader is the
    robustness path for oversized plain archives).

    Output is identical to read_documents_warc on the same directory —
    pinned by test, including a record straddling a split boundary and
    a decoy ``WARC/`` header inside a record body (the anchor requires
    the ``\\r\\n\\r\\n`` separator, not a bare match)."""
    import os

    import pandas as pd

    from ..plans.packaging import ensure_workers_can_import

    ensure_workers_can_import(spark)

    listing = (spark.read.format("binaryFile").load(path)
               .select("path", "length").collect())
    splits = []
    for r in listing:
        local = r["path"]
        if local.startswith("file:"):
            local = local[len("file:"):]
        if local.endswith(".gz") or r["length"] <= split_bytes:
            splits.append((local, 0, int(r["length"]), True))
        else:
            for s in range(0, int(r["length"]), split_bytes):
                splits.append(
                    (local, s, min(s + split_bytes, int(r["length"])),
                     False))
    if not splits:
        return spark.createDataFrame([], WARC_PAGE_SCHEMA)
    sdf = spark.createDataFrame(
        splits, "path string, start long, end long, whole boolean"
    ).repartition(min(len(splits),
                      spark.sparkContext.defaultParallelism * 2))

    def read_splits(it):
        from ocr_hardsubx_spark.sources.warc import (
            _SPLIT_TAIL,
            _anchor_record_start,
            parse_warc_records,
            parse_warc_records_indexed,
        )

        for pdf in it:
            rows = []
            for p, start, end, whole in zip(pdf["path"], pdf["start"],
                                            pdf["end"], pdf["whole"]):
                try:
                    with open(p, "rb") as f:
                        if whole:
                            recs = ((u, t, b) for u, t, b in
                                    parse_warc_records(f.read()))
                            base = anchored = 0
                            buf = None
                        else:
                            pre = 4 if start > 0 else 0
                            f.seek(int(start) - pre)
                            buf = f.read(int(end - start) + pre
                                         + _SPLIT_TAIL)
                            base = int(start) - pre
                            anchored = _anchor_record_start(
                                buf, pre, base)
                            if anchored < 0:
                                continue
                            recs = (
                                (u, t, b)
                                for u, t, b, off, _ln in
                                parse_warc_records_indexed(
                                    buf[anchored:])
                                # a record is THIS split's iff its
                                # start lies inside [start, end)
                                if base + anchored + off < end)
                except OSError:
                    continue           # vanished/unreadable: not fatal
                for url, ts, html in recs:
                    try:
                        when = pd.Timestamp(ts)
                    except ValueError:
                        continue
                    rows.append((url, when, html, None))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "lang"])

    return sdf.mapInPandas(read_splits, schema=WARC_PAGE_SCHEMA)
