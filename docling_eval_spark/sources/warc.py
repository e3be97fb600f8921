"""WARC source (ISO 28500, WARC/1.0 and WARC/1.1).

The north-star input is a Common-Crawl-style corpus; on disk Common
Crawl ships WARC files — a sequence of records, each ``WARC/1.x`` +
headers + CRLF CRLF + Content-Length block + CRLF CRLF — packaged as
``.warc.gz`` with ONE GZIP MEMBER PER RECORD so readers can skip
records without decompressing the whole file. This module parses that
format from scratch (stdlib ``zlib`` only) and lands records in the
canonical pages schema (``url, warc_ts, html, text, lang``) that every
downstream stage (extraction kernel, dedup, quality) already consumes.

Scale notes (100 TB):

- gzip members are NOT splittable mid-stream, so parallelism is per
  FILE: ``binaryFile`` hands each file whole to one task and the Arrow
  kernel parses it. Common Crawl ships ~1 GiB files, so a 100 TB crawl
  is ~100k files = ~100k tasks — ample for 1000 executors. For the
  rare oversized file, ``repartition`` after read only moves the
  parsed rows, never re-reads.
- ``binaryFile`` supports predicate pushdown on path/length only;
  everything row-level happens after parse, so put cheap filters
  (status, lang) directly after :func:`read_warc` — they run in the
  same stage as the parse, before any shuffle.
- HTTP payload split, chunked transfer-encoding decode, and gzip /
  deflate Content-Encoding decode all happen inside the same
  ``mapInPandas`` batch kernel — zero per-row Python UDFs.
- Malformed records become ``warc_status='FAILURE'`` rows, never task
  failures — same convention as ``json_gt`` (S3) and the extraction
  kernel (P9). One corrupt record aborts only the remainder of its
  gzip member, not the file: subsequent members resync at the next
  member boundary.

The reference repo ingests via HF datasets parquet (``utils.py``); the
WARC layer replaces that for the web-corpus north rule. Format per the
public ISO 28500 / IIPC WARC 1.1 spec and RFC 7230 §4.1 (chunked).
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

_CRLF = b"\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

WARC_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_charset", T.StringType()),
        T.StructField("warc_path", T.StringType()),
        T.StructField("record_no", T.IntegerType()),
        T.StructField("warc_status", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


# ---------------------------------------------------------------- parse

_GZ_CHUNK = 1 << 16


def _split_gzip_members_tagged(data: bytes) -> Iterator[tuple[bytes, str | None]]:
    """Decompress a concatenated-member gzip stream one member at a
    time, yielding ``(chunk, error)``. Members are fed to zlib in
    slices so a mid-stream corruption keeps (salvages) the
    already-decompressed prefix; the error tag lets the record layer
    emit a FAILURE row for the member instead of losing it silently.
    After a corrupt or truncated member, resyncs at the next gzip
    magic if one exists."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out: list[bytes] = []
        err = None
        i = pos
        try:
            while i < n and not d.eof:
                out.append(d.decompress(data[i : i + _GZ_CHUNK]))
                i += _GZ_CHUNK
        except zlib.error as e:
            err = "corrupt gzip member at offset %d: %s" % (pos, e)
        if err is None and not d.eof:
            # input exhausted before the stream end: zlib does not
            # raise for truncation, but the loss is just as real —
            # tag it so the record layer emits a FAILURE row
            err = "truncated gzip member at offset %d" % pos
        yield b"".join(out), err
        if err is None and d.eof:
            fed = min(i, n) - pos
            consumed = fed - len(d.unused_data)
            pos += max(consumed, 1)
        else:
            # corrupt (raised) or truncated (ran out of input before
            # stream end): skip to the next member boundary
            nxt = data.find(_GZIP_MAGIC, pos + 2)
            if nxt == -1:
                break
            pos = nxt


def _parse_headers(blob: bytes) -> dict:
    """Header lines ``Name: value`` (case-insensitive names, WARC and
    HTTP share the grammar); obs-fold continuations are appended."""
    headers: dict[str, str] = {}
    last = None
    for line in blob.split(_CRLF):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            continue
        last = name.strip().decode("latin-1").lower()
        headers[last] = value.strip().decode("latin-1")
    return headers


def parse_warc_records(data: bytes) -> Iterator[dict]:
    """Yield ``{type, headers, block, error}`` dicts from raw (already
    uncompressed) WARC bytes; parsing stops at the first malformed
    record, which is itself surfaced as an ``error`` entry."""
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding CRLFs
        while data[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            return
        if not data.startswith(b"WARC/", pos):
            yield {"error": "bad magic at offset %d" % pos}
            return
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end == -1:
            yield {"error": "unterminated header block"}
            return
        head = data[pos:head_end]
        version_line, _, header_blob = head.partition(_CRLF)
        headers = _parse_headers(header_blob)
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            yield {"error": "missing/invalid Content-Length"}
            return
        block_start = head_end + 4
        block = data[block_start : block_start + length]
        if len(block) < length:
            yield {"error": "truncated block (%d < %d)" % (len(block), length)}
            return
        yield {
            "version": version_line.decode("latin-1"),
            "type": headers.get("warc-type", ""),
            "headers": headers,
            "block": block,
            "error": None,
        }
        pos = block_start + length
        # record terminator: CRLF CRLF (absorbed by the padding skip)


def _dechunk(body: bytes) -> bytes:
    """RFC 7230 §4.1 chunked transfer decoding; returns the raw body
    unchanged if the chunk grammar doesn't hold (conservative)."""
    out = []
    pos = 0
    while True:
        eol = body.find(_CRLF, pos)
        if eol == -1:
            return body
        size_token = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_token, 16)
        except ValueError:
            return body
        pos = eol + 2
        if size == 0:
            return b"".join(out)
        chunk = body[pos : pos + size]
        if len(chunk) < size:
            return body
        out.append(chunk)
        pos += size + 2  # chunk data CRLF


def parse_http_response(block: bytes) -> tuple[bytes, str | None, int | None]:
    """Split an ``application/http`` response block into headers+body,
    undo transfer/content codings, and surface the Content-Type
    charset label (the transport layer of the WHATWG encoding sniff)
    plus the HTTP status code — redirect/error pages (3xx/4xx/5xx)
    must be filterable, not silently ingested as documents.

    Status semantics: ``None`` means the block is NOT HTTP-wrapped at
    all (raw payload — legitimately has no status); ``-1`` means the
    block claims to be HTTP but its status line / header block is
    unparseable. The distinction matters downstream:
    ``warc_to_pages`` lets NULL-status raw records
    through but must not let malformed-status pages ride that branch."""
    if not block.startswith(b"HTTP/"):
        return block, None, None
    sep = block.find(_CRLF + _CRLF)
    if sep == -1:
        return block, None, -1
    status_line, _, header_blob = block[:sep].partition(_CRLF)
    try:
        status: int | None = int(status_line.split(b" ", 2)[1])
    except (IndexError, ValueError):
        status = -1
    headers = _parse_headers(header_blob)
    from docling_eval_spark.extraction.charset import charset_from_content_type

    charset = charset_from_content_type(headers.get("content-type"))
    body = block[sep + 4 :]
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").lower()
    if enc in ("gzip", "x-gzip", "deflate"):
        try:
            body = zlib.decompressobj(
                16 + zlib.MAX_WBITS if enc != "deflate" else zlib.MAX_WBITS
            ).decompress(body)
        except zlib.error:
            try:  # raw deflate (no zlib wrapper) — seen in the wild
                body = zlib.decompressobj(-zlib.MAX_WBITS).decompress(body)
            except zlib.error:
                pass  # keep the coded bytes; extraction will fail the row
    return body, charset, status


def _parse_warc_date(value: str):
    """WARC-Date: ISO 8601 UTC, optional fractional seconds (1.1)."""
    v = value.strip()
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            return datetime.strptime(v, fmt).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
    return None


def _iter_records(data: bytes) -> Iterator[dict]:
    """WARC bytes (gzip-member or plain) → record dicts — the shared
    prelude of every reader, so member-resync fixes land once."""
    if data[:2] == _GZIP_MAGIC:

        def gen() -> Iterator[dict]:
            for member, err in _split_gzip_members_tagged(data):
                if member:
                    yield from parse_warc_records(member)
                if err:
                    # the member itself failed to decompress: surface
                    # a FAILURE record so doc/ok counts reflect the
                    # loss (salvaged prefix records, if any, precede)
                    yield {"error": err}

        return gen()
    return parse_warc_records(data)


def warc_file_to_pages(data: bytes, path: str = "") -> list[dict]:
    """Parse one WARC file (gzip-member or plain) into pages-schema
    rows. ``response`` records produce SUCCESS/FAILURE rows; warcinfo /
    request / metadata records are skipped (they carry no payload the
    pipeline evaluates)."""
    records = _iter_records(data)
    rows: list[dict] = []
    rec_no = 0
    for rec in records:
        rec_no += 1
        if rec.get("error"):
            rows.append(
                {
                    "url": None,
                    "warc_ts": None,
                    "html": None,
                    "text": None,
                    "lang": None,
                    "http_status": None,
                    "http_charset": None,
                    "warc_path": path,
                    "record_no": rec_no,
                    "warc_status": "FAILURE",
                    "error": rec["error"],
                }
            )
            continue
        if rec["type"].lower() != "response":
            continue
        h = rec["headers"]
        url = h.get("warc-target-uri")
        ts = _parse_warc_date(h.get("warc-date", ""))
        payload, charset, status = parse_http_response(rec["block"])
        ok = url is not None
        rows.append(
            {
                "url": url,
                "warc_ts": ts,
                "html": payload if ok else None,
                "text": None,
                "lang": None,
                "http_status": status,
                "http_charset": charset,
                "warc_path": path,
                "record_no": rec_no,
                "warc_status": "SUCCESS" if ok else "FAILURE",
                "error": "" if ok else "response record without WARC-Target-URI",
            }
        )
    return rows


# ---------------------------------------------------------------- source

def read_warc(spark: SparkSession, glob: str) -> DataFrame:
    """``.warc`` / ``.warc.gz`` files → pages rows (+ provenance and
    status columns). One task per file (see module scale notes)."""
    raw = spark.read.format("binaryFile").load(glob).select("path", "content")
    return raw.mapInPandas(_warc_kernel, schema=WARC_PAGES_SCHEMA)


def warc_to_pages(df: DataFrame) -> DataFrame:
    """Project successful WARC rows onto the canonical PAGES_SCHEMA.

    Drops redirect/error responses — 3xx Location stubs and 404 pages
    are boilerplate, not documents.
    Raw (non-HTTP-wrapped) records have no status (NULL) and always
    pass; HTTP blocks whose status line failed to parse carry the
    ``-1`` sentinel and are DROPPED (they are malformed pages, not
    raw payloads). This filter sits directly on the parse stage,
    before any shuffle."""
    cond = (F.col("warc_status") == "SUCCESS") & (
        F.col("http_status").isNull() | F.col("http_status").between(200, 299)
    )
    return df.filter(cond).select("url", "warc_ts", "html", "text", "lang")


def _warc_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in WARC_PAGES_SCHEMA.fields]
    for pdf in batches:
        rows: list[dict] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            rows.extend(warc_file_to_pages(bytes(content), str(path)))
        yield pd.DataFrame(rows, columns=cols)
