"""WARC fixture writer for the tests: page dicts → WARC bytes that the
package's reader (``sources.warc``) parses back."""

from __future__ import annotations

import zlib

_CRLF = b"\r\n"

def gzip_member(data: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(data) + c.flush()


def warc_record_bytes(
    warc_type: str,
    block: bytes,
    headers: dict[str, str] | None = None,
    version: str = "WARC/1.0",
) -> bytes:
    head = [f"{version}\r\n".encode()]
    base = {"WARC-Type": warc_type, "Content-Length": str(len(block))}
    base.update(headers or {})
    for k, v in base.items():
        head.append(f"{k}: {v}\r\n".encode())
    head.append(_CRLF)
    return b"".join(head) + block + _CRLF + _CRLF


def _warcinfo_record() -> bytes:
    return warc_record_bytes(
        "warcinfo",
        b"software: docling-eval-spark fixture writer\r\n",
        {"Content-Type": "application/warc-fields"},
    )


def _response_record_bytes(
    p: dict, http_wrap: bool = True, chunked: bool = False
) -> bytes:
    """ONE response record for a page dict (url, html, warc_ts, and
    optional status/charset)."""
    body = p["html"] if p.get("html") is not None else b""
    if http_wrap:
        status_line = b"HTTP/1.1 %d X\r\n" % p.get("status", 200)
        ct = b"text/html"
        if p.get("charset"):
            ct += b"; charset=" + p["charset"].encode()
        if chunked:
            mid = max(1, len(body) // 2)
            wire = b""
            for part in (body[:mid], body[mid:]):
                if part:
                    wire += b"%x\r\n" % len(part) + part + _CRLF
            wire += b"0\r\n\r\n"
            http_head = (
                status_line + b"Content-Type: " + ct +
                b"\r\nTransfer-Encoding: chunked\r\n\r\n"
            )
        else:
            wire = body
            http_head = (
                status_line + b"Content-Type: " + ct +
                b"\r\nContent-Length: %d\r\n\r\n" % len(body)
            )
        block = http_head + wire
        ctype = "application/http; msgtype=response"
    else:
        block = body
        ctype = "text/html"
    ts = p.get("warc_ts")
    ts_s = (
        ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        if ts is not None
        else "2017-01-01T00:00:00Z"
    )
    return warc_record_bytes(
        "response",
        block,
        {
            "WARC-Target-URI": p["url"],
            "WARC-Date": ts_s,
            "Content-Type": ctype,
        },
    )


def encode_warc(
    pages: list[dict],
    gzip_members: bool = True,
    http_wrap: bool = True,
    chunked: bool = False,
) -> bytes:
    """Fixture writer: pages rows → WARC bytes (warcinfo first, then
    one response record per page), optionally gzip-per-member and with
    the payload wrapped as a raw HTTP response (optionally chunked) so
    tests exercise the real decode path."""
    records = [_warcinfo_record()]
    for p in pages:
        records.append(
            _response_record_bytes(p, http_wrap=http_wrap, chunked=chunked)
        )
    if gzip_members:
        return b"".join(gzip_member(r) for r in records)
    return b"".join(records)
