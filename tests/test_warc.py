"""WARC source (ISO 28500) — parse, gzip members, HTTP decode, and the
byte-identity invariant through the WARC ingest path."""

from __future__ import annotations

import zlib

from datetime import datetime, timezone

import pytest

from docling_eval_spark.datagen.pages import gen_page, pages_dataframe
from docling_eval_spark.extraction.stage import extract_stage
from docling_eval_spark.sources.warc import (
    parse_http_response,
    parse_warc_records,
    read_warc,
    warc_file_to_pages,
    warc_to_pages,
)
from warc_fixtures import encode_warc, gzip_member, warc_record_bytes

_TS = datetime(2017, 3, 22, 17, 43, 4, tzinfo=timezone.utc)


def _fixture_pages(n=6, seed=7):
    return [
        {
            "url": p["url"],
            "warc_ts": _TS,
            "html": p["html"],
        }
        for p in (gen_page(i, seed=seed) for i in range(n))
    ]


def test_warc_roundtrip_plain_and_gzip():
    pages = _fixture_pages()
    for gz in (False, True):
        data = encode_warc(pages, gzip_members=gz)
        rows = warc_file_to_pages(data, path="mem")
        assert [r["warc_status"] for r in rows] == ["SUCCESS"] * len(pages)
        assert [r["url"] for r in rows] == [p["url"] for p in pages]
        assert [bytes(r["html"]) for r in rows] == [p["html"] for p in pages]
        assert all(r["warc_ts"] == _TS for r in rows)


def test_warc_chunked_transfer_decode():
    pages = _fixture_pages(3)
    data = encode_warc(pages, gzip_members=True, chunked=True)
    rows = warc_file_to_pages(data)
    assert [bytes(r["html"]) for r in rows] == [p["html"] for p in pages]


def test_warc_content_encoding_gzip_body():
    body = b"<html><body><p>compressed payload</p></body></html>"
    gz = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    wire = gz.compress(body) + gz.flush()
    block = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\nContent-Length: %d\r\n\r\n" % len(wire)
    ) + wire
    assert parse_http_response(block)[0] == body


def test_warc_non_response_records_skipped():
    pages = _fixture_pages(2)
    data = encode_warc(pages, gzip_members=False)
    # warcinfo record is present in the stream but not in the rows
    recs = list(parse_warc_records(data))
    assert recs[0]["type"] == "warcinfo"
    rows = warc_file_to_pages(data)
    assert len(rows) == 2


def test_warc_corrupt_member_resyncs():

    pages = _fixture_pages(4)
    members = [
        gzip_member(
            warc_record_bytes(
                "response",
                p["html"],
                {
                    "WARC-Target-URI": p["url"],
                    "WARC-Date": "2017-03-22T17:43:04Z",
                    "Content-Type": "text/html",
                },
            )
        )
        for p in pages
    ]
    # destroy member 1's deflate stream body (keep the gzip header)
    bad = bytearray(members[1])
    bad[12:20] = b"\x00" * 8
    stream = members[0] + bytes(bad) + members[2] + members[3]
    rows = warc_file_to_pages(stream)
    ok = [r for r in rows if r["warc_status"] == "SUCCESS"]
    # the wrecked member contributes no SUCCESS row but does not take
    # down its neighbours — the parser resyncs at the next gzip magic
    assert [r["url"] for r in ok] == [pages[i]["url"] for i in (0, 2, 3)]
    # ... and the loss is ACCOUNTED: the corrupt member surfaces as a
    # FAILURE row (doc/ok counts in the manifest reflect it)
    bad = [r for r in rows if r["warc_status"] == "FAILURE"]
    assert len(bad) == 1 and "corrupt gzip member" in bad[0]["error"]


def test_warc_malformed_status_line_sentinel(spark):
    from docling_eval_spark.sources.warc import (
        WARC_PAGES_SCHEMA,
        parse_http_response,
        warc_to_pages,
    )

    # not HTTP-wrapped at all → NULL status (raw payload passes 2xx gate)
    _, _, s_raw = parse_http_response(b"just raw bytes")
    assert s_raw is None
    # HTTP-claiming but unparseable status line → -1 sentinel
    _, _, s_bad = parse_http_response(b"HTTP/1.1 OOPS\r\nA: b\r\n\r\nx")
    assert s_bad == -1
    _, _, s_nosep = parse_http_response(b"HTTP/1.1 200 OK\r\nno-terminator")
    assert s_nosep == -1
    # the 2xx gate drops the sentinel but keeps genuine NULLs
    rows = [
        {"url": f"http://a/{i}", "warc_ts": None, "html": b"x", "text": None,
         "lang": None, "http_status": st, "http_charset": None,
         "warc_path": "p", "record_no": i, "warc_status": "SUCCESS",
         "error": ""}
        for i, st in enumerate([200, None, -1, 404])
    ]
    df = spark.createDataFrame(rows, WARC_PAGES_SCHEMA)
    kept = sorted(
        r["record_no"]
        for r in warc_to_pages(df).join(
            df.select("url", "record_no"), "url"
        ).collect()
    )
    # record 0 (200) and record 1 (NULL=raw) pass; -1 and 404 drop
    assert kept == [0, 1]


def test_warc_truncated_record_failure_row():
    pages = _fixture_pages(1)
    data = encode_warc(pages, gzip_members=False)
    rows = warc_file_to_pages(data[: len(data) - 30])
    assert rows and rows[-1]["warc_status"] == "FAILURE"
    assert "truncated" in rows[-1]["error"]


@pytest.mark.spark
def test_read_warc_byte_identity_vs_parquet_path(spark, tmp_path):
    """North-rule invariant: extracted text through the WARC ingest
    path is byte-identical per url to the direct pages path."""
    n = 24
    pages = _fixture_pages(n, seed=11)
    warc_dir = tmp_path / "warc"
    warc_dir.mkdir()
    # spread across 3 files to exercise per-file parallelism
    for f in range(3):
        chunk = pages[f * 8 : (f + 1) * 8]
        (warc_dir / f"crawl-{f:02d}.warc.gz").write_bytes(
            encode_warc(chunk, gzip_members=True, chunked=(f == 1))
        )

    warc_df = read_warc(spark, str(warc_dir))
    got = {
        r["url"]: (bytes(r["html"]), r["warc_ts"])
        for r in warc_df.collect()
        if r["warc_status"] == "SUCCESS"
    }
    assert len(got) == n
    for p in pages:
        html, ts = got[p["url"]]
        assert html == p["html"]
        assert ts == _TS.replace(tzinfo=None) or ts == _TS

    direct = pages_dataframe(spark, n, seed=11)
    via_warc = warc_to_pages(warc_df)
    t1 = {
        r["url"]: r["extracted_text"]
        for r in extract_stage(direct).collect()
    }
    t2 = {
        r["url"]: r["extracted_text"]
        for r in extract_stage(via_warc).collect()
    }
    assert set(t1) == set(t2)
    assert all(t1[u] == t2[u] for u in t1)


def test_warc_http_status_filtering():
    pages = [
        {"url": "http://ok.example/", "warc_ts": _TS,
         "html": b"<p>real content page here</p>", "status": 200},
        {"url": "http://moved.example/", "warc_ts": _TS,
         "html": b"<p>Moved Permanently</p>", "status": 301},
        {"url": "http://gone.example/", "warc_ts": _TS,
         "html": b"<p>Not Found</p>", "status": 404},
    ]
    rows = warc_file_to_pages(encode_warc(pages))
    by_url = {r["url"]: r for r in rows}
    assert by_url["http://ok.example/"]["http_status"] == 200
    assert by_url["http://moved.example/"]["http_status"] == 301
    assert by_url["http://gone.example/"]["http_status"] == 404
    # all parse as SUCCESS (the record is valid) — filtering is explicit
    assert all(r["warc_status"] == "SUCCESS" for r in rows)


@pytest.mark.spark
def test_warc_to_pages_drops_non_2xx(spark, tmp_path):
    pages = [
        {"url": "http://ok.example/", "warc_ts": _TS,
         "html": b"<p>real</p>", "status": 200},
        {"url": "http://moved.example/", "warc_ts": _TS,
         "html": b"<p>redirect</p>", "status": 301},
    ]
    (tmp_path / "s.warc.gz").write_bytes(encode_warc(pages))
    wdf = read_warc(spark, str(tmp_path))
    kept = [r["url"] for r in warc_to_pages(wdf).collect()]
    assert kept == ["http://ok.example/"]


def test_warc_truncated_gzip_member_failure_row():
    """A .warc.gz cut off mid-member (no zlib error — truncation does
    not raise) must still surface as a FAILURE row, not vanish."""

    pages = _fixture_pages(2)
    members = [
        gzip_member(
            warc_record_bytes(
                "response",
                p["html"],
                {
                    "WARC-Target-URI": p["url"],
                    "WARC-Date": "2017-03-22T17:43:04Z",
                },
            )
        )
        for p in pages
    ]
    stream = members[0] + members[1][: len(members[1]) // 2]  # cut mid-member
    rows = warc_file_to_pages(stream)
    ok = [r for r in rows if r["warc_status"] == "SUCCESS"]
    bad = [r for r in rows if r["warc_status"] == "FAILURE"]
    assert [r["url"] for r in ok] == [pages[0]["url"]]
    assert any("truncated gzip member" in r["error"] for r in bad)


