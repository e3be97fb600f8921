"""WHATWG-style charset sniffing: precedence, legacy decodes, and the
transport hint through the WARC → extraction path."""

from __future__ import annotations

import codecs

import pytest

from docling_eval_spark.extraction.charset import (
    charset_from_content_type,
    decode_html,
    sniff_charset,
)
from docling_eval_spark.extraction.kernel import extract_document


def _page(body_text: str, meta_charset: str | None, codec: str) -> bytes:
    meta = (
        f'<meta charset="{meta_charset}">' if meta_charset else ""
    )
    long_par = "word " * 30  # clear the <16-word boilerplate rule
    html = (
        f"<html><head>{meta}<title>t</title></head><body>"
        f"<p>{long_par}{body_text}</p></body></html>"
    )
    return html.encode(codec)


def test_bom_wins_over_everything():
    data = codecs.BOM_UTF8 + _page("héllo", "shift_jis", "utf-8")
    enc, src = sniff_charset(data, transport="euc-kr")
    assert (enc, src) == ("utf-8", "bom")
    text, _, _ = decode_html(data)
    assert "héllo" in text and "﻿" not in text


def test_transport_beats_meta():
    data = _page("cliché", "utf-8", "windows-1252")
    enc, src = sniff_charset(data, transport="windows-1252")
    assert (enc, src) == ("windows-1252", "transport")
    assert "cliché" in decode_html(data, transport="windows-1252")[0]


def test_meta_charset_legacy_decodes():
    cases = [
        ("shift_jis", "日本語のテキスト"),
        ("euc-kr", "한국어 텍스트"),
        ("gbk", "中文文本"),
        ("windows-1251", "русский текст"),
        ("windows-1252", "déjà vu café"),
    ]
    for label, phrase in cases:
        data = _page(phrase, label, label.replace("-", "_") if label ==
                     "euc-kr" else label)
        text, codec, src = decode_html(data)
        assert src == "meta", label
        assert phrase in text, label


def test_latin1_label_maps_to_windows_1252():
    # WHATWG: iso-8859-1 label → windows-1252; 0x92 is a curly quote
    # in cp1252 but a C1 control in real latin-1
    raw = b'<meta charset="iso-8859-1"><p>don\x92t</p>'
    text, codec, _ = decode_html(raw)
    assert codec == "windows-1252" and "don’t" in text


def test_utf8_then_cp1252_fallback():
    assert sniff_charset("plain ascii".encode())[1] == "utf8"
    assert sniff_charset("naïve".encode("utf-8"))[0] == "utf-8"
    enc, src = sniff_charset("naïve café — dash".encode("windows-1252"))
    assert (enc, src) == ("windows-1252", "fallback")


def test_charset_from_content_type():
    assert charset_from_content_type("text/html; charset=Shift_JIS") == "Shift_JIS"
    assert charset_from_content_type('text/html; charset="utf-8"') == "utf-8"
    assert charset_from_content_type("text/html") is None


def test_extract_document_records_encoding():
    phrase = "日本語のテキスト"
    doc = extract_document(_page(phrase, "shift_jis", "shift_jis"))
    assert doc["status"] == "SUCCESS" and doc["encoding"] == "shift_jis"
    assert phrase in doc["text"]
    # transport hint wins when no BOM/meta contradicts
    doc2 = extract_document(
        _page("cliché", None, "windows-1252"), charset_hint="latin-1"
    )
    assert doc2["encoding"] == "windows-1252" and "cliché" in doc2["text"]


@pytest.mark.spark
def test_warc_http_charset_drives_extraction(spark, tmp_path):
    from datetime import datetime, timezone

    from docling_eval_spark.extraction.stage import extract_stage
    from docling_eval_spark.sources.warc import read_warc
    from warc_fixtures import encode_warc

    phrase = "résumé naïve café"
    # NO meta charset — only the HTTP header knows it's cp1252
    html = (
        "<html><head><title>t</title></head><body><p>"
        + "word " * 30 + phrase + "</p></body></html>"
    ).encode("windows-1252")
    ts = datetime(2017, 1, 1, tzinfo=timezone.utc)
    warc = encode_warc(
        [{"url": "http://a.example/", "warc_ts": ts, "html": html,
          "charset": "windows-1252"}]
    )
    (tmp_path / "one.warc.gz").write_bytes(warc)
    wdf = read_warc(spark, str(tmp_path))
    row = wdf.filter("warc_status = 'SUCCESS'").collect()[0]
    assert row["http_charset"] == "windows-1252"
    ex = extract_stage(
        wdf.selectExpr("url", "html", "http_charset"),
        charset_col="http_charset",
    ).collect()[0]
    assert ex["encoding"] == "windows-1252"
    assert phrase in ex["extracted_text"]
