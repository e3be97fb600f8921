"""Extraction kernel parity: the north-rule invariant (SURVEY §5.2.2).

The same kernel runs (a) as a plain local loop (the oracle) and
(b) through the Spark pipeline; extracted text must be byte-identical
per url, at any parallelism.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from docling_eval_spark.datagen.pages import (
    SENTINEL_TMPL,
    gen_page,
    pages_dataframe,
    render_page_for_text,
)
from docling_eval_spark.extraction.kernel import (
    BLOCK_SEP,
    extract_document,
    extract_text,
    normalize_ws,
)
from docling_eval_spark.extraction.stage import extract_stage

N_LOCAL = 400


def test_local_byte_identity():
    for i in range(N_LOCAL):
        row = gen_page(i)
        assert extract_text(row["html"]) == row["text"], f"page {i}"


def test_table_grids_match_specs():
    checked = 0
    for i in range(200):
        row = gen_page(i)
        if not row["_tables"]:
            continue
        doc = extract_document(row["html"])
        assert len(doc["tables"]) == len(row["_tables"])
        for grid, spec in zip(doc["tables"], row["_tables"]):
            assert grid["num_rows"] == spec["num_rows"]
            assert grid["num_cols"] == spec["num_cols"]
            has_span = any(
                c["row_span"] > 1 or c["col_span"] > 1 for c in grid["cells"]
            )
            assert has_span == spec["complex"]
            checked += 1
    assert checked > 50


def test_minipdf_reading_order():
    # i % 10 == 7 pages are MiniPDF with shuffled block order on disk
    row = gen_page(7)
    doc = extract_document(row["html"])
    assert doc["mimetype"] == "application/pdf"
    assert doc["text"] == row["text"]
    assert len(doc["layout"]) > 0
    assert doc["pages"][0]["width"] == 612.0


def test_failure_rows_not_exceptions():
    # a PDF magic with no page objects → failure row, not a crash
    doc = extract_document(b"%PDF-1.7 real pdf")
    assert doc["status"] == "FAILURE"
    assert "ValueError" in doc["error"]
    assert extract_document(b"\x00\xff\x9c")["status"] == "SUCCESS"


def test_charspan_provenance():
    doc = extract_document(gen_page(0)["html"])
    text = doc["text"]
    assert doc["items"], "no items extracted"
    for it in doc["items"]:
        s, e = it["charspan"]
        assert text[s:e] == it["text"]
    assert doc["items"][0]["charspan"][0] == 0
    assert doc["items"][-1]["charspan"][1] == len(text)


def test_render_page_for_text_contract():
    t = "short  text with   odd   spacing"
    expected = normalize_ws(t) + BLOCK_SEP + SENTINEL_TMPL.format(doc_id=9)
    assert extract_text(render_page_for_text(9, t)) == expected


def test_escaping_roundtrip():
    row = None
    for i in range(300):
        r = gen_page(i)
        if "&" in r["text"] or "<" in r["text"]:
            row = r
            break
    assert row is not None, "no spicy tokens in 300 pages?"
    assert extract_text(row["html"]) == row["text"]


@pytest.mark.spark
def test_spark_byte_identity(spark):
    pages = pages_dataframe(spark, 200, partitions=4)
    ex = extract_stage(pages)
    res = (
        ex.join(pages.select("url", "text"), "url")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("extracted_text") == F.col("text"), 1).otherwise(0)
            ).alias("identical"),
        )
        .collect()[0]
    )
    assert res["n"] == 200
    assert res["identical"] == 200


@pytest.mark.spark
def test_spark_parallelism_invariance(spark):
    a = extract_stage(pages_dataframe(spark, 120, partitions=2))
    b = extract_stage(pages_dataframe(spark, 120, partitions=12))
    ha = sorted(r["text_md5"] for r in a.select("text_md5").collect())
    hb = sorted(r["text_md5"] for r in b.select("text_md5").collect())
    assert ha == hb


def test_single_prov_filter_and_json_gt(spark, tmp_path):
    """S3 JSON GT source."""
    import json as _json

    from docling_eval_spark.sources.json_gt import read_gt_json

    # JSON-lines GT with one corrupt record → failure row, not task failure
    p = tmp_path / "gt.jsonl"
    p.write_text(
        _json.dumps({"url": "u1", "gt_text": "hello", "spans": [{"label": "t", "start": 0, "end": 5}]})
        + "\n{not json}\n"
        + _json.dumps({"url": "u2", "gt_text": "world", "spans": []})
        + "\n"
    )
    gt = read_gt_json(spark, str(p))
    rows = {r["gt_status"]: r for r in gt.collect()}
    assert gt.count() == 3
    assert rows["FAILURE"]["error"].startswith("{not json")
    assert gt.filter("gt_status = 'SUCCESS'").count() == 2


def test_extract_text_ld_link_density_rule():
    from docling_eval_spark.extraction.kernel import extract_text_ld

    html = (
        b"<html><head><title>t</title></head><body>"
        b'<nav><a href="/a">one</a> <a href="/b">two</a> '
        b'<a href="/c">three</a></nav>'
        b"<p>short chrome</p>"
        b"<p>real body text with plenty of ordinary words in it</p>"
        b'<p>mixed <a href="/x">linky linky linky linky</a> tail</p>'
        b"<table><tr><td>cell</td></tr></table>"
        b"</body></html>"
    )
    out = extract_text_ld(html)
    # link-dense nav dropped, table excluded, title excluded;
    # short LINKLESS chrome kept (the A/B disagreement surface);
    # mixed block: 4 of 6 words in anchors -> density 0.67 -> dropped
    assert out == (
        "short chrome\n\n"
        "real body text with plenty of ordinary words in it"
    )


def test_extractor_ab_analytic_contract():
    from docling_eval_spark.datagen.pages import (
        SENTINEL_TMPL,
        render_page_for_text,
    )
    from docling_eval_spark.extraction.kernel import (
        BLOCK_SEP,
        extract_text,
        extract_text_ld,
        normalize_ws,
    )

    t = "some   spaced\tdocument body"
    h = render_page_for_text(3, t)
    a = extract_text(h)
    b = extract_text_ld(h)
    exp_a = normalize_ws(t) + BLOCK_SEP + SENTINEL_TMPL.format(doc_id=3)
    assert a == exp_a
    # B = logo + A + copyright footer: the disagreement is exactly the
    # linkless chrome the NumWordsRules tree rejects on word count
    assert b == (
        "SynthSite" + BLOCK_SEP + exp_a + BLOCK_SEP + "© 2024 SynthSite 3"
    )
