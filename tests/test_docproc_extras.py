"""Bbox-text evaluator (J4), spatial join (J6), report sinks (S10-S12),
OTSL and key-value links."""

from __future__ import annotations

import pytest

from docling_eval_spark.datagen.pages import gen_page
from docling_eval_spark.evaluators.bbox_text import evaluate_document, match_bboxes
from docling_eval_spark.evaluators.text_metrics import tokenize
from docling_eval_spark.extraction.kernel import extract_document


# ------------------------------------------------------------- bbox text


def _item(text, l, t, r, b):
    return {"text": text, "l": l, "t": t, "r": r, "b": b}


def test_bbox_match_identity():
    items = [_item("hello world", 0, 0, 10, 10), _item("foo bar", 0, 20, 10, 30)]
    scores = evaluate_document(items, items)
    assert len(scores) == 2
    for s in scores:
        assert s["f1_score"] == 1.0
        assert s["edit_distance"] == 0.0


def test_bbox_match_many_to_one_and_orphans():
    true_items = [_item("alpha beta", 0, 0, 10, 10), _item("orphan text", 100, 100, 110, 110)]
    # two pred boxes both overlapping the first true box; pivot = true
    # (fewer? equal counts → pivot=true); both preds map to box 0
    pred_items = [_item("alpha", 0, 0, 10, 5), _item("beta", 0, 5, 10, 10)]
    matches = match_bboxes(true_items, pred_items)
    by_true = {tuple(m["true_tokens"]): m for m in matches}
    assert by_true[("alpha", "beta")]["pred_tokens"] == ["alpha", "beta"]
    # the orphan true box: second pred...? both preds matched box 0 →
    # true box 1 is an unmatched pivot → orphan with empty preds
    assert by_true[("orphan", "text")]["pred_tokens"] == []
    scores = evaluate_document(true_items, pred_items)
    perfect = [s for s in scores if s["f1_score"] == 1.0]
    zero = [s for s in scores if s["f1_score"] == 0.0]
    assert len(perfect) == 1 and len(zero) == 1


def test_bbox_match_zero_iou_still_maps():
    # reference argmax has no threshold: a far-away pred still maps
    matches = match_bboxes(
        [_item("a b c", 0, 0, 10, 10)], [_item("x", 500, 500, 510, 510)]
    )
    assert len(matches) == 1
    assert matches[0]["pred_tokens"] == ["x"]


def test_bbox_stage(spark):
    item_t = "array<struct<text:string,l:double,t:double,r:double,b:double>>"
    rows = [
        (
            "u1",
            [("hello world", 0.0, 0.0, 10.0, 10.0)],
            [("hello world", 0.0, 0.0, 10.0, 10.0)],
        )
    ]
    df = spark.createDataFrame(
        rows, f"url string, gt_layout_text {item_t}, pred_layout_text {item_t}"
    )
    from docling_eval_spark.evaluators.bbox_text import bbox_text_stage

    out = bbox_text_stage(df).collect()
    assert len(out) == 1
    # 2-token match: BLEU-4 is 0 (no 4-grams — nltk semantics); set
    # metrics are the identity signal
    assert out[0]["f1_score"] == pytest.approx(1.0)
    assert out[0]["edit_distance"] == 0.0


# ------------------------------------------------------------- spatial


def test_point_in_box_join(spark):
    from docling_eval_spark.operators.spatial import point_in_box_join

    boxes = spark.createDataFrame(
        [
            (1, 10, 0.0, 0.0, 100.0, 100.0),  # big box
            (1, 11, 40.0, 40.0, 60.0, 60.0),  # small box inside big
            (2, 12, 0.0, 0.0, 10.0, 10.0),
        ],
        "page_no int, box_id long, l double, t double, r double, b double",
    )
    points = spark.createDataFrame(
        [
            (1, 100, 50.0, 50.0),  # inside both → smallest (11) wins
            (1, 101, 5.0, 5.0),    # only big box
            (1, 102, 500.0, 500.0),  # nowhere → null box
            (2, 103, 5.0, 5.0),
        ],
        "page_no int, point_id long, x double, y double",
    )
    got = {r["point_id"]: r["box_id"] for r in point_in_box_join(points, boxes).collect()}
    assert got == {100: 11, 101: 10, 102: None, 103: 12}


# ------------------------------------------------------------- reports


def test_reports(spark, tmp_path):
    from docling_eval_spark.evaluators.stats import collect_stats
    from docling_eval_spark.reporting.reports import (
        render_metric_report,
        save_comparison_html,
        stats_to_table_text,
    )

    df = spark.createDataFrame([(v / 10.0,) for v in range(10)], "score double")
    stats = collect_stats(df, ["score"])["score"]
    row = render_metric_report(stats, str(tmp_path), "score")
    assert row["total"] == 10
    md = (tmp_path / "score.md").read_text()
    assert md.count("\n") == 21  # header + separator + 20 bins
    assert "(0.000, 0.050]" in md
    svg = (tmp_path / "score.svg").read_text()
    assert svg.startswith("<svg") and "rect" in svg
    assert "| 10.00 |" not in stats_to_table_text(row, "x").splitlines()[0]
    # standalone raster plot (reference stats.py:52-73 matplotlib
    # figure parity): decodes via the in-repo codec, right size, has
    # bar fill + black text/axes pixels
    from docling_eval_spark.operators.png_codec import png_decode

    img = png_decode((tmp_path / "score.png").read_bytes())
    assert img.shape == (320, 640, 3)
    blue = (
        (img[:, :, 0] == 72) & (img[:, :, 1] == 120) & (img[:, :, 2] == 168)
    ).sum()
    assert blue > 500 and (img.sum(axis=2) == 0).sum() > 300

    cmp_df = spark.createDataFrame(
        [("u1", "same", "same"), ("u2", "a", "b")],
        "url string, text string, extracted_text string",
    )
    n = save_comparison_html(cmp_df, str(tmp_path / "cmp.html"))
    assert n == 2
    html = (tmp_path / "cmp.html").read_text()
    assert "#ffe8e8" in html and "#e8ffe8" in html


# ------------------------------------------------------------- otsl / kv


def test_otsl_roundtrip_all_generated_tables():
    from docling_eval_spark.extraction.otsl import grid_to_otsl, parse_otsl
    from docling_eval_spark.evaluators.teds import is_complex_grid, teds_score

    tot = 0
    for i in range(120):
        doc = extract_document(gen_page(i)["html"])
        for g in doc["tables"]:
            g2 = parse_otsl(grid_to_otsl(g))
            assert teds_score(g, g2) == 1.0
            assert is_complex_grid(g) == is_complex_grid(g2)
            tot += 1
    assert tot > 40


def test_otsl_spans_and_headers():
    from docling_eval_spark.extraction.otsl import parse_otsl

    s = "<otsl><ched>H<lcel><ched>X<nl><fcel>a<xcel>...wait"  # malformed tail ok
    s = "<otsl><ched>H<lcel><ched>X<nl><rhed>r<fcel>b<fcel>c<nl></otsl>"
    g = parse_otsl(s)
    assert g["num_rows"] == 2 and g["num_cols"] == 3
    by_pos = {
        (c["start_row_offset_idx"], c["start_col_offset_idx"]): c
        for c in g["cells"]
    }
    assert by_pos[(0, 0)]["col_span"] == 2 and by_pos[(0, 0)]["col_header"]
    assert by_pos[(1, 0)]["row_header"]
    # 2-D merge: fcel with ucel below and lcel right and xcel diag
    s2 = "<otsl><fcel>big<lcel><fcel>z<nl><ucel><xcel><fcel>w<nl></otsl>"
    g2 = parse_otsl(s2)
    big = {
        (c["start_row_offset_idx"], c["start_col_offset_idx"]): c
        for c in g2["cells"]
    }[(0, 0)]
    assert big["row_span"] == 2 and big["col_span"] == 2


def test_kv_link_metrics(spark):
    from docling_eval_spark.operators.kv_graph import kv_link_metrics_arrays

    links = spark.createDataFrame(
        [
            ("d1", [(1, 2), (2, 3)], [(1, 2), (3, 4)]),
            ("d2", [(1, 2)], [(9, 9)]),
        ],
        "key string, gt_links array<struct<src:int,dst:int>>, "
        "pred_links array<struct<src:int,dst:int>>",
    )
    got = {r["key"]: r for r in kv_link_metrics_arrays(links).collect()}
    assert got["d1"]["n_inter"] == 1
    assert got["d1"]["precision"] == 0.5 and got["d1"]["recall"] == 0.5
    assert got["d2"]["f1"] == 0.0


# ------------------------------------------------------------- cvat xml


