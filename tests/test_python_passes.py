"""One Python pass per task: the fused create map, the single layout
matching pass, and driver rows entering Spark as local frames."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest
from conftest import plan_string, python_nodes

from docling_eval_spark import pipelines
from docling_eval_spark.datagen.pages import write_pages_parquet
from docling_eval_spark.evaluators.layout import (
    corpus_ap_table,
    corpus_map,
    layout_image_stage,
)
from docling_eval_spark.extraction.perturb import (
    extract_perturb_stage,
    perturb_stage,
)
from docling_eval_spark.extraction.stage import extract_stage
from docling_eval_spark.session import local_frame
from docling_eval_spark.sources.pages_source import read_pages

P = 0.3


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    # 40 seeded pages: i % 10 == 7 are MiniPDF, i % 10 == 3 real PDF
    path = str(tmp_path_factory.mktemp("pp") / "pages")
    write_pages_parquet(spark, path, 40, seed=5, partitions=3)
    return path


@pytest.fixture(scope="module")
def perturbed_dataset(spark, pages_path, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pp") / "ds")
    pipelines.create_dataset(spark, pages_path, path, buckets=4, perturb=P)
    return path


def test_fused_create_matches_chained_stages(spark, pages_path):
    pages = read_pages(spark, pages_path)
    fused = {r["url"]: r for r in extract_perturb_stage(pages, P).collect()}
    chained = {
        r["url"]: r for r in perturb_stage(extract_stage(pages), P).collect()
    }
    assert len(fused) == 40
    assert fused == chained
    rows = list(fused.values())
    assert {r["mimetype"] for r in rows} >= {"text/html", "application/pdf"}
    assert any(r["pred_tables"] for r in rows)
    assert any(r["pred_layout"] for r in rows)
    assert any(r["pred_text"] != r["extracted_text"] for r in rows)


def test_fused_create_plan_has_one_python_map(spark, pages_path):
    ds = pipelines.dataset_frame(read_pages(spark, pages_path), P)
    assert python_nodes(ds) == ["MapInPandas"]
    assert "pred_layout" in ds.columns and "gt_text" in ds.columns


def test_create_dataset_returns_written_rows(spark, pages_path, tmp_path):
    n = pipelines.create_dataset(spark, pages_path, str(tmp_path / "ds"), buckets=2)
    assert n == spark.read.parquet(str(tmp_path / "ds")).count() == 40


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_evaluate_layout_matches_projections(spark, perturbed_dataset, tmp_path):
    ev = tmp_path / "ev"
    pipelines.evaluate(spark, perturbed_dataset, "layout", str(ev))
    ds = pipelines.read_dataset(spark, perturbed_dataset)
    src = ds.select(
        "url", F.col("layout").alias("gt_layout"), "pred_layout"
    ).filter(F.size("gt_layout") > 0)

    per_image = spark.read.parquet(str(ev / "evaluation_layout"))
    want = layout_image_stage(src)
    assert per_image.columns == want.columns
    assert per_image.count() > 0
    assert _sorted_rows(per_image, want.columns) == _sorted_rows(want, want.columns)

    ap = spark.read.parquet(str(ev / "evaluation_layout_ap_table"))
    cols = ["label", "iou_thr", "ap"]
    got_ap = _sorted_rows(ap, cols)
    assert got_ap == _sorted_rows(corpus_ap_table(src), cols)
    exact = {(r[0], r[1]): r[2] for r in _sorted_rows(corpus_ap_table(src, exact=True), cols)}
    assert {(r[0], r[1]) for r in got_ap} == set(exact)
    for label, thr, v in got_ap:
        assert v == pytest.approx(exact[(label, thr)], abs=1e-12)
    # the stats row is the mean of the written table, and agrees with
    # the exact corpus mAP
    stats = spark.read.json(str(ev / "evaluation_layout_stats")).collect()[0]
    ex_map = corpus_map(src, exact=True).collect()[0]
    for k in ("map", "map_50", "map_75"):
        assert stats[k] == pytest.approx(ex_map[k], abs=1e-12)


@pytest.mark.parametrize("modality", pipelines.MODALITIES)
def test_evaluate_leaves_nothing_cached(spark, perturbed_dataset, tmp_path, modality):
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    pipelines.evaluate(spark, perturbed_dataset, modality, str(tmp_path / "ev"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


@pytest.mark.parametrize(
    "modality", ["markdown_text", "table_structure", "reading_order", "bbox_text"]
)
def test_rollup_plans_as_local_table_scan(spark, perturbed_dataset, tmp_path, modality):
    ev = tmp_path / "ev"
    pipelines.evaluate(spark, perturbed_dataset, modality, str(ev))
    rollup = pipelines.rollup_frame(
        spark, spark.read.parquet(str(ev / f"evaluation_{modality}")), modality
    )
    assert "LocalTableScan" in plan_string(rollup)
    assert python_nodes(rollup) == []
    written = spark.read.json(str(ev / f"evaluation_{modality}_stats"))
    assert sorted(map(tuple, written.select(*rollup.columns).collect())) == sorted(
        map(tuple, rollup.collect())
    )


def test_local_frame_keeps_null_and_nan_apart(spark):
    df = local_frame(
        spark,
        [("a", float("nan"), [1, 2]), ("b", None, None)],
        "k string, v double, h array<bigint>",
    )
    assert python_nodes(df) == []
    assert "LocalTableScan" in plan_string(df)
    a, b = sorted(df.collect())
    assert math.isnan(a["v"]) and a["h"] == [1, 2]
    assert b["v"] is None and b["h"] is None
    empty = local_frame(spark, [], "domain string")
    assert empty.collect() == [] and empty.columns == ["domain"]
