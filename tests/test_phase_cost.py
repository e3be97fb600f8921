"""Each phase call pays its fixed cost once: one file per dataset
shard, one pass per ``evaluate`` call that builds only the plans it
writes, ``visualize`` rendering from the stats ``evaluate`` wrote, and
a corpus mAP that does not depend on the order of the AP rows."""

from __future__ import annotations

import json
import math
import random
import struct
import uuid
from pathlib import Path

import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructField, StructType

from docling_eval_spark import hadoop_fs, pipelines
from docling_eval_spark.datagen.pages import PAGES_SCHEMA, write_pages_parquet
from docling_eval_spark.evaluators.layout import (
    AP_SCHEMA,
    IOU_THRESHOLDS,
    MAP_SCHEMA,
    corpus_ap_table,
    map_from_ap_table,
    map_of_ap_rows,
)
from docling_eval_spark.evaluators.stats import BINS, STATS_SCHEMA, collect_stats, fold_counts
from docling_eval_spark.reporting.reports import (
    render_metric_report,
    save_inspection_html,
    save_layout_html,
    save_overlay_html,
)
from docling_eval_spark.session import local_frame
from docling_eval_spark.sources.pages_source import read_pages

NON_LAYOUT = ["markdown_text", "table_structure", "reading_order", "bbox_text"]


@pytest.fixture(scope="module")
def pages100(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pc") / "pages")
    write_pages_parquet(spark, path, 100, seed=3, partitions=4)
    return path


@pytest.fixture(scope="module")
def dataset(spark, pages100, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pc") / "ds")
    pipelines.create_dataset(spark, pages100, path, perturb=0.2)
    return path


def _rows_per_file(path, pattern: str = "bucket=*/*.parquet") -> dict[Path, int]:
    return {
        f: pq.ParquetFile(f).metadata.num_rows for f in Path(path).glob(pattern)
    }


def _row_set(path) -> list[str]:
    table = pads.dataset(str(path), format="parquet", partitioning="hive").to_table()
    return sorted(json.dumps(r, sort_keys=True, default=repr) for r in table.to_pylist())


def test_create_writes_one_file_per_bucket(dataset):
    files = _rows_per_file(dataset)
    assert len(files) == len({f.parent for f in files}) > 1
    assert sum(files.values()) == 100


def test_create_caps_rows_per_file(spark, pages100, dataset, tmp_path):
    capped = tmp_path / "ds5"
    n = pipelines.create_dataset(
        spark, pages100, str(capped), perturb=0.2, records_per_shard=5
    )
    files = _rows_per_file(capped)
    assert n == sum(files.values()) == 100
    assert max(files.values()) <= 5
    assert _row_set(capped) == _row_set(dataset)


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"phase-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_phase_calls_run_few_jobs(spark, pages100, dataset, tmp_path):
    """No job re-derives what the call already had: create scans the
    pages once, with no join back to them; evaluate reads the dataset
    once, with its recorded schema, and never reads its own output
    back (layout: one AP aggregation, collected once); visualize reads
    the written stats with their schema and collects the layout HTML
    sample once."""
    ds2 = str(tmp_path / "ds2")
    assert _jobs(spark, lambda: pipelines.create_dataset(spark, pages100, ds2, perturb=0.2)) <= 2
    ev = str(tmp_path / "ev")
    pipelines.evaluate(spark, dataset, "markdown_text", ev)
    assert _jobs(spark, lambda: pipelines.evaluate(spark, dataset, "reading_order", ev)) <= 4
    assert _jobs(spark, lambda: pipelines.evaluate(spark, dataset, "layout", ev)) <= 6
    pipelines.evaluate(spark, dataset, "table_structure", ev)
    rep = str(tmp_path / "rep")
    assert _jobs(spark, lambda: pipelines.visualize(spark, dataset, ev, "markdown_text", rep)) <= 1
    assert _jobs(spark, lambda: pipelines.visualize(spark, dataset, ev, "table_structure", rep)) <= 2
    assert _jobs(spark, lambda: pipelines.visualize(spark, dataset, ev, "layout", rep)) <= 4


@pytest.mark.parametrize("modality", ["markdown_text", "layout"])
def test_evaluate_writes_row_sized_files(spark, dataset, tmp_path, monkeypatch, modality):
    """The per-row table is ceil(rows / ROWS_PER_FILE[modality]) parquet
    files, not one per input partition, where the row count comes from
    the stats pass; the stats directory is one part file and
    ``_SUCCESS``."""
    one, capped = tmp_path / "one", tmp_path / "capped"
    table = f"evaluation_{modality}"
    pipelines.evaluate(spark, dataset, modality, str(one))
    files = _rows_per_file(one / table, "*.parquet")
    assert len(files) == 1
    stats = sorted(
        p.name[:10] for p in (one / f"{table}_stats").iterdir()
        if not p.name.startswith(".")
    )
    assert stats == ["_SUCCESS", "part-00000"]

    rows = sum(files.values())
    if modality != "layout":
        written = spark.read.parquet(str(one / table))
        assert pipelines.rollup_frame(spark, written, modality)[1] == rows
    monkeypatch.setitem(pipelines.ROWS_PER_FILE, modality, -(-rows // 2))
    pipelines.evaluate(spark, dataset, modality, str(capped))
    files = _rows_per_file(capped / table, "*.parquet")
    assert len(files) == 2 and sum(files.values()) == rows
    assert _row_set(capped / table) == _row_set(one / table)


def test_evaluate_without_rows_writes_one_empty_file(spark, tmp_path):
    """A non-layout modality with no rows (HTML pages have no layout
    boxes, so no bbox_text matches) writes its per-row table as one
    empty parquet file: the stats pass over the empty cache counts 0
    rows."""
    pages, ds, ev = (str(tmp_path / n) for n in ("pages", "ds", "ev"))
    write_pages_parquet(spark, pages, 3, seed=1, partitions=1)
    pipelines.create_dataset(spark, pages, ds, perturb=0.2)
    pipelines.evaluate(spark, ds, "bbox_text", ev)
    files = _rows_per_file(f"{ev}/evaluation_bbox_text", "*.parquet")
    assert list(files.values()) == [0]


_STATS_DDL = f"metric string, {STATS_SCHEMA}"
_EDGE_STATS = [
    ("empty", *fold_counts([]).values()),
    ("nan_inf", 1, math.nan, math.inf, -math.inf, [1] * 20, BINS),
    ("tiny_huge", 2, 1e-05, 1e20, -0.0, [], BINS),
    ("null", 3, 0.5, None, 0.1, [0] * 20, None),
]


def _lines(path) -> bytes:
    (part,) = Path(path).glob("part-*")
    return part.read_bytes()


def test_driver_json_rows_equal_spark_json(spark, tmp_path):
    """Stats rows written and read on the driver, with no job, are the
    bytes ``DataFrame.write.json`` writes and the rows
    ``spark.read.json`` reads back: NaN, ±Infinity, 1e-05, 1e20, -0.0,
    a NULL field and an empty array included."""
    rows = local_frame(spark, _EDGE_STATS, _STATS_DDL)
    spark_dir, driver_dir = str(tmp_path / "spark"), str(tmp_path / "driver")
    rows.coalesce(1).write.mode("overwrite").json(spark_dir)
    assert _jobs(spark, lambda: pipelines.write_json_rows(rows, driver_dir)) == 0
    assert _lines(driver_dir) == _lines(spark_dir)
    assert (Path(driver_dir) / "_SUCCESS").read_bytes() == b""

    read = []
    assert _jobs(spark, lambda: read.append(pipelines.read_json_rows(spark, driver_dir, _STATS_DDL))) == 0
    want = spark.read.schema(_STATS_DDL).json(spark_dir).collect()
    assert list(map(repr, read[0])) == list(map(repr, want))


def test_visualize_reads_stats_without_a_job(spark, dataset, tmp_path):
    ev = str(tmp_path / "ev")
    pipelines.evaluate(spark, dataset, "reading_order", ev)
    stats = []
    assert _jobs(spark, lambda: stats.append(pipelines._written_stats(spark, ev, "reading_order"))) == 0
    assert set(stats[0]) == {"ard_norm", "w_ard_norm"}


def test_hadoop_fs_on_file_uri(spark, tmp_path):
    root = f"file://{tmp_path}/h"
    assert hadoop_fs.read_text(spark, f"{root}/a.txt") is None
    assert hadoop_fs.list_names(spark, root) is None
    hadoop_fs.write_text(spark, f"{root}/a.txt", "é\n")
    assert hadoop_fs.read_text(spark, f"{root}/a.txt") == "é\n"
    with pytest.raises(FileNotFoundError):
        hadoop_fs.read_json_lines(spark, f"{root}/j")
    for lines in (['{"a":0}'], ['{"a":1}', '{"a":2}']):
        hadoop_fs.write_json_lines(spark, f"{root}/j", lines)
    assert hadoop_fs.read_json_lines(spark, f"{root}/j") == ['{"a":1}', '{"a":2}']
    names = [n for n in hadoop_fs.list_names(spark, f"{root}/j") if not n.startswith(".")]
    assert names[0] == "_SUCCESS" and len(names) == 2


def test_evaluate_builds_no_exact_rollup(spark, dataset, tmp_path, monkeypatch):
    """evaluate writes the count-then-fold stats; the lazy exact
    rollup (``compute_stats``) of the ``evaluate_<modality>`` helpers
    is never built."""

    def boom(*a, **k):
        raise AssertionError("evaluate built a compute_stats rollup")

    monkeypatch.setattr(pipelines, "compute_stats", boom)
    for modality in NON_LAYOUT:
        pipelines.evaluate(spark, dataset, modality, str(tmp_path / "ev"))
        assert (tmp_path / "ev" / f"evaluation_{modality}_stats").is_dir()


def _pages_with_urls(spark, src: str, dst: str, urls: dict) -> str:
    """The pages at ``src`` with the url of page i replaced by
    ``urls[i]`` (None → NULL), written to ``dst``."""
    rows = sorted(read_pages(spark, src).collect(), key=lambda r: r["url"])
    out = [r.asDict() | {"url": urls.get(i, r["url"])} for i, r in enumerate(rows)]
    schema = StructType([StructField(f.name, f.dataType) for f in PAGES_SCHEMA])
    spark.createDataFrame(out, schema).write.mode("overwrite").parquet(dst)
    return dst


@pytest.mark.parametrize("perturb", [0.2, None])
def test_create_writes_one_row_per_page(spark, tmp_path, perturb):
    """Each page gives one dataset row with its own GT, a repeated url
    included (a join back to the pages on url gave 2 × 2 rows for a
    url seen twice); pages with a NULL url are dropped."""
    base = str(tmp_path / "pages")
    write_pages_parquet(spark, base, 11, seed=4, partitions=2)
    urls = sorted(r["url"] for r in read_pages(spark, base).select("url").collect())
    dup = _pages_with_urls(spark, base, str(tmp_path / "dup"), {1: urls[0]})
    n = pipelines.create_dataset(spark, dup, str(tmp_path / "ds"), perturb=perturb)
    rows = pipelines.read_dataset(spark, str(tmp_path / "ds")).collect()
    assert n == len(rows) == 11
    want = sorted((r["url"], r["text"], r["warc_ts"]) for r in read_pages(spark, dup).collect())
    assert sorted((r["url"], r["gt_text"], r["warc_ts"]) for r in rows) == want

    nulls = _pages_with_urls(spark, base, str(tmp_path / "null"), {2: None, 5: None})
    n = pipelines.create_dataset(spark, nulls, str(tmp_path / "ds_null"), perturb=perturb)
    assert n == 9


@pytest.mark.parametrize("perturb", [0.2, None])
@pytest.mark.parametrize("buckets", [16, None])
def test_read_dataset_schema_equals_inferred(spark, pages100, tmp_path, buckets, perturb):
    """The schema ``create_dataset`` records is the one a read infers,
    column order and partition column included, and reads the same
    rows; the read runs no job."""
    path = str(tmp_path / "ds")
    pipelines.create_dataset(spark, pages100, path, buckets=buckets, perturb=perturb)
    assert (Path(path) / pipelines.SCHEMA_FILE).is_file()
    reads = []
    assert _jobs(spark, lambda: reads.append(pipelines.read_dataset(spark, path))) == 0
    recorded, inferred = reads[0], spark.read.parquet(path)
    assert recorded.schema == inferred.schema
    assert ("bucket" in recorded.columns) == (buckets is not None)
    assert sorted(map(repr, recorded.collect())) == sorted(map(repr, inferred.collect()))


@pytest.mark.parametrize("modality", NON_LAYOUT)
def test_visualize_reports_match_per_row_stats(spark, dataset, tmp_path, modality):
    """The reports rendered from evaluate's stats rows are
    byte-identical to ones rendered from a counting pass over the
    per-row table."""
    ev, rep, direct = tmp_path / "ev", tmp_path / "rep", tmp_path / "direct"
    pipelines.evaluate(spark, dataset, modality, str(ev))
    pipelines.visualize(spark, dataset, str(ev), modality, str(rep))
    per_row = spark.read.parquet(str(ev / f"evaluation_{modality}"))
    cols = pipelines.REPORT_COLS[modality]
    for c, row in collect_stats(per_row, cols).items():
        render_metric_report(row, str(direct), f"{modality}_{c}")
    names = sorted(p.name for p in direct.iterdir())
    assert len(names) == 4 * len(cols)
    for name in names:
        assert (rep / name).read_bytes() == (direct / name).read_bytes(), name


def test_corpus_map_is_row_order_independent(spark):
    """The same AP rows in two orders whose float sums differ (0.1 +
    0.2 + 0.3 != 0.3 + 0.2 + 0.1) give bit-identical mAP values."""
    rows = [
        (label, thr, ap)
        for thr in (0.5, 0.75)
        for label, ap in (("a", 0.1), ("b", 0.2), ("c", 0.3))
    ]
    assert sum(ap for *_, ap in rows) != sum(ap for *_, ap in rows[::-1])

    def maps(rs):
        row = map_from_ap_table(local_frame(spark, rs, AP_SCHEMA).coalesce(1)).collect()[0]
        return [struct.pack("<d", row[k]) for k in ("map", "map_50", "map_75")]

    assert maps(rows) == maps(rows[::-1])
    empty = map_from_ap_table(local_frame(spark, [], AP_SCHEMA)).collect()[0]
    assert list(empty) == [None, None, None]
    assert MAP_SCHEMA.split(", ") == [f"{k} double" for k in empty.asDict()]


@pytest.mark.parametrize("n", [0, 1, 3, 37])
def test_map_of_ap_rows_equals_map_from_ap_table(spark, n):
    """evaluate's driver-side mAP row is map_from_ap_table's, bit for
    bit, NULL and NaN APs included."""
    rng = random.Random(n)
    rows = [
        (f"c{i % 5}", IOU_THRESHOLDS[i % 10], rng.choice([rng.random(), 0.0, -0.0, 0.1, 0.2, None]))
        for i in range(n)
    ] + ([("nan", 0.75, math.nan)] if n == 3 else [])
    frame = local_frame(spark, rows, AP_SCHEMA).repartition(3)
    want = map_from_ap_table(frame).collect()[0]
    got = map_of_ap_rows([dict(zip(("label", "iou_thr", "ap"), r)) for r in rows])
    assert [None if v is None else struct.pack("<d", v) for v in got] == [
        None if v is None else struct.pack("<d", v) for v in want
    ]


_BOX = "label string, l double, t double, r double, b double"
_LAYOUT_DF = f"url string, gt_layout array<struct<{_BOX}>>, pred_layout array<struct<{_BOX}, score double>>"


def _ap_tables(spark, images):
    df = spark.createDataFrame(images, _LAYOUT_DF)
    sketch, exact = (
        {(r["label"], r["iou_thr"]): r["ap"] for r in corpus_ap_table(df, exact=e).collect()}
        for e in (False, True)
    )
    return sketch, exact


def test_ap_table_matches_exact_oracle(spark):
    """The one-aggregation AP table equals the exact full-sort kernel:
    a class with GT but no detection gets AP 0.0 at every threshold, a
    class with detections but no GT gets no row, and detections with
    tied scores form one PR point."""
    text = [("text", 0.0, 0.0, 10.0, 10.0), ("text", 20.0, 0.0, 30.0, 10.0)]
    images = [
        (
            "a",
            text + [("table", 0.0, 20.0, 40.0, 40.0)],
            [
                ("text", 0.0, 0.0, 10.0, 10.0, 0.9),  # exact hit
                ("text", 21.0, 0.0, 31.0, 10.0, 0.9),  # IoU 0.82, tied score
                ("text", 50.0, 50.0, 60.0, 60.0, 0.7),  # miss
                ("picture", 0.0, 20.0, 40.0, 40.0, 0.8),  # no GT picture
            ],
        ),
        ("b", text, [("text", 20.0, 0.0, 30.0, 10.0, 0.9), ("text", 0.0, 1.0, 10.0, 11.0, 0.6)]),
    ]
    sketch, exact = _ap_tables(spark, images)
    assert sketch == exact
    assert set(sketch) == {(c, t) for c in ("text", "table") for t in IOU_THRESHOLDS}
    assert all(sketch[("table", t)] == 0.0 for t in IOU_THRESHOLDS)
    assert 0.0 < sketch[("text", 0.5)] < 1.0
    assert sketch[("text", 0.95)] < sketch[("text", 0.5)]

    assert _ap_tables(spark, []) == ({}, {})


def test_evaluate_layout_without_boxes_writes_empty_table(spark, tmp_path):
    """A dataset without layout boxes (HTML pages only) gives an empty
    AP table and a stats row with no value: ``{}``."""
    pages, ds, ev = (str(tmp_path / n) for n in ("pages", "ds", "ev"))
    write_pages_parquet(spark, pages, 3, seed=1, partitions=1)
    pipelines.create_dataset(spark, pages, ds, perturb=0.2)
    pipelines.evaluate(spark, ds, "layout", ev)
    assert spark.read.parquet(f"{ev}/evaluation_layout_ap_table").count() == 0
    files = _rows_per_file(f"{ev}/evaluation_layout", "*.parquet")
    assert list(files.values()) == [0]
    stats = [
        line
        for f in sorted(Path(ev, "evaluation_layout_stats").glob("part-*"))
        for line in f.read_text().splitlines()
    ]
    assert stats == ["{}"]


def test_layout_html_from_one_collect(spark, dataset, tmp_path):
    """save_layout_html writes the files the two save_* calls write,
    byte for byte, from one job."""
    ds = pipelines.read_dataset(spark, dataset)
    one, two = tmp_path / "one", tmp_path / "two"
    assert _jobs(spark, lambda: save_layout_html(ds, str(one))) == 1
    save_overlay_html(ds, str(two / "layout_overlay.html"))
    save_inspection_html(ds, str(two / "inspection.html"))
    for name in ("layout_overlay.html", "inspection.html"):
        assert (one / name).read_bytes() == (two / name).read_bytes(), name
    assert (one / "inspection.html").read_text().count("<h3>") == 8
