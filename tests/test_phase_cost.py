"""Each phase call pays its fixed cost once: one file per dataset
shard, one pass per ``evaluate`` call, ``visualize`` rendering from the
stats ``evaluate`` wrote, and a corpus mAP that does not depend on the
order of the AP rows."""

from __future__ import annotations

import json
import struct
import uuid
from pathlib import Path

import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from docling_eval_spark import pipelines
from docling_eval_spark.datagen.pages import write_pages_parquet
from docling_eval_spark.evaluators.layout import AP_SCHEMA, map_from_ap_table
from docling_eval_spark.evaluators.stats import collect_stats
from docling_eval_spark.reporting.reports import render_metric_report
from docling_eval_spark.session import local_frame

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


def _rows_per_file(path) -> dict[Path, int]:
    return {
        f: pq.ParquetFile(f).metadata.num_rows
        for f in Path(path).glob("bucket=*/*.parquet")
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


def test_phase_calls_run_few_jobs(spark, dataset, tmp_path):
    """No job re-derives what the call already had: evaluate reads the
    dataset once, with its recorded schema, and never reads its own
    output back; visualize reads the written stats with their schema."""
    ev = str(tmp_path / "ev")
    pipelines.evaluate(spark, dataset, "markdown_text", ev)
    assert _jobs(spark, lambda: pipelines.evaluate(spark, dataset, "reading_order", ev)) <= 4
    rep = str(tmp_path / "rep")
    assert _jobs(spark, lambda: pipelines.visualize(spark, dataset, ev, "markdown_text", rep)) <= 2


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
