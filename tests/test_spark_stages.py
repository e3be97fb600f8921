"""DataFrame stages vs the pure-Python kernels (metric-value parity,
SURVEY §5.2.3)."""

from __future__ import annotations

import statistics

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_eval_spark.datagen.pages import gen_page, pages_dataframe
from docling_eval_spark.evaluators.layout import corpus_map, image_map, layout_image_stage
from docling_eval_spark.evaluators.reading_order import ard_norm_py, ard_stage
from docling_eval_spark.evaluators.stats import (
    collect_counted_stats,
    collect_stats,
    compute_stats,
)
from docling_eval_spark.evaluators.teds import teds_score, teds_stage
from docling_eval_spark.evaluators.text_metrics import (
    METRIC_COLS,
    text_metrics,
    text_metrics_stage,
)
from docling_eval_spark.extraction.stage import extract_stage

import numpy as np


def test_stats_stage_matches_statistics_module(spark):
    vals = [0.12, 0.33, 0.47, 0.52, 0.61, 0.61, 0.78, 0.94, 0.08, 0.44]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    row = compute_stats(df, "v").collect()[0]
    assert row["total"] == len(vals)
    assert row["mean"] == pytest.approx(statistics.mean(vals), abs=1e-12)
    assert row["median"] == pytest.approx(statistics.median(vals), abs=1e-12)
    assert row["std"] == pytest.approx(statistics.stdev(vals), abs=1e-12)
    hist, _ = np.histogram(vals, bins=20, range=(0, 1))
    assert row["hist"] == hist.tolist()
    assert len(row["bins"]) == 21


def _collect_grouped(spark, rows, groups):
    """collect_stats over (group, value) rows: one column per group,
    NULL where a row belongs to another group."""
    wide = spark.createDataFrame(
        [tuple(v if g == k else None for k in groups) for g, v in rows],
        ", ".join(f"{k} double" for k in groups),
    )
    return collect_stats(wide, groups)


def test_collect_stats_matches_exact(spark):
    """Count-then-fold stats (collect_stats) == exact compute_stats:
    exact median (odd/even/duplicate cases), mean/std to float
    tolerance, identical histogram — grouped and ungrouped."""
    rng = np.random.RandomState(5)
    rows = [
        (["g1", "g2", "g3"][i % 3], round(float(v), 3))
        for i, v in enumerate(rng.uniform(0, 1, 257))
    ] + [("g1", 0.25), ("g1", 0.25), ("g2", 0.999)]
    df = spark.createDataFrame(rows, "g string, v double")
    for groups in ([], ["g"]):
        base = {
            tuple(r[c] for c in groups): r
            for r in compute_stats(df, "v", groups or None).collect()
        }
        if groups:
            folded = _collect_grouped(spark, rows, ["g1", "g2", "g3"])
            scale = {(g,): r for g, r in folded.items()}
        else:
            scale = {(): collect_stats(df, ["v"])["v"]}
        assert base.keys() == scale.keys()
        for k in base:
            assert scale[k]["total"] == base[k]["total"]
            assert scale[k]["median"] == base[k]["median"]  # exact
            assert scale[k]["mean"] == pytest.approx(base[k]["mean"], abs=1e-12)
            assert scale[k]["std"] == pytest.approx(base[k]["std"], abs=1e-12)
            assert scale[k]["hist"] == base[k]["hist"]


def test_collect_stats_empty_input_sentinels(spark):
    """Count-then-fold stats over EMPTY input must return the sentinel
    row (-1 stats, zero hist), not a division by zero."""
    df = spark.createDataFrame([], "v double")
    r = collect_stats(df, ["v"])["v"]
    assert r["total"] == 0
    assert r["mean"] == -1.0 and r["median"] == -1.0 and r["std"] == -1.0
    assert list(r["hist"]) == [0] * 20


def test_collect_counted_stats_counts_every_row(spark):
    """The row count covers every row, a row whose values are all NULL
    included, and the stats equal collect_stats'; an empty frame
    counts 0."""
    df = spark.createDataFrame(
        [(0.5, None), (None, None), (0.25, 1.0)], "a double, b double"
    )
    stats, rows = collect_counted_stats(df, ["a", "b"])
    assert rows == 3
    assert stats == collect_stats(df, ["a", "b"])
    assert stats["a"]["total"] == 2 and stats["b"]["total"] == 1
    empty = spark.createDataFrame([], "a double")
    assert collect_counted_stats(empty, ["a"])[1] == 0


def test_collect_stats_constant_group_std_zero(spark):
    """Regression: a constant-valued group's uncentered variance dips
    epsilon-negative under float rounding → sqrt gave NaN. Must be
    exactly 0.0 like the exact path."""
    rows = _collect_grouped(
        spark, [("g", 0.001)] * 5 + [("h", 0.3)] * 3, ["g", "h"]
    )
    assert rows["g"]["std"] == 0.0
    assert rows["h"]["std"] == 0.0


STATS_GROUPS = ["a", "b", "c"]
SENTINEL = {"total": 0, "mean": -1.0, "median": -1.0, "std": -1.0, "hist": [0] * 20}


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(STATS_GROUPS),
            # 3-decimal values, some outside [0, 1], some NULL
            st.one_of(st.none(), st.integers(-200, 1200).map(lambda i: i / 1000)),
        ),
        max_size=40,
    )
)
def test_collect_stats_property_matches_exact(spark, rows):
    """For any grouped 3-decimal input (empty groups, single values,
    odd and even counts, NULLs, values outside [0, 1]) the driver fold
    equals the exact path: total, median and hist exactly, mean and
    std within 1e-12. A group the exact path has no row for (no input
    row at all) must get the sentinel row."""
    df = spark.createDataFrame(rows, "g string, v double")
    exact = {r["g"]: r.asDict() for r in compute_stats(df, "v", ["g"]).collect()}
    got = _collect_grouped(spark, rows, STATS_GROUPS)
    for g in STATS_GROUPS:
        want, row = exact.get(g, SENTINEL), got[g]
        assert row["total"] == want["total"]
        assert row["median"] == want["median"]
        assert row["hist"] == want["hist"]
        assert row["mean"] == pytest.approx(want["mean"], abs=1e-12)
        assert row["std"] == pytest.approx(want["std"], abs=1e-12)


def test_collect_stats_jobs_do_not_grow_with_columns(spark):
    """All metric columns share ONE counting pass: stats over 6
    columns run no more Spark jobs than over 1, so a per-column job
    cannot creep back in."""
    df = spark.createDataFrame(
        [tuple(((i * (k + 3)) % 101) / 100 for k in range(6)) for i in range(200)],
        ", ".join(f"{c} double" for c in METRIC_COLS),
    )
    sc = spark.sparkContext

    def jobs(cols, group):
        sc.setJobGroup(group, group)
        try:
            collect_stats(df, cols)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = jobs(METRIC_COLS[:1], "collect_stats_1_col")
    six = jobs(METRIC_COLS, "collect_stats_6_cols")
    assert 0 < six <= one


def test_lazy_rollup_has_a_row_per_split(spark):
    """The lazy exact rollup keeps the reference's per-split rows: an
    empty split (or an empty table) yields the sentinel row."""
    from docling_eval_spark.pipelines import _multi_metric_rollup

    def rollup_table_structure(per_table):
        return _multi_metric_rollup(per_table, "table_structure")

    schema = "teds double, teds_struct double, is_complex boolean"
    per_table = spark.createDataFrame([(0.5, 0.6, False), (0.9, 1.0, None)], schema)
    rows = {r["split"]: r for r in rollup_table_structure(per_table).collect()}
    assert set(rows) == {"all", "simple", "complex", "struct"}
    assert rows["simple"]["total"] == 2
    assert rows["all"]["median"] == pytest.approx(0.7)
    empty = spark.createDataFrame([], schema)
    for r in [rows["complex"], *rollup_table_structure(empty).collect()]:
        assert (r["total"], r["mean"], r["median"], r["std"]) == (0, -1.0, -1.0, -1.0)
        assert r["hist"] == [0] * 20
    assert rollup_table_structure(empty).count() == 4


def test_ard_stage_matches_oracle(spark):
    rows = [
        ([0, 1, 2, 3], [1.0, 2.0, 3.0, 4.0]),
        ([3, 2, 1, 0], [5.0, 5.0, 5.0, 5.0]),
        ([2, 0, 1], [1.0, 9.0, 2.0]),
        ([], []),
    ]
    df = spark.createDataFrame(rows, "pred_order array<int>, areas array<double>")
    got = ard_stage(df).collect()
    for r, (po, ar) in zip(got, rows):
        a, w = ard_norm_py(po, ar)
        assert r["ard_norm"] == pytest.approx(a, abs=1e-12)
        assert r["w_ard_norm"] == pytest.approx(w, abs=1e-12)


def test_text_metrics_stage_matches_kernel(spark):
    pairs = [
        ("the quick brown fox jumps over the lazy dog today", "the quick brown fox jumps over a lazy dog today"),
        ("alpha beta gamma", "alpha beta gamma"),
        ("one two three four five six seven", "seven six five four three two one"),
        ("", "something"),
    ]
    df = spark.createDataFrame(pairs, "text string, extracted_text string")
    got = {(r["text"], r["extracted_text"]): r for r in text_metrics_stage(df).collect()}
    for t, p in pairs:
        oracle = text_metrics(t, p)
        row = got[(t, p)]
        for k, v in oracle.items():
            assert row[k] == pytest.approx(v, abs=1e-12), (k, t, p)


def test_teds_stage_identity_on_generated_tables(spark):
    pages = pages_dataframe(spark, 60, partitions=3)
    ex = extract_stage(pages).select("url", "tables")
    paired = ex.select(
        "url",
        F.col("tables").alias("gt_tables"),
        F.col("tables").alias("pred_tables"),
    )
    rows = teds_stage(paired).collect()
    assert len(rows) > 10
    for r in rows:
        assert r["teds"] == 1.0
        assert r["teds_struct"] == 1.0
        assert r["true_nrows"] == r["pred_nrows"]


def test_teds_stage_perturbed_matches_kernel(spark):
    gt = dict(
        num_rows=2,
        num_cols=2,
        cells=[
            dict(text="a", row_span=1, col_span=1, start_row_offset_idx=0,
                 end_row_offset_idx=1, start_col_offset_idx=0, end_col_offset_idx=1,
                 col_header=True, row_header=False),
            dict(text="b", row_span=1, col_span=1, start_row_offset_idx=0,
                 end_row_offset_idx=1, start_col_offset_idx=1, end_col_offset_idx=2,
                 col_header=True, row_header=False),
            dict(text="c", row_span=1, col_span=1, start_row_offset_idx=1,
                 end_row_offset_idx=2, start_col_offset_idx=0, end_col_offset_idx=2,
                 col_header=False, row_header=False),
        ],
    )
    import copy

    pred = copy.deepcopy(gt)
    pred["cells"][2]["text"] = "zz"
    expected = teds_score(gt, pred)

    cell_t = (
        "struct<text:string,row_span:int,col_span:int,start_row_offset_idx:int,"
        "end_row_offset_idx:int,start_col_offset_idx:int,end_col_offset_idx:int,"
        "col_header:boolean,row_header:boolean>"
    )
    tbl_t = f"struct<num_rows:int,num_cols:int,cells:array<{cell_t}>>"

    def to_tuple(g):
        return (
            g["num_rows"],
            g["num_cols"],
            [tuple(c.values()) for c in g["cells"]],
        )

    df = spark.createDataFrame(
        [("u", [to_tuple(gt)], [to_tuple(pred)])],
        f"url string, gt_tables array<{tbl_t}>, pred_tables array<{tbl_t}>",
    )
    row = teds_stage(df).collect()[0]
    assert row["teds"] == expected
    assert row["teds_struct"] == 1.0


def _layout_rows():
    return [
        (
            "u1",
            [("text", 1, 0.0, 0.0, 10.0, 10.0), ("table", 1, 20.0, 20.0, 30.0, 30.0)],
            [("text", 1, 0.0, 0.0, 10.0, 10.0, 0.9), ("table", 1, 20.0, 20.0, 30.0, 30.0, 0.8)],
        ),
        (
            "u2",
            [("text", 1, 0.0, 0.0, 10.0, 10.0)],
            [("text", 1, 0.0, 2.5, 10.0, 12.5, 0.7)],
        ),
    ]


_GT_T = "array<struct<label:string,page_no:int,l:double,t:double,r:double,b:double>>"
_PR_T = "array<struct<label:string,page_no:int,l:double,t:double,r:double,b:double,score:double>>"


def test_layout_image_stage_matches_kernel(spark):
    df = spark.createDataFrame(
        _layout_rows(), f"url string, gt_layout {_GT_T}, pred_layout {_PR_T}"
    )
    got = {r["url"]: r for r in layout_image_stage(df).collect()}
    assert got["u1"]["map_val"] == pytest.approx(1.0)
    assert got["u2"]["map_val"] == pytest.approx(0.3)
    assert got["u2"]["map_50"] == pytest.approx(1.0)
    # oracle cross-check via the pure kernel
    m = image_map(
        np.array([[0, 2.5, 10, 12.5]]),
        np.array(["text"], dtype=object),
        np.array([0.7]),
        np.array([[0, 0, 10, 10]]),
        np.array(["text"], dtype=object),
    )
    assert got["u2"]["map_75"] == pytest.approx(m["map_75"])


def test_corpus_map(spark):
    df = spark.createDataFrame(
        _layout_rows(), f"url string, gt_layout {_GT_T}, pred_layout {_PR_T}"
    )
    row = corpus_map(df).collect()[0]
    # corpus: class text has 2 GT; dets: tp@.9 (u1), and u2 det tp only ≤.6;
    # class table: 1 GT, 1 tp at all thresholds
    assert row["map_50"] == pytest.approx((1.0 + 1.0) / 2)
    # at thr=0.75 the u2 det is fp: text AP = 51/101 ... plus table 1.0
    assert row["map_75"] == pytest.approx((51 / 101 + 1.0) / 2, abs=1e-9)


def test_corpus_map_sketch_matches_exact(spark):
    """The score-histogram sketch (100-TB path) must agree with the
    exact full-sort kernel to float precision on quantized scores."""
    df = spark.createDataFrame(
        _layout_rows(), f"url string, gt_layout {_GT_T}, pred_layout {_PR_T}"
    )
    sk = corpus_map(df).collect()[0]
    ex = corpus_map(df, exact=True).collect()[0]
    for k in ("map", "map_50", "map_75"):
        assert sk[k] == pytest.approx(ex[k], abs=1e-12)


def test_web_ingest_composition_order(spark):
    """web_ingest: one row per url (latest wins), blocked domains gone
    BEFORE text work, PII masked, entropy computed on the SCRUBBED text."""
    import pyspark.sql.functions as F
    from docling_eval_spark.pipelines import web_ingest

    fetches = spark.createDataFrame(
        [
            ("https://a.good.com/1", 1, "old text"),
            ("https://a.good.com/1", 2, "mail me@x.io now"),   # latest
            ("https://b.bad.com/2", 1, "never seen"),
            ("https://c.good.com/3", 1, "plain prose here"),
        ],
        "url string, crawl_ts int, text string",
    )
    blocked = spark.createDataFrame([("bad.com",)], "domain string")
    out = {r.url: r for r in web_ingest(fetches, blocked).collect()}
    assert set(out) == {"https://a.good.com/1", "https://c.good.com/3"}
    a = out["https://a.good.com/1"]
    assert a.crawl_ts == 2 and a.scrubbed_text == "mail <EMAIL> now"
    assert a.n_emails == 1
    c = out["https://c.good.com/3"]
    assert c.n_emails == c.n_ips == c.n_phones == 0
    assert c.scrubbed_text == "plain prose here" and c.entropy > 0
