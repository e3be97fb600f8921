"""Layout-box agreement metrics: greedy IoU matching, per-image mAP,
corpus mAP.

Reference parallels:
- IoU (`evaluators/layout_evaluator.py:253-267`);
- greedy label-matched matching with area-weighted average IoU at
  thresholds {.5,.75,.9,.95} (`layout_evaluator.py:269-338`). The
  reference zips the all-preds weight list against the matches-only
  IoU list — positional truncation and all (`:305-307`); reproduced
  bug-for-bug so numbers line up;
- per-image mAP: fresh COCO-style metric per image
  (`layout_evaluator.py:192-238`);
- corpus mAP: one metric updated over the whole dataset
  (`layout_evaluator.py:163-190`), rebuilt here as the distributed
  algorithm of SURVEY §4.2: per-image detection match rows, then
  global per-class PR curves.

One matching pass serves both: ``layout_match_stage`` matches each
image's boxes once per IoU threshold and emits the per-image metric
columns together with that image's detection rows (label, iou_thr,
score, tp) and GT labels; the per-image mAP reuses the same tp flags.
``layout_image_stage`` and ``ap_rows_of`` are projections of it, so
there is one matching implementation.

AP semantics are standard COCO (pycocotools/torchmetrics defaults):
IoU thresholds 0.50:0.05:0.95, 101-point interpolated precision,
greedy score-descending matching, classes without ground truth
excluded from the mean.

Scale: matching is embarrassingly parallel per page. The AP table
reduces detections to a per-(label, iou_thr, score-bin) TP/FP
histogram, with the GT counts folded into the same map-side-combining
hash aggregation — no per-class detection list is ever collected or
sorted, so no group grows with corpus size, and no join is needed
(see ap_table_from_detections). The exact full-sort kernel is kept
behind ``exact=True`` as the small-data oracle.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

IOU_THRESHOLDS = [0.5 + 0.05 * i for i in range(10)]
# i/100.0 exactly (np.linspace accumulates a half-ulp drift on some
# points, which breaks float-equality parity with SQL oracles that
# compute i/100.0)
REC_THRESHOLDS = np.arange(101) / 100.0


# ---------------------------------------------------------------- kernels


def iou_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """IoU of every box in a (N×4 ltrb) against every box in b (M×4)."""
    if len(a) == 0 or len(b) == 0:
        return np.zeros((len(a), len(b)))
    lt = np.maximum(a[:, None, :2], b[None, :, :2])
    rb = np.minimum(a[:, None, 2:], b[None, :, 2:])
    wh = np.clip(rb - lt, 0, None)
    inter = wh[..., 0] * wh[..., 1]
    area_a = (a[:, 2] - a[:, 0]) * (a[:, 3] - a[:, 1])
    area_b = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
    union = area_a[:, None] + area_b[None, :] - inter
    return np.where(union > 0, inter / np.maximum(union, 1e-12), 0.0)


def greedy_label_matched_iou(
    pred_boxes: np.ndarray,
    pred_labels: np.ndarray,
    gt_boxes: np.ndarray,
    gt_labels: np.ndarray,
    iou_thresh: float = 0.5,
) -> dict:
    """Reference `_compute_average_iou_with_labels` semantics, incl.
    the weights/ious positional-zip quirk (`layout_evaluator.py:305-307`)."""
    matched_gt: set[int] = set()
    ious: list[float] = []
    weights: list[float] = []
    ious_mat = iou_matrix(pred_boxes, gt_boxes)
    for p in range(len(pred_boxes)):
        weights.append(
            abs(
                float(
                    (pred_boxes[p, 2] - pred_boxes[p, 0])
                    * (pred_boxes[p, 3] - pred_boxes[p, 1])
                )
            )
        )
        for g in range(len(gt_boxes)):
            if g not in matched_gt and pred_labels[p] == gt_labels[g]:
                iou = float(ious_mat[p, g])
                if iou >= iou_thresh:
                    matched_gt.add(g)
                    ious.append(iou)
                    break
    wsum = sum(weights)
    avg_iou = (
        sum(w * v for w, v in zip(weights, ious)) / wsum if wsum > 0 else 0.0
    )
    return {
        "average_iou": avg_iou,
        "unmatched_gt": len(gt_boxes) - len(matched_gt),
        "matched_gt": len(ious),
    }


def _match_all(
    pred_boxes: np.ndarray,
    pred_labels: np.ndarray,
    pred_scores: np.ndarray,
    gt_boxes: np.ndarray,
    gt_labels: np.ndarray,
) -> np.ndarray:
    """COCO greedy matching at every IOU_THRESHOLDS entry → tp flags,
    one row per threshold, one column per detection (detections ordered
    score-descending within each class). The IoU matrix and the
    per-class score order are computed once for all thresholds."""
    tp = np.zeros((len(IOU_THRESHOLDS), len(pred_boxes)), dtype=bool)
    ious = iou_matrix(pred_boxes, gt_boxes)
    for label in np.unique(pred_labels):
        p_idx = np.where(pred_labels == label)[0]
        p_idx = p_idx[np.argsort(-pred_scores[p_idx], kind="stable")]
        g_idx = np.where(gt_labels == label)[0]
        for t, iou_thr in enumerate(IOU_THRESHOLDS):
            taken = np.zeros(len(g_idx), dtype=bool)
            for p in p_idx:
                best, best_iou = -1, iou_thr
                for k, g in enumerate(g_idx):
                    if not taken[k] and ious[p, g] >= best_iou:
                        best, best_iou = k, ious[p, g]
                if best >= 0:
                    taken[best] = True
                    tp[t, p] = True
    return tp


def average_precision(scores: np.ndarray, tp: np.ndarray, n_gt: int) -> float:
    """COCO 101-point interpolated AP for one (class, threshold).

    Tie-aware: detections sharing a score form one PR point (threshold
    semantics, as sklearn's precision_recall_curve). With all-distinct
    scores this is exactly the classic per-detection curve; with ties
    the classic curve depends on the arbitrary sort order within the
    tie (partition order in a distributed run) — this version is
    deterministic, and it is the fixpoint the score-histogram sketch
    (`corpus_ap_table`) converges to.
    """
    if n_gt == 0:
        return float("nan")
    if len(scores) == 0:
        return 0.0
    order = np.argsort(-scores, kind="stable")
    s_sorted = scores[order]
    tp_c = np.cumsum(tp[order])
    fp_c = np.cumsum(~tp[order])
    # keep only the last point of each tied-score run
    last = np.ones(len(s_sorted), dtype=bool)
    last[:-1] = s_sorted[:-1] != s_sorted[1:]
    tp_c, fp_c = tp_c[last], fp_c[last]
    return _ap_from_curve(tp_c, fp_c, n_gt)


def _ap_from_curve(tp_c: np.ndarray, fp_c: np.ndarray, n_gt: int) -> float:
    """AP from cumulative TP/FP counts at score-descending PR points."""
    recall = tp_c / n_gt
    precision = tp_c / np.maximum(tp_c + fp_c, 1e-12)
    # precision envelope (monotone non-increasing from the right)
    for i in range(len(precision) - 1, 0, -1):
        precision[i - 1] = max(precision[i - 1], precision[i])
    idx = np.searchsorted(recall, REC_THRESHOLDS, side="left")
    return float(
        np.mean(np.where(idx < len(precision), precision[np.minimum(idx, len(precision) - 1)], 0.0))
    )


def image_map(
    pred_boxes: np.ndarray,
    pred_labels: np.ndarray,
    pred_scores: np.ndarray,
    gt_boxes: np.ndarray,
    gt_labels: np.ndarray,
) -> dict:
    """Per-image mAP / mAP@50 / mAP@75 (fresh metric per image, like
    `layout_evaluator.py:192-238`). Classes = union of GT classes."""
    tp = _match_all(pred_boxes, pred_labels, pred_scores, gt_boxes, gt_labels)
    return _map_of_matches(tp, pred_labels, pred_scores, gt_labels)


def _map_of_matches(
    tp: np.ndarray, pred_labels: np.ndarray, pred_scores: np.ndarray, gt_labels: np.ndarray
) -> dict:
    """image_map from the tp flags of ``_match_all``."""
    classes = np.unique(gt_labels)
    if len(classes) == 0:
        return {"map": -1.0, "map_50": -1.0, "map_75": -1.0}
    per_thr: dict[float, list[float]] = {t: [] for t in IOU_THRESHOLDS}
    for thr, tp_thr in zip(IOU_THRESHOLDS, tp):
        for label in classes:
            sel = pred_labels == label
            ap = average_precision(
                pred_scores[sel], tp_thr[sel], int(np.sum(gt_labels == label))
            )
            if not np.isnan(ap):
                per_thr[thr].append(ap)
    all_aps = [np.mean(v) for v in per_thr.values() if v]
    return {
        "map": float(np.mean(all_aps)) if all_aps else -1.0,
        "map_50": float(np.mean(per_thr[0.5])) if per_thr[0.5] else -1.0,
        "map_75": float(np.mean(per_thr[0.75])) if per_thr[0.75] else -1.0,
    }


# ---------------------------------------------------------------- Spark stages

_DET = T.StructType(
    [
        T.StructField("label", T.StringType()),
        T.StructField("iou_thr", T.DoubleType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("tp", T.BooleanType()),
    ]
)
# per-image metric columns: what layout_image_stage returns and
# evaluate(layout) writes
LAYOUT_IMAGE_COLS = [
    "url", "map_val", "map_50", "map_75",
    "avg_iou_50", "avg_iou_75", "avg_iou_90", "avg_iou_95",
]
_MATCH_SCHEMA = T.StructType(
    [T.StructField("url", T.StringType())]
    + [T.StructField(c, T.DoubleType()) for c in LAYOUT_IMAGE_COLS[1:]]
    + [T.StructField("dets", T.ArrayType(_DET))]
    + [T.StructField("gt_labels", T.ArrayType(T.StringType()))]
)


def _boxes_of(arr, with_scores: bool) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    items = arr if arr is not None else []
    boxes = np.array(
        [[it["l"], it["t"], it["r"], it["b"]] for it in items], dtype=float
    ).reshape(-1, 4)
    labels = np.array([it["label"] for it in items], dtype=object)
    scores = (
        np.array([float(it.get("score", 1.0) or 1.0) for it in items], dtype=float)
        if with_scores
        else np.ones(len(items))
    )
    return boxes, labels, scores


def layout_match_stage(
    df: DataFrame, gt_col: str = "gt_layout", pred_col: str = "pred_layout"
) -> DataFrame:
    """The one layout matching pass: per image, the boxes are matched
    once per IoU threshold, and the image's row carries both the
    per-image metric columns (LAYOUT_IMAGE_COLS), its detection rows
    ``dets`` (label, iou_thr, score, tp) and its GT labels
    ``gt_labels`` for the corpus AP table; the per-image mAP reuses the
    same tp flags. Embarrassingly parallel map over array columns (no
    shuffle — both box sets ride in the row).
    ``url`` is NULL when ``df`` has no such column."""
    url = F.col("url") if "url" in df.columns else F.lit(None).cast("string")
    src = df.select(
        url.alias("url"), F.col(gt_col).alias("gt"), F.col(pred_col).alias("pred")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, gt, pred in zip(pdf["url"], pdf["gt"], pdf["pred"]):
                gb, gl, _ = _boxes_of(gt, with_scores=False)
                pb, pl, ps = _boxes_of(pred, with_scores=True)
                tp = _match_all(pb, pl, ps, gb, gl)
                m = _map_of_matches(tp, pl, ps, gl)
                row = {"url": url, "map_val": m["map"], "map_50": m["map_50"], "map_75": m["map_75"]}
                for thr, name in [(0.5, "avg_iou_50"), (0.75, "avg_iou_75"), (0.9, "avg_iou_90"), (0.95, "avg_iou_95")]:
                    row[name] = greedy_label_matched_iou(pb, pl, gb, gl, thr)["average_iou"]
                labels, scores = pl.tolist(), ps.tolist()
                row["dets"] = [
                    (label, thr, score, flag)
                    for thr, flags in zip(IOU_THRESHOLDS, tp.tolist())
                    for label, score, flag in zip(labels, scores, flags)
                ]
                row["gt_labels"] = gl.tolist()
                rows.append(row)
            yield pd.DataFrame(rows, columns=_MATCH_SCHEMA.fieldNames())

    return src.mapInPandas(kernel, schema=_MATCH_SCHEMA)


def layout_image_stage(
    df: DataFrame, gt_col: str = "gt_layout", pred_col: str = "pred_layout"
) -> DataFrame:
    """Per-document layout metrics: the per-image columns of
    ``layout_match_stage``."""
    return layout_match_stage(df, gt_col, pred_col).select(*LAYOUT_IMAGE_COLS)


def ap_rows_of(matched: DataFrame) -> DataFrame:
    """The rows of the corpus AP aggregation, from a
    ``layout_match_stage`` frame, in ONE narrow explode: each detection
    row (label, iou_thr, score, tp), then one row per GT box and IoU
    threshold (label, iou_thr, NULL, NULL) — a NULL score marks a GT
    row."""
    thresholds = F.array(*[F.lit(t) for t in IOU_THRESHOLDS])
    gt = F.flatten(
        F.transform(
            "gt_labels",
            lambda label: F.transform(
                thresholds,
                lambda thr: F.struct(
                    label.alias("label"),
                    thr.alias("iou_thr"),
                    F.lit(None).cast("double").alias("score"),
                    F.lit(None).cast("boolean").alias("tp"),
                ),
            ),
        )
    )
    return matched.select(F.inline(F.concat("dets", gt)))


AP_SCHEMA = T.StructType(
    [
        T.StructField("label", T.StringType()),
        T.StructField("iou_thr", T.DoubleType()),
        T.StructField("ap", T.DoubleType()),
    ]
)


SCORE_BINS = 100_000  # 1e-5-wide bins: exact for ≤4-decimal scores


def corpus_ap_table(
    df: DataFrame,
    gt_col: str = "gt_layout",
    pred_col: str = "pred_layout",
    exact: bool = False,
) -> DataFrame:
    """Per-(label, iou_thr) corpus AP table.

    Default (sketch) path — the 100-TB design: detections are binned
    by score (1e-5-wide bins) and reduced to a per-(label, thr, bin)
    TP/FP histogram in ONE map-side-combining hash aggregation — no
    per-class detection list is ever materialized or sorted, so no
    group grows with corpus size (bounded by SCORE_BINS regardless of
    row count). The PR curve per (label, thr) is then built from the
    ≤SCORE_BINS histogram rows in a bounded Arrow kernel. Detections
    tied within a bin form one PR point — *identical* to the exact
    kernel whenever distinct scores never share a bin (always true for
    scores quantized to ≤4 decimals, e.g. model confidences), and a
    ≤1e-5-score-resolution approximation otherwise.

    ``exact=True`` keeps the round-1 shape (full per-(label,thr)
    detection list sorted in one kernel) as the small-data oracle the
    sketch is tested against.
    """
    return ap_table_from_detections(
        ap_rows_of(layout_match_stage(df, gt_col, pred_col)), exact=exact
    )


def _ap_row(key, ap: float) -> pd.DataFrame:
    label, thr = key
    return pd.DataFrame({"label": [label], "iou_thr": [thr], "ap": [ap]})


_NO_AP = pd.DataFrame(
    {"label": pd.Series([], dtype=object), "iou_thr": [], "ap": []},
    columns=AP_SCHEMA.fieldNames(),
)


def ap_table_from_detections(rows: DataFrame, exact: bool = False) -> DataFrame:
    """corpus_ap_table from the rows of ``ap_rows_of``: detection rows
    (label, iou_thr, score, tp) and GT rows (label, iou_thr, NULL,
    NULL).

    ONE aggregation over both kinds of rows, grouped by (label,
    iou_thr, score bin), counts each bin's detections and true
    positives; the GT rows have a NULL bin, so they fold into one row
    per (label, iou_thr) that holds its GT count — the counts need no
    join. The grouped AP kernel then runs over each (label, iou_thr)
    group of that bounded table: a group with GT but no detection has
    AP 0.0, a group without GT gives no row (classes without ground
    truth are left out of the mean). ``exact=True`` runs the kernel
    over the unbinned rows instead."""
    if exact:

        def kernel(key, pdf):  # no hints: PySpark's eval-type
            # inference warns on partially-inferable grouped-map hints
            det = pdf["score"].notna()
            n_gt = int((~det).sum())
            if n_gt == 0:
                return _NO_AP
            d = pdf[det]
            return _ap_row(
                key,
                average_precision(
                    d["score"].to_numpy(dtype=float), d["tp"].to_numpy(dtype=bool), n_gt
                ),
            )

        grouped = rows
    else:
        grouped = rows.groupBy(
            "label",
            "iou_thr",
            F.least(F.floor(F.col("score") * SCORE_BINS), F.lit(SCORE_BINS - 1))
            .cast("int")
            .alias("bin"),
        ).agg(
            F.count_if(F.col("tp")).alias("tp_n"),
            F.count("score").alias("n"),
            F.count_if(F.col("score").isNull()).alias("n_gt"),
        )

        def kernel(key, pdf):  # no hints (see above)
            n_gt = int(pdf["n_gt"].sum())
            if n_gt == 0:
                return _NO_AP
            p = pdf[pdf["n"] > 0].sort_values("bin", ascending=False)
            tp_c = p["tp_n"].to_numpy().cumsum()
            all_c = p["n"].to_numpy().cumsum()
            return _ap_row(
                key, _ap_from_curve(tp_c, all_c - tp_c, n_gt) if len(p) else 0.0
            )

    return grouped.groupBy("label", "iou_thr").applyInPandas(kernel, schema=AP_SCHEMA)


def per_class_ap(ap_table: DataFrame) -> DataFrame:
    """Per-class AP (averaged over IoU thresholds), sorted descending —
    the reference's per-class table (`layout_evaluator.py:68-71,240-241`)."""
    return (
        ap_table.groupBy("label")
        .agg(F.avg("ap").alias("ap"))
        .orderBy(F.desc("ap"), "label")
    )


def corpus_map(
    df: DataFrame,
    gt_col: str = "gt_layout",
    pred_col: str = "pred_layout",
    exact: bool = False,
) -> DataFrame:
    """Corpus mAP: returns (mAP, mAP@50, mAP@75) one-row DataFrame,
    averaged from the per-(label, thr) AP table (see corpus_ap_table
    for the sketch-vs-exact story)."""
    aps = corpus_ap_table(df, gt_col, pred_col, exact=exact)
    return map_from_ap_table(aps)


def _sorted_mean(sql: str) -> Column:
    """Mean of the non-null values of the SQL expression ``sql``,
    summed in ascending order: the float sum, and so the mean, does not
    depend on the order in which the rows arrive (partitioning,
    shuffle). NULL when there is no value. Built from SQL text: a
    Python lambda in ``F.aggregate`` costs py4j lookups of its lambda
    variables each time the column is built."""
    vals = f"array_sort(collect_list({sql}))"
    return F.expr(f"try_divide(aggregate({vals}, 0.0D, (acc, v) -> acc + v), size({vals}))")


# the corpus mAP stats row, as map_from_ap_table and map_of_ap_rows give it
MAP_SCHEMA = "map double, map_50 double, map_75 double"


def map_from_ap_table(aps: DataFrame) -> DataFrame:
    """(mAP, mAP@50, mAP@75) from an already-computed (label, iou_thr,
    ap) table. Bit-identical for any row order of ``aps`` (≤ labels ×
    10 rows)."""
    return aps.agg(
        _sorted_mean("ap").alias("map"),
        _sorted_mean("CASE WHEN iou_thr = 0.5D THEN ap END").alias("map_50"),
        _sorted_mean("CASE WHEN iou_thr = 0.75D THEN ap END").alias("map_75"),
    )


def map_of_ap_rows(rows) -> tuple[float | None, float | None, float | None]:
    """``map_from_ap_table``'s row, bit for bit, from collected AP rows
    (``label, iou_thr, ap``): evaluate() averages the rows it already
    holds instead of running an aggregation job. Each mean adds the
    non-null values to 0.0 one at a time in Spark's ascending order
    (NaN last) and is None when there is no value."""

    def sorted_mean(vals):
        vals = sorted((v for v in vals if v is not None), key=lambda v: (math.isnan(v), v))
        total = 0.0
        for v in vals:
            total += v
        return total / len(vals) if vals else None

    return (
        sorted_mean(r["ap"] for r in rows),
        sorted_mean(r["ap"] for r in rows if r["iou_thr"] == 0.5),
        sorted_mean(r["ap"] for r in rows if r["iou_thr"] == 0.75),
    )
