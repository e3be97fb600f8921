"""Key-value graph operators (FUNSD-style forms, SURVEY K3/J-family).

The reference builds GraphData {cells, links} per document
(`benchmarks/funsd/create.py:256-279,437-439`: question/answer cells,
directed links on cell ids). The evaluation-side primitive is link-set
agreement: precision/recall/F1 of predicted (src,dst) pairs against
ground truth — per-row array algebra over each document's two link
sets, no UDF and no shuffle of its own.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from docling_eval_spark.functions.let import let_col


def consecutive_links(ids: Column) -> Column:
    """array<id> (in reading order) → array<struct<src,dst>> of
    consecutive pairs. Let-bound so the (possibly expensive) ids
    expression evaluates once per row, not once per reference."""
    return let_col(
        ids,
        lambda v: F.zip_with(
            F.slice(v, 1, F.greatest(F.size(v) - 1, F.lit(0))),
            F.slice(v, 2, F.greatest(F.size(v) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
        ),
    )


def kv_link_metrics_arrays(
    df: DataFrame,
    key: str = "key",
    gt_links_col: str = "gt_links",
    pred_links_col: str = "pred_links",
) -> DataFrame:
    """Per-row link P/R/F1 when BOTH link sets already sit on the row
    as arrays (the per-document KV-graph case, where graphs are
    bounded): pure array algebra, ZERO shuffles of its own — the
    caller's per-doc aggregation is the only exchange."""
    # NULL link arrays count as empty sets (F.size(NULL) is -1, which
    # would otherwise emit corrupt negative counts)
    stage1 = df.select(
        key,
        F.array_distinct(F.coalesce(F.col(gt_links_col), F.array())).alias("__g"),
        F.array_distinct(F.coalesce(F.col(pred_links_col), F.array())).alias("__p"),
    )
    stage2 = stage1.select(
        key,
        F.size("__g").cast("bigint").alias("n_gt"),
        F.size("__p").cast("bigint").alias("n_pred"),
        F.size(F.array_intersect("__g", "__p")).cast("bigint").alias("n_inter"),
    )
    prec = F.when(F.col("n_pred") > 0, F.col("n_inter") / F.col("n_pred")).otherwise(
        F.lit(0.0)
    )
    rec = F.when(F.col("n_gt") > 0, F.col("n_inter") / F.col("n_gt")).otherwise(
        F.lit(0.0)
    )
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    return stage2.select(
        key,
        "n_gt",
        "n_pred",
        "n_inter",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
