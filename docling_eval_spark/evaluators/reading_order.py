"""Reading-order ARD metric (reference
`evaluators/base_readingorder_evaluator.py:126-168`).

ARD      = Σ_k |pred_order[k] − k|          (k = ground-truth index)
ARD_norm = 1 − ARD / n²                     (n = #items; 0 items → 0.0)
wARD     = Σ_k |pred_order[k] − k| · w_k,   w_k = area_k / Σ areas
wARD_norm = 1 − wARD / n²

Fully expressible in Spark SQL higher-order array functions — no UDF,
whole-stage codegen end to end (SURVEY §2.4 A7). The per-document
arrays live in one row, so the metric is a narrow map: no shuffle.

Pure-Python twin (`ard_norm_py`) is the parity oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def ard_norm_py(pred_order: list[int], areas: list[float] | None = None) -> tuple[float, float]:
    n = len(pred_order)
    if n == 0:
        return 0.0, 0.0
    ard = sum(abs(p - k) for k, p in enumerate(pred_order))
    if areas:
        total = sum(areas)
        w_ard = sum(
            abs(p - k) * (areas[k] / total) for k, p in enumerate(pred_order)
        )
    else:
        w_ard = 0.0
    return 1 - ard / (n * n), 1 - w_ard / (n * n)


# The columns are built from SQL text: a Python lambda in F.transform /
# F.aggregate costs py4j lookups of its lambda variables (~12 ms a
# column) each time the column is built, F.expr ~0.4 ms.


def _norm(po: str, ard: str) -> Column:
    """1 − ard / n² over the n items of array ``po``, 0.0 for none."""
    return F.expr(
        f"CASE WHEN size({po}) = 0 THEN 0.0D"
        f" ELSE 1.0D - ({ard}) / CAST(size({po}) * size({po}) AS DOUBLE) END"
    )


def ard_norm_col(pred_order: str) -> Column:
    po = f"`{pred_order}`"
    return _norm(
        po,
        f"aggregate(transform({po}, (x, i) -> abs(CAST(x AS DOUBLE) - i)),"
        " 0.0D, (acc, x) -> acc + x)",
    )


def weighted_ard_norm_col(pred_order: str, areas: str) -> Column:
    po, ar = f"`{pred_order}`", f"`{areas}`"
    total = f"aggregate({ar}, 0.0D, (acc, x) -> acc + x)"
    return _norm(
        po,
        f"aggregate(zip_with({po}, {ar}, (p, a) -> struct(p AS p, a AS a)),"
        " struct(0.0D AS acc, 0 AS i),"
        f" (st, x) -> struct(st.acc + abs(CAST(x.p AS DOUBLE) - st.i) * (x.a / {total}) AS acc,"
        " st.i + 1 AS i),"
        " st -> st.acc)",
    )


def ard_stage(
    df: DataFrame,
    pred_order_col: str = "pred_order",
    areas_col: str | None = "areas",
) -> DataFrame:
    """Append ard_norm (+ w_ard_norm when an areas column is given)."""
    out = df.withColumn("ard_norm", ard_norm_col(pred_order_col))
    if areas_col is not None:
        out = out.withColumn(
            "w_ard_norm", weighted_ard_norm_col(pred_order_col, areas_col)
        )
    return out
