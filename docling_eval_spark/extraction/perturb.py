"""Deterministic perturbation "model" stage — the K10 slot.

The reference's prediction side is an ML converter
(`converters/models/tableformer/tf_model_prediction.py`); no models
ship in this container, so this stage stands in the same pipeline
position: it takes the extracted (ground-truth-grade) document columns
and produces *prediction* columns with controlled, seeded noise. That
gives every evaluator a non-identity input — TEDS < 1, mAP < 1,
edit distance > 0 — so metric sensitivity is exercised at the CLI
surface, and a real model later replaces only this kernel.

Noise model (all decisions keyed on xxhash-style seeds of (url, i) —
deterministic at any parallelism):
- text: with prob p, drop a token or swap two adjacent tokens;
- tables: with prob p, change one cell's text; with p/2, drop the
  last row's cells (num_rows-1);
- layout boxes: jitter each box by up to ``4·p·16`` points.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence
from typing import Any

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from docling_eval_spark.extraction.stage import (
    EXTRACTED_DOC_SCHEMA,
    _docs_frame,
    _extract_docs,
    carried_schema,
    with_carried,
)


def _rng01(*keys: Any) -> float:
    h = hashlib.sha256("|".join(str(k) for k in keys).encode()).digest()
    return int.from_bytes(h[:8], "big") / 2**64


def perturb_text(url: str, text: str, p: float) -> str:
    toks = text.split(" ")
    out = []
    i = 0
    while i < len(toks):
        r = _rng01(url, "t", i)
        if r < p / 2 and len(toks) > 3:
            i += 1  # drop token
            continue
        if r < p and i + 1 < len(toks):
            out.extend([toks[i + 1], toks[i]])
            i += 2
            continue
        out.append(toks[i])
        i += 1
    return " ".join(out)


def perturb_table(url: str, ti: int, grid: dict[str, Any], p: float) -> dict[str, Any]:
    cells = [dict(c) for c in (grid.get("cells") or [])]
    nrows = int(grid.get("num_rows") or 0)
    if cells and _rng01(url, "tc", ti) < p:
        k = int(_rng01(url, "tk", ti) * len(cells))
        cells[k]["text"] = (cells[k].get("text") or "") + "X"
    if nrows > 1 and _rng01(url, "tr", ti) < p / 2:
        cells = [c for c in cells if c["start_row_offset_idx"] < nrows - 1]
        nrows -= 1
    return {"num_rows": nrows, "num_cols": grid.get("num_cols"), "cells": cells}


def perturb_box(url: str, bi: int, box: dict[str, Any], p: float) -> dict[str, Any]:
    out = dict(box)
    mag = 64.0 * p
    dx = (_rng01(url, "bx", bi) - 0.5) * mag
    dy = (_rng01(url, "by", bi) - 0.5) * mag
    for k, d in (("l", dx), ("r", dx), ("t", dy), ("b", dy)):
        out[k] = float(out[k]) + d
    out["score"] = round(0.5 + _rng01(url, "bs", bi) / 2, 4)
    return out


_LAYOUT_PRED = T.ArrayType(
    T.StructType(
        [
            T.StructField("label", T.StringType()),
            T.StructField("page_no", T.IntegerType()),
            T.StructField("l", T.DoubleType()),
            T.StructField("t", T.DoubleType()),
            T.StructField("r", T.DoubleType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
)
_BOX_FIELDS = _LAYOUT_PRED.elementType.fieldNames()


def _pred_schema(schema: T.StructType) -> T.StructType:
    """``schema`` + the pred_text, pred_tables, pred_layout columns."""
    return T.StructType(
        list(schema.fields)
        + [
            T.StructField("pred_text", T.StringType()),
            T.StructField("pred_tables", schema["tables"].dataType),
            T.StructField("pred_layout", _LAYOUT_PRED),
        ]
    )


def _predict(
    urls, texts, tables, layouts, p: float, cell_fields: list[str]
) -> dict[str, list]:
    """pred_text, pred_tables and pred_layout columns of one batch.
    Documents come in as mappings (the extraction kernel's dicts, or
    Arrow structs as pandas hands them over); the predictions go out
    as struct tuples in field order."""
    pred_text = [
        perturb_text(u, t if t is not None else "", p) for u, t in zip(urls, texts)
    ]
    pred_tables = []
    for u, doc_tables in zip(urls, tables):
        rows = []
        for ti, g in enumerate(doc_tables if doc_tables is not None else []):
            pt = perturb_table(
                u,
                ti,
                {"num_rows": g["num_rows"], "num_cols": g["num_cols"], "cells": list(g["cells"])},
                p,
            )
            rows.append(
                (
                    pt["num_rows"],
                    pt["num_cols"],
                    [tuple(c[k] for k in cell_fields) for c in pt["cells"]],
                )
            )
        pred_tables.append(rows)
    pred_layout = [
        [
            tuple(perturb_box(u, bi, b, p)[k] for k in _BOX_FIELDS)
            for bi, b in enumerate(layout if layout is not None else [])
        ]
        for u, layout in zip(urls, layouts)
    ]
    return {"pred_text": pred_text, "pred_tables": pred_tables, "pred_layout": pred_layout}


def _cell_fields(schema: T.StructType) -> list[str]:
    return schema["tables"].dataType.elementType["cells"].dataType.elementType.fieldNames()


def perturb_stage(ds: DataFrame, p: float = 0.2) -> DataFrame:
    """Dataset (extract_stage output ⋈ GT) → + pred_text, pred_tables,
    pred_layout columns. Narrow Arrow-batched map."""
    fields = [f.name for f in ds.schema.fields]
    cell_fields = _cell_fields(ds.schema)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[fields].copy()
            preds = _predict(
                pdf["url"], pdf["extracted_text"], pdf["tables"], pdf["layout"], p, cell_fields
            )
            for name, col in preds.items():
                out[name] = col
            yield out

    return ds.mapInPandas(kernel, schema=_pred_schema(ds.schema))


def extract_perturb_stage(
    pages_df: DataFrame, p: float = 0.2, carry: Sequence[str] = ()
) -> DataFrame:
    """``perturb_stage(extract_stage(pages_df), p)`` as ONE Arrow map:
    each batch is extracted and perturbed in the same Python call, the
    perturbation reading the kernel's document dicts directly, so each
    task starts one Python runner and ships the pages JVM→Python once.
    ``carry`` columns ride through unchanged, after the prediction
    columns (as in ``extract_stage``)."""
    cell_fields = _cell_fields(EXTRACTED_DOC_SCHEMA)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = _extract_docs(pdf)
            out = _docs_frame(pdf["url"], docs)
            preds = _predict(
                pdf["url"],
                [d["text"] for d in docs],
                [d["tables"] for d in docs],
                [d["layout"] for d in docs],
                p,
                cell_fields,
            )
            for name, col in preds.items():
                out[name] = col
            yield with_carried(out, pdf, carry)

    return pages_df.select("url", "html", *carry).mapInPandas(
        kernel,
        schema=carried_schema(_pred_schema(EXTRACTED_DOC_SCHEMA), pages_df, carry),
    )
