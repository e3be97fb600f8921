"""Spark stages wrapping the extraction kernel.

``mapInPandas`` with an iterator signature: per-task init happens once,
batches stream through Arrow. No per-row Python at the DataFrame level
(input_hint contract) — the rows are only unpacked *inside* the
vectorized batch, which is the Spark-native shape of the reference's
per-document converter loop (`benchmarks/dpbench/create.py:266-342`).

Scale notes (100 TB / 10^12 rows):
- the stage is a pure map — no shuffle; partition count is inherited
  from the scan, so `spark.sql.files.maxPartitionBytes` bounds task
  memory regardless of table size.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from docling_eval_spark.extraction.kernel import extract_document

_ITEM = T.StructType(
    [
        T.StructField("label", T.StringType()),
        T.StructField("text", T.StringType()),
        # [start, end) offsets into extracted_text (charspan provenance)
        T.StructField("charspan", T.ArrayType(T.IntegerType())),
    ]
)
_CELL = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("row_span", T.IntegerType()),
        T.StructField("col_span", T.IntegerType()),
        T.StructField("start_row_offset_idx", T.IntegerType()),
        T.StructField("end_row_offset_idx", T.IntegerType()),
        T.StructField("start_col_offset_idx", T.IntegerType()),
        T.StructField("end_col_offset_idx", T.IntegerType()),
        T.StructField("col_header", T.BooleanType()),
        T.StructField("row_header", T.BooleanType()),
    ]
)
_TABLE = T.StructType(
    [
        T.StructField("num_rows", T.IntegerType()),
        T.StructField("num_cols", T.IntegerType()),
        T.StructField("cells", T.ArrayType(_CELL)),
    ]
)
_LAYOUT = T.StructType(
    [
        T.StructField("label", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("l", T.DoubleType()),
        T.StructField("t", T.DoubleType()),
        T.StructField("r", T.DoubleType()),
        T.StructField("b", T.DoubleType()),
    ]
)
_PAGE = T.StructType(
    [
        T.StructField("page_no", T.IntegerType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
    ]
)

_CELL_FIELDS = _CELL.fieldNames()
_LAYOUT_FIELDS = _LAYOUT.fieldNames()

# Output schema of the full extraction stage — the Spark analog of the
# reference's benchmark-record schema (`benchmarks/utils.py:48-65`).
EXTRACTED_DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("mimetype", T.StringType()),
        T.StructField("encoding", T.StringType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("text_md5", T.StringType()),
        T.StructField("items", T.ArrayType(_ITEM)),
        T.StructField("tables", T.ArrayType(_TABLE)),
        T.StructField("layout", T.ArrayType(_LAYOUT)),
        T.StructField("pages", T.ArrayType(_PAGE)),
        T.StructField("error", T.StringType()),
    ]
)


def _extract_docs(pdf: pd.DataFrame, charset_col: str | None = None) -> list[dict]:
    """Kernel output (document dicts) for one batch of (url, html[,
    charset]) rows."""
    if charset_col is not None and charset_col in pdf.columns:
        return [
            extract_document(b, charset_hint=h)
            for b, h in zip(pdf["html"], pdf[charset_col])
        ]
    return [extract_document(b) for b in pdf["html"]]


def _docs_frame(urls: pd.Series, docs: list[dict]) -> pd.DataFrame:
    """Document dicts → the EXTRACTED_DOC_SCHEMA batch (structs as
    tuples in field order)."""
    return pd.DataFrame(
        {
            "url": urls.to_numpy(),
            "status": [d["status"] for d in docs],
            "mimetype": [d["mimetype"] for d in docs],
            "encoding": [d["encoding"] for d in docs],
            "content_hash": [d["content_hash"] for d in docs],
            "title": [d["title"] for d in docs],
            "extracted_text": [d["text"] for d in docs],
            "text_md5": [d["text_md5"] for d in docs],
            "items": [
                [(it["label"], it["text"], it.get("charspan")) for it in d["items"]]
                for d in docs
            ],
            "tables": [
                [
                    (
                        t["num_rows"],
                        t["num_cols"],
                        [tuple(c[k] for k in _CELL_FIELDS) for c in t["cells"]],
                    )
                    for t in d["tables"]
                ]
                for d in docs
            ],
            "layout": [
                [tuple(b[k] for k in _LAYOUT_FIELDS) for b in d["layout"]]
                for d in docs
            ],
            "pages": [
                [(p["page_no"], p["width"], p["height"]) for p in d["pages"]]
                for d in docs
            ],
            "error": [d["error"] for d in docs],
        }
    )


def _extract_batches(
    batches: Iterator[pd.DataFrame],
    charset_col: str | None = None,
    carry: Sequence[str] = (),
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield with_carried(
            _docs_frame(pdf["url"], _extract_docs(pdf, charset_col)), pdf, carry
        )


def with_carried(out: pd.DataFrame, pdf: pd.DataFrame, carry: Sequence[str]) -> pd.DataFrame:
    """``out`` with the ``carry`` columns of its input batch ``pdf``
    appended unchanged."""
    for c in carry:
        out[c] = pdf[c].to_numpy()
    return out


def carried_schema(
    schema: T.StructType, pages_df: DataFrame, carry: Sequence[str]
) -> T.StructType:
    """``schema`` + the fields of ``pages_df``'s ``carry`` columns."""
    return T.StructType(list(schema.fields) + [pages_df.schema[c] for c in carry])


def extract_stage(
    pages_df: DataFrame, charset_col: str | None = None, carry: Sequence[str] = ()
) -> DataFrame:
    """Full extraction over a pages DataFrame with (url, html) columns.

    Pure narrow map: ``select`` first so parquet scan prunes to the
    needed columns (the reference materializes full rows including
    image blobs — SURVEY §4.1 'column pruning' anti-pattern).

    ``charset_col`` optionally names a transport-charset-label column
    (e.g. the WARC source's ``http_charset``) fed to the WHATWG sniff
    as the transport layer; without it, BOM/meta/UTF-8/windows-1252
    precedence still applies per row.

    ``carry`` names columns of ``pages_df`` that ride through the map
    unchanged, after the extraction columns: each output row keeps its
    own page's values, with no join back to the pages.
    """
    cols = ["url", "html"] + ([charset_col] if charset_col else []) + list(carry)
    return pages_df.select(*cols).mapInPandas(
        lambda it: _extract_batches(it, charset_col, carry),
        schema=carried_schema(EXTRACTED_DOC_SCHEMA, pages_df, carry),
    )


_MATCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("text_md5", T.StringType()),
        T.StructField("is_match", T.IntegerType()),
    ]
)


def extract_match_stage(pages_df: DataFrame) -> DataFrame:
    """Extraction + ground-truth comparison fused into one narrow map.

    The GT text column rides THROUGH the kernel, so the byte-identity
    check costs zero shuffles — vs the join-shaped flagship
    (extract → shuffle both sides → equi-join) whose shuffle capped
    end-to-end scaling at ~0.54 (8→32 cores) in BENCH/BASELINE.md.
    Keyed grouping later still works: output keeps url.
    """
    src = pages_df.select("url", "html", "text", "lang")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs = [extract_document(b) for b in pdf["html"]]
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "lang": pdf["lang"].to_numpy(),
                    "status": [d["status"] for d in docs],
                    "extracted_text": [d["text"] for d in docs],
                    "text_md5": [d["text_md5"] for d in docs],
                    "is_match": [
                        int(d["text"] == (t if t is not None else ""))
                        for d, t in zip(docs, pdf["text"])
                    ],
                }
            )

    return src.mapInPandas(kernel, schema=_MATCH_SCHEMA)


_AB_SCHEMA = (
    "doc_id long, lang string, text_a string, text_b string"
)


def extract_ab_stage(pages_df: DataFrame) -> DataFrame:
    """Run BOTH extractor families over the same html bytes in one
    narrow map — extractor A (Boilerpipe NumWordsRules tree, the
    byte-identity kernel) and extractor B (Readability-core
    link-density-only, `kernel.extract_text_ld`) — emitting
    (doc_id, lang, text_a, text_b) for the extractor-agreement
    evaluation. One decode + one lex per page would be the next
    optimization; at eval scale the double parse is deliberate: the
    two extractors stay INDEPENDENT code paths, which is the point of
    an agreement check."""
    from docling_eval_spark.extraction.kernel import (
        extract_text,
        extract_text_ld,
    )

    src = pages_df.select("doc_id", "lang", "html")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            html = [bytes(b) for b in pdf["html"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "lang": pdf["lang"].to_numpy(),
                    "text_a": [extract_text(b) for b in html],
                    "text_b": [extract_text_ld(b) for b in html],
                }
            )

    return src.mapInPandas(kernel, schema=_AB_SCHEMA)
