"""Main-content extraction kernels (HTML + mini-PDF layout branch).

The Spark-native analog of the reference's converter stage
(``/root/reference/docling_eval/converters/conversion.py:31-158``):
where the reference calls an external ML converter per document in a
Python loop, this package implements a from-scratch deterministic
extraction pipeline — HTML lexing, block segmentation, link/text-density
boilerplate classification (Boilerpipe/Readability-style), table-grid
recovery, and a layout-block branch for PDF-like inputs — as pure
functions that run vectorized inside ``mapInPandas`` (see ``stage.py``).
"""

from docling_eval_spark.extraction.kernel import (
    extract_document,
    extract_text,
    normalize_ws,
)
from docling_eval_spark.extraction.stage import (
    EXTRACTED_DOC_SCHEMA,
    extract_stage,
)

__all__ = [
    "extract_document",
    "extract_text",
    "normalize_ws",
    "extract_stage",
    "EXTRACTED_DOC_SCHEMA",
]
