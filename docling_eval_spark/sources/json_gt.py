"""JSON ground-truth source (SURVEY S3).

The reference loads ground-truth annotation JSON files per document
(e.g. FUNSD `benchmarks/funsd/create.py`, CVAT exports) — one JSON
object per file or JSON-lines. At corpus scale the rules are:

- ALWAYS pass an explicit schema: schema inference is a full extra
  pass over the data (Catalyst reads every file twice) and silently
  widens types between runs;
- use `multiLine=True` only for one-object-per-file layouts (it
  disables input splitting — each file becomes one task); JSON-lines
  stays splittable and is the 100-TB layout;
- corrupt records land in `_corrupt_record` (PERMISSIVE mode) and
  surface as failure rows, never task failures — same convention as
  the extraction kernel.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

# ground-truth annotation record: url + the text/spans the evaluators
# join against (reference GroundTruthDocument essentials)
GT_JSON_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("gt_text", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("label", T.StringType()),
                        T.StructField("start", T.IntegerType()),
                        T.StructField("end", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def read_gt_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines ground-truth files (one record per line) → typed
    DataFrame.

    Reads as text + ``from_json`` rather than ``spark.read.json``: the
    JSON source forbids plans that touch only ``_corrupt_record``
    (SPARK-21610), while from_json gives the same splittable one-pass
    scan with clean null-on-corrupt semantics. Malformed records come
    back as ``gt_status='FAILURE'`` rows with the raw payload in
    ``error`` — never a task failure."""
    raw = spark.read.text(path)
    parsed = raw.select(
        F.from_json(F.col("value"), GT_JSON_SCHEMA).alias("r"), "value"
    ).filter(F.trim("value") != "")
    ok = F.col("r").isNotNull() & F.col("r.url").isNotNull()
    return parsed.select(
        F.col("r.url").alias("url"),
        F.col("r.gt_text").alias("gt_text"),
        F.col("r.spans").alias("spans"),
        F.when(ok, F.lit("SUCCESS")).otherwise(F.lit("FAILURE")).alias("gt_status"),
        F.when(ok, F.lit("")).otherwise(F.col("value")).alias("error"),
    )
