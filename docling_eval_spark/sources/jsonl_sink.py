"""Sharded JSONL export sink + manifest — the training-data handoff
format (one JSON object per line is what tokenizer/training stacks
ingest; Dolma, RedPajama, FineWeb all ship JSONL(.gz) shards).

The reference exports parquet test sets (docling_eval/cli/main.py's
save path); a user feeding an LLM training run needs line-delimited
JSON with a shard manifest instead. Writer is pure Spark: ``to_json``
over a struct of every column (JVM codegen, no Python), text sink with
``maxRecordsPerFile`` for size-targeted shards. The manifest is built
from ONE cheap re-scan of the written text grouped by
``input_file_name`` — at most #shards rows ever reach the driver.

Scale: shard count = output tasks x ceil(task_rows / max_records); to
target a shard size at 100 TB, repartition upstream (the writer does
not force a shuffle itself — callers who already partitioned by url
hash keep that layout for free).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# the repo-wide "is this on MY disk" rule — a private urlparse-based
# variant treated file://nas01/p (remote authority) as a local path
from docling_eval_spark.functions.uri import local_path_of


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    mode: str = "error",
) -> dict:
    """Write ``df`` as JSONL shards under ``path`` and a
    ``_manifest.json`` beside them; returns the manifest dict:
    ``{"total_rows", "n_shards", "columns", "shards": [{"file",
    "rows"}...]}`` with shards sorted by file name.

    NULL-field semantics follow ``to_json`` (null fields are omitted
    from the object, the standard JSONL convention); a row that is all
    NULL still serializes as ``{}`` so row counts are preserved.
    """
    spark = df.sparkSession
    (
        df.select(F.to_json(F.struct(*df.columns)).alias("value"))
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .text(path)
    )
    per_file = (
        spark.read.text(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    shards = sorted(
        (
            {"file": os.path.basename(r["file"]), "rows": r["rows"]}
            for r in per_file
            if os.path.basename(r["file"]) != "_manifest.json"
        ),
        key=lambda s: s["file"],
    )
    manifest = {
        "total_rows": sum(s["rows"] for s in shards),
        "n_shards": len(shards),
        "max_records_per_file": max_records_per_file,
        "columns": list(df.columns),
        "shards": shards,
    }
    local = local_path_of(path)
    if local is not None:
        with open(os.path.join(local, "_manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
