"""Sources/sinks for the pages and extracted-docs tables.

Reference scan/sink inventory: SURVEY §2.1 (S1-S12). Iceberg proper
needs its runtime jars (not in this container) — the layout here is
Iceberg-compatible (url-hash bucket partition column, snapshot-style
append) behind an import-try so a real catalog drops in.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from docling_eval_spark.datagen.pages import PAGES_SCHEMA

# S1: parquet shard scan (schema enforced — no inference at scale)
def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_pages_split(spark: SparkSession, root: str, split: str) -> DataFrame:
    """Reference split-directory convention
    (`evaluators/layout_evaluator.py:99-106`): {root}/{split}/*.parquet."""
    return spark.read.schema(PAGES_SCHEMA).parquet(f"{root}/{split}")


# S4/S5: directory of raw binaries → (url, html) — binaryFile source
def read_binaries(spark: SparkSession, glob: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .load(glob)
        .select(
            F.col("path").alias("url"),
            F.col("modificationTime").alias("warc_ts"),
            F.col("content").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


# S8: sharded sink — shard cadence via maxRecordsPerFile (the
# reference writes SHARD_SIZE=1000-row shards, `utils.py:377-403`)
def write_sharded(
    df: DataFrame,
    path: str,
    records_per_shard: int = 1000,
    bucket_by_url: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet shards of at most ``records_per_shard``
    rows. With ``bucket_by_url``, rows are partitioned into that many
    url-hash buckets (a ``bucket=<n>`` directory each) and clustered by
    bucket first, so each bucket's rows reach one writer task: a bucket
    gets one file per ``records_per_shard`` rows, not one per input
    partition. The clustering is a rebalance, so adaptive execution
    coalesces small buckets into one task and splits oversized ones."""
    writer = df
    if bucket_by_url is not None:
        writer = df.withColumn(
            "bucket",
            F.pmod(F.xxhash64("url"), F.lit(bucket_by_url)).cast("int"),
        ).hint("rebalance", "bucket")
    (
        writer.write.mode(mode)
        .option("maxRecordsPerFile", records_per_shard)
        .partitionBy(*(["bucket"] if bucket_by_url is not None else []))
        .parquet(path)
    )


# S9-analog: dataset info — row counts per split/bucket + schema
def dataset_info(df: DataFrame, by: str | None = None) -> DataFrame:
    if by:
        return df.groupBy(by).agg(F.count("*").alias("num_rows"))
    return df.agg(F.count("*").alias("num_rows"))


def try_iceberg(spark: SparkSession) -> bool:
    """True if an Iceberg catalog is actually usable in this session."""
    try:
        spark._jvm.org.apache.iceberg.Schema  # type: ignore[attr-defined]
        return True
    except Exception:
        return False
