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
