"""Per-partition lineage + resume-by-anti-join (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

The reference has NO resume mechanism — any failure recomputes the
whole dataset (SURVEY §4.1). Here the unit of restart is a url-hash
bucket (the Iceberg-style partition of FIXTURES.md §1):

- ``run_resumable`` processes pending buckets; after each bucket's
  output commits, a lineage row (bucket, doc_count, ok_count, bytes,
  wall_ms, metric rollups, status) is appended to the lineage table.
- On restart, pending = all buckets ANTI-JOIN lineage[status=SUCCESS]
  — nothing recomputes, the exact analog of the Iceberg manifest
  anti-join described in SURVEY §2.10 / §4.2.
- Every lineage row carries a monotonically increasing commit ``seq``
  and its bucket's ``data_path``: the lineage table doubles as an
  Iceberg-style MANIFEST. ``read_as_of(seq)`` reads exactly the bucket
  files committed by then (latest commit per bucket) — a consistent
  snapshot even while later buckets are mid-write, because readers
  only open manifest-listed paths, never glob the output directory.

Buckets are processed in groups per Spark job (one job per bucket
would under-utilize the cluster; all buckets in one job would lose
restart granularity). Output layout is ``{out}/bucket=N/`` so later
scans partition-prune on bucket.
"""

from __future__ import annotations

import json as _json
import time
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from docling_eval_spark.session import local_frame

LINEAGE_COLS = [
    "bucket",
    "status",
    "doc_count",
    "ok_count",
    "bytes_in",
    "wall_ms",
    "run_id",
    "seq",
    "data_path",
    "metrics",
]

_LINEAGE_SCHEMA = (
    "bucket int, status string, doc_count long, ok_count long, "
    "bytes_in long, wall_ms long, run_id string, seq long, "
    "data_path string, metrics string"
)


def latest_snapshot(spark: SparkSession, lineage_dir: str) -> int:
    """Highest committed seq (0 when no lineage exists; lineage tables
    written before the seq column existed count their SUCCESS rows so
    resumption keeps working across the schema migration)."""
    lin = read_lineage(spark, lineage_dir)
    if lin is None:
        return 0
    if "seq" not in lin.columns:
        return lin.filter(F.col("status") == "SUCCESS").count()
    row = lin.agg(F.max("seq").alias("s")).collect()[0]
    return int(row["s"] or 0)


def manifest_as_of(
    spark: SparkSession, lineage_dir: str, snapshot: int | None = None
) -> DataFrame:
    """Manifest view at a snapshot: one row per bucket = the LATEST
    successful commit with seq ≤ snapshot."""
    lin = read_lineage(spark, lineage_dir)
    if lin is None:
        raise FileNotFoundError(lineage_dir)
    lin = lin.filter(F.col("status") == "SUCCESS")
    if "seq" not in lin.columns:
        # pre-migration lineage (no seq column anywhere): fall back to
        # all SUCCESS rows with a synthetic seq (same migration
        # contract as latest_snapshot).
        lin = lin.withColumn("seq", F.lit(0).cast("long"))
    else:
        # MIXED-generation dirs (mergeSchema read): legacy rows carry
        # NULL seq/data_path — treat them as seq 0 so a snapshot filter
        # never silently drops a committed bucket
        lin = lin.withColumn("seq", F.coalesce(F.col("seq"), F.lit(0).cast("long")))
    if "data_path" not in lin.columns:
        lin = lin.withColumn(
            "data_path", F.concat(F.lit("bucket="), F.col("bucket"))
        )
    else:
        lin = lin.withColumn(
            "data_path",
            F.coalesce(
                F.col("data_path"), F.concat(F.lit("bucket="), F.col("bucket"))
            ),
        )
    if snapshot is not None:
        lin = lin.filter(F.col("seq") <= snapshot)
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(F.desc("seq"))
    return (
        lin.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def read_as_of(
    spark: SparkSession,
    out_dir: str,
    lineage_dir: str,
    snapshot: int | None = None,
) -> DataFrame:
    """Consistent snapshot read: union of exactly the bucket paths the
    manifest lists at ``snapshot`` (None = latest). An in-flight writer
    appending new buckets/commits is invisible until its lineage row
    lands — the Iceberg read-isolation property."""
    paths = [
        f"{out_dir}/{r['data_path']}"
        for r in manifest_as_of(spark, lineage_dir, snapshot).collect()
    ]
    if not paths:
        raise ValueError(f"no committed buckets at snapshot {snapshot}")
    # basePath keeps the bucket=N partition column in the snapshot
    # schema — leaf-dir reads without it would silently drop the column
    # vs a plain read of out_dir.
    return spark.read.option("basePath", out_dir).parquet(*paths)


def read_lineage(spark: SparkSession, lineage_dir: str) -> DataFrame | None:
    """mergeSchema: a lineage dir can mix schema generations (rows
    appended before/after the seq/data_path/metrics columns existed);
    without it the reader picks one file's footer arbitrarily and
    columns vanish nondeterministically."""
    try:
        return spark.read.option("mergeSchema", "true").parquet(lineage_dir)
    except Exception:
        return None


def pending_buckets(
    spark: SparkSession, all_buckets: list[int], lineage_dir: str
) -> list[int]:
    lin = read_lineage(spark, lineage_dir)
    if lin is None:
        return sorted(all_buckets)
    done = {
        r["bucket"]
        for r in lin.filter(F.col("status") == "SUCCESS")
        .select("bucket")
        .distinct()
        .collect()
    }
    return sorted(b for b in all_buckets if b not in done)


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    process: Callable[[DataFrame], DataFrame],
    out_dir: str,
    lineage_dir: str,
    num_buckets: int = 16,
    buckets_per_job: int = 4,
    run_id: str = "run",
    fail_on_bucket: int | None = None,
    metric_cols: list[str] | None = None,
) -> list[int]:
    """Process url-hash buckets not yet marked SUCCESS; returns the
    bucket ids processed this invocation.

    ``process`` maps a pages sub-DataFrame → output DataFrame that
    must retain a ``url`` column (ok_count = SUCCESS-status rows when
    a status column exists, else all rows). ``fail_on_bucket`` is the
    failure-injection hook for the kill/restart test.

    ``metric_cols``: numeric output columns whose per-bucket means are
    rolled into the lineage row's ``metrics`` JSON (the north-rule's
    "per-partition lineage + metrics" — a monitor can read per-bucket
    quality straight off the manifest without touching the data
    plane). Computed in the SAME aggregation pass as the counts over
    the already-written bucket parquet, so it adds no extra scan of
    the input."""
    bucketed = pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(num_buckets)).cast("int")
    )
    todo = pending_buckets(spark, list(range(num_buckets)), lineage_dir)
    seq = latest_snapshot(spark, lineage_dir)
    processed: list[int] = []
    for i in range(0, len(todo), buckets_per_job):
        group = todo[i : i + buckets_per_job]
        for b in group:
            if fail_on_bucket is not None and b == fail_on_bucket:
                raise RuntimeError(f"injected failure at bucket {b}")
            t0 = time.monotonic()
            sub = bucketed.filter(F.col("bucket") == b)
            out = process(sub.drop("bucket"))
            out.write.mode("overwrite").parquet(f"{out_dir}/bucket={b}")
            written = spark.read.parquet(f"{out_dir}/bucket={b}")
            has_status = "status" in written.columns
            mcols = [c for c in (metric_cols or []) if c in written.columns]
            stats = written.agg(
                F.count("*").alias("doc_count"),
                (
                    F.sum(F.when(F.col("status") == "SUCCESS", 1).otherwise(0))
                    if has_status
                    else F.count("*")
                ).alias("ok_count"),
                *[F.avg(c).alias(f"__m_{c}") for c in mcols],
            ).collect()[0]
            metrics_json = _json.dumps(
                {
                    c: (
                        round(float(stats[f"__m_{c}"]), 6)
                        if stats[f"__m_{c}"] is not None
                        else None
                    )
                    for c in mcols
                },
                sort_keys=True,
            )
            bytes_in = (
                sub.agg(
                    F.sum(F.length("html")).alias("b")
                ).collect()[0]["b"]
                if "html" in pages.columns
                else 0
            )
            wall_ms = int((time.monotonic() - t0) * 1000)
            seq += 1
            lineage_row = local_frame(
                spark,
                [
                    (
                        b,
                        "SUCCESS",
                        int(stats["doc_count"]),
                        int(stats["ok_count"]),
                        int(bytes_in or 0),
                        wall_ms,
                        run_id,
                        seq,
                        f"bucket={b}",
                        metrics_json,
                    )
                ],
                _LINEAGE_SCHEMA,
            )
            lineage_row.write.mode("append").parquet(lineage_dir)
            processed.append(b)
    return processed
