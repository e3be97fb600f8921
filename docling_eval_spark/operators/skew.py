"""Explicit skew handling: salted equi-joins and key-skew diagnostics.

AQE's skew-join split only fires on sort-merge joins past size
thresholds and cannot help when a single join KEY is hot (10^8
lineitem rows for one order key land on one reducer regardless of how
the partition is split — the key is atomic to a hash join). The classic
explicit fix: replicate the small(er) side S ways and scatter the big
side's hot rows across the S replicas, turning one hot reducer into S
warm ones at the cost of S× the small side's shuffle volume.

- ``salted_equi_join`` — result-identical to the inner
  ``big.join(small, on)``, plan-verifiably joined on ``(key, salt)``.
  The salt on the big side is ``pmod(xxhash64(id), S)``: deterministic
  per row, so retries and re-runs produce identical partitioning; the
  small side explodes each row S ways.
- ``skew_report`` — the measurement half: per-key counts (one map-side
  combining shuffle), rolled into the integer quantile sketch over
  counts plus the exact top-N hot keys with ppm shares. Run it BEFORE
  choosing num_salts; at 100 TB the report is |keys| rows max, never
  data volume.

Reference scope: DS4SD/docling-eval is single-process and has no
join/skew machinery; this is Spark-scale capability beyond the
reference surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def salted_equi_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    big_id: str,
    num_salts: int = 16,
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``on`` with the big side's rows
    scattered over ``num_salts`` replicas of the small side.

    ``big_id`` names any column that varies within a hot key (a row id,
    url, timestamp — uniqueness not required, only spread); the salt is
    ``pmod(xxhash64(big_id), num_salts)`` — deterministic, so task
    retries rebuild identical partitions. Inner join only: a right or
    full join would multiply unmatched small rows.

    Cost model: small side's shuffle volume × num_salts buys the hot
    key's reduce work ÷ num_salts. Output columns = big's then small's
    non-key columns, exactly like ``big.join(small, on)``."""
    if num_salts < 1:
        raise ValueError(f"num_salts must be >= 1, got {num_salts}")
    salt = F.pmod(F.xxhash64(F.col(big_id)), F.lit(num_salts)).cast("int")
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    return b.join(s, [on, "__salt"]).drop("__salt")


def key_counts(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key row counts — one shuffle, map-side combine absorbs the
    hot keys (count is associative), so the exchange carries at most
    |keys| rows per task."""
    return df.groupBy(*key_cols).agg(F.count("*").alias("n_rows"))


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
) -> DataFrame:
    """Exact hot-key table: ``(key..., n_rows, share_ppm, rank)`` for
    the ``top_n`` heaviest keys, share in integer parts-per-million of
    the total row count — integer-exact, deterministic tie-break on the
    key. Pair with :func:`~docling_eval_spark.operators.sketch
    .qsketch_buckets` over ``key_counts`` for the full count
    distribution; this table is the actionable head of it.

    The global top-N window ranks |keys| count rows (already collapsed
    map-side), not data rows; at 10^9 keys swap in
    ``retrieval.topk_per_key``'s salted two-phase prune — same
    contract."""
    counts = key_counts(df, key_cols)
    total = counts.agg(F.sum("n_rows").alias("__total"))
    w = Window.orderBy(F.col("n_rows").desc(), *key_cols)
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .crossJoin(F.broadcast(total))
    )
    return ranked.select(
        *key_cols,
        "n_rows",
        # integer DIV, not float /: Spark's double->long cast truncates
        # while DuckDB's rounds, so a float quotient would drift by 1
        F.expr("n_rows * 1000000L DIV __total").alias("share_ppm"),
        "rank",
    )
