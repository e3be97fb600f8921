"""Dataset statistics aggregation (reference `evaluators/stats.py:76-90`).

Semantics matched exactly:
- mean  = statistics.mean
- median = statistics.median  (exact; Spark `percentile`, NOT approx —
  SURVEY §7 risk item)
- std   = statistics.stdev    (sample std; -1.0 sentinel when empty,
  like the reference)
- hist  = np.histogram(values, bins=20, range=(0, 1)) — 20 uniform
  bins over [0,1], right-exclusive except the last bin which includes
  1.0; out-of-range values count toward total but not the histogram.

Two paths produce the same row shape:

- :func:`compute_stats` — lazy and exact over raw values: ONE hash
  aggregation (partial + final, map-side combine); the 20-bin
  histogram rides along as a pivoted conditional count. Its
  ``percentile`` buffers every value of a group in one task, so it is
  for report-sized inputs.
- :func:`collect_stats` — the scale path that ``evaluate`` and
  ``visualize`` use. Values are rounded to 3 decimals, so Spark runs
  ONE grouped counting aggregation ``(column, value) → count`` with
  map-side combine, whose result is bounded at ≤ 2,001 rows per column
  within [0, 1] whatever the corpus size. The driver collects that
  table and folds each column into the stats row (:func:`fold_counts`);
  a column with no values gets the sentinel row.
  :func:`collect_counted_stats` also counts the rows in that same
  aggregation.

The cumulative to_table (reference `stats.py:28-50`) is
``reports.stats_to_table_text``: a running sum over the stats row's
bins, in Python on the driver.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

N_BINS = 20
BINS = [b / N_BINS for b in range(N_BINS + 1)]
# column types of a stats row, in the order fold_counts emits them
STATS_SCHEMA = (
    "total bigint, mean double, median double, std double,"
    " hist array<bigint>, bins array<double>"
)


def _bin_expr(value_col: str):
    """np.histogram bin index over [0,1]: right-exclusive, last bin
    closed. Values outside [0,1] → NULL (excluded from hist)."""
    v = F.col(value_col)
    raw = F.floor(v * N_BINS).cast("int")
    return (
        F.when((v < 0) | (v > 1), F.lit(None))
        .when(raw >= N_BINS, F.lit(N_BINS - 1))
        .otherwise(raw)
    )


def compute_stats(
    df: DataFrame, value_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """→ one row (per group): total, mean, median, std, hist[20], bins[21].

    Lazy and exact over the raw values (no rounding). The median is
    ``percentile(col, 0.5)``, which buffers a group's whole value list
    in one task: fine at report scale; at corpus scale use
    :func:`collect_stats`, which counts 3-decimal values in one
    aggregation (≤ ~2,001 rows per column) and folds them on the
    driver."""
    group_cols = group_cols or []
    binned = df.withColumn("__bin", _bin_expr(value_col))
    hist_aggs = [
        F.sum(F.when(F.col("__bin") == b, 1).otherwise(0)).alias(f"__h{b}")
        for b in range(N_BINS)
    ]
    agg = binned.groupBy(*group_cols).agg(
        F.count(value_col).alias("total"),
        F.avg(value_col).alias("mean"),
        F.expr(f"percentile({value_col}, 0.5)").alias("median"),
        F.stddev_samp(value_col).alias("std"),
        *hist_aggs,
    )
    # empty-input sentinels match the reference (-1 for mean/median/std)
    agg = agg.select(
        *group_cols,
        "total",
        F.coalesce("mean", F.lit(-1.0)).alias("mean"),
        F.coalesce("median", F.lit(-1.0)).alias("median"),
        F.coalesce("std", F.lit(-1.0)).alias("std"),
        F.array(*[F.col(f"__h{b}") for b in range(N_BINS)]).alias("hist"),
        F.array(*[F.lit(b) for b in BINS]).alias("bins"),
    )
    return agg


def stack_columns(df: DataFrame, value_cols: list[str], key: str) -> DataFrame:
    """Unpivot ``value_cols`` into (``key``, value double) rows — a
    narrow reshape, one output row per input row and column."""
    stack = ", ".join(f"'{c}', cast(`{c}` as double)" for c in value_cols)
    return df.selectExpr(f"stack({len(value_cols)}, {stack}) as (`{key}`, value)")


def collect_stats(df: DataFrame, value_cols: list[str]) -> dict[str, dict]:
    """{column: stats row} for every column of ``value_cols``, from ONE
    Spark pass: the columns are stacked, their non-null values rounded
    to 3 decimals, and a grouped ``(column, value) → count`` hash
    aggregation with map-side combine runs. Its result holds at most
    ~2,001 rows per column (the 3-decimal grid over [0, 1]; values
    outside it add a row per distinct value), whatever the row count of
    ``df``, so the driver collects it and folds each column with
    :func:`fold_counts`. A column with no non-null value gets the
    sentinel row. The rows equal :func:`compute_stats` over the rounded
    values: total, median and hist exactly, mean and std to float
    summation order."""
    return _collect_stats(df, value_cols, False)[0]


def collect_counted_stats(
    df: DataFrame, value_cols: list[str]
) -> tuple[dict[str, dict], int]:
    """:func:`collect_stats`, plus the row count of ``df``, from the
    SAME aggregation: each row stacks one more (``__rows``, 0.0) pair,
    and that group's count is the row count. A stats row's ``total``
    cannot stand in for it: it counts non-null values only."""
    return _collect_stats(df, value_cols, True)


def _collect_stats(df: DataFrame, value_cols: list[str], count_rows: bool):
    stacked = [f"'{c}', cast(`{c}` as double)" for c in value_cols]
    if count_rows:
        stacked.append("'__rows', 0.0D")
    long = df.selectExpr(f"stack({len(stacked)}, {', '.join(stacked)}) as (__col, value)")
    value = F.round("value", 3)
    counted = (
        long.where(value.isNotNull())
        .groupBy("__col", value.alias("value"))
        .count()
        .collect()
    )
    pairs: dict[str, list] = {c: [] for c in value_cols}
    rows = 0
    for col, v, n in counted:
        if col == "__rows":
            rows = n
        else:
            pairs[col].append((v, n))
    return {c: fold_counts(p) for c, p in pairs.items()}, rows


def fold_counts(pairs: list[tuple[float, int]]) -> dict:
    """Stats row (STATS_SCHEMA order) of the multiset given as distinct
    (value, count) pairs. Sums run in ascending-value order; the median
    is the mean of the values at 1-based positions ``(n+1)//2`` and
    ``n//2 + 1`` (= ``percentile(col, 0.5)`` = ``statistics.median``)."""
    n = sum(c for _, c in pairs)
    if n == 0:
        return {"total": 0, "mean": -1.0, "median": -1.0, "std": -1.0,
                "hist": [0] * N_BINS, "bins": list(BINS)}
    p1, p2 = (n + 1) // 2, n // 2 + 1
    s = s2 = 0.0
    seen, m1, m2 = 0, None, None
    hist = [0] * N_BINS
    for v, c in sorted(pairs):
        s += v * float(c)
        s2 += v * v * float(c)
        seen += c
        if m1 is None and seen >= p1:
            m1 = v
        if m2 is None and seen >= p2:
            m2 = v
        if 0 <= v <= 1:
            hist[min(math.floor(v * N_BINS), N_BINS - 1)] += c
    mean = s / n
    if n == 1:
        std = -1.0
    elif len(pairs) == 1:
        # a constant column: the uncentered formula lands epsilon off
        # zero either way, so pin it
        std = 0.0
    else:
        std = math.sqrt(max((s2 - n * mean * mean) / (n - 1), 0.0))
    return {"total": n, "mean": mean, "median": (m1 + m2) / 2, "std": std,
            "hist": hist, "bins": list(BINS)}
