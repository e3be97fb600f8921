"""Temporal operators: as-of join, batch sessionization, and crawl
snapshot deltas.

- ``asof_join`` — for every left row, the latest right row with
  ``right.ts <= left.ts`` within the same key (the time-series join
  Spark lacks as a built-in). Implemented as a UNION + single window
  pass: tag both sides, sort by (key, ts, side) and carry the last
  right row forward with ``last(..., ignorenulls=True)`` — ONE shuffle
  on the key, no range-explosion, no per-key quadratic work. Ties
  (right.ts == left.ts) match, like DuckDB/kdb asof semantics; among
  DUPLICATE right rows at the same (key, ts) the greatest payload
  struct (lexicographic over ``right_cols`` in the given order) wins —
  the window orders by the payload itself, so the result is identical
  across runs and partitionings. Requires the right payload columns to
  be orderable types (no maps) — true for every table here.
- ``snapshot_delta`` — per-URL change detection across recrawls: each
  fetch is classified NEW (first crawl of the url), CHANGED (content
  digest differs from the previous crawl) or UNCHANGED. One window lag
  over (url ORDER BY ts) — a single hash shuffle on the url, O(1)
  window state. Duplicate (url, ts) rows are ordered by digest so the
  classification is deterministic across runs and partitionings.
- ``sessionize_batch`` — gap-based sessions (new session when the gap
  since the previous event of the same key exceeds ``gap_sec``): the
  classic lag + cumulative-sum window pair, parameterized by
  key/ts/gap (1-based session ids, duration).

Scale: both are one hash-shuffle on the key; window state is a single
running value (no growing buffers).
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from docling_eval_spark.session import local_frame, release_checkpoint


def _usec(col: Column) -> Column:
    """Epoch MICROSECONDS (bigint) of a TIMESTAMP / TIMESTAMP_NTZ
    column — integer arithmetic, so gap comparisons are exact and
    bit-identical to the DuckDB oracle's epoch_us() (a double-seconds
    cast rounds to non-microsecond doubles and can disagree at the
    gap boundary). NTZ reads as UTC (session timeZone is UTC)."""
    return F.unix_micros(col.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str] | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Left rows + the latest right row at-or-before each left ts."""
    right_cols = right_cols or [
        c for c in right.columns if c not in (key, ts)
    ]
    lcols = left.columns
    payload = F.struct(
        *[F.col(c).alias(c) for c in right_cols], F.col(ts).alias("__ts")
    )
    l_tag = left.select(
        *lcols,
        F.lit(1).alias("__side"),
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(
                [f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_cols]
                + [f"__ts:{right.schema[ts].dataType.simpleString()}"]
            )
            + ">"
        )
        .alias("__r"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(ts),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in (key, ts)
        ],
        F.lit(0).alias("__side"),
        payload.alias("__r"),
    ).select(*lcols, "__side", "__r")
    unioned = l_tag.unionByName(r_tag)
    # right rows sort BEFORE left rows at the same ts (side 0 < 1) so
    # ties match; the latest WHOLE right row is carried forward as one
    # struct — never field-by-field. Ordering additionally by __r
    # (struct comparison = lexicographic over right_cols) makes the
    # winner among duplicate right (key, ts) rows deterministic: the
    # greatest payload sorts last and last() carries it. Left rows all
    # have __r NULL and __side 1, so their relative order at a tied ts
    # is irrelevant (ignorenulls skips them).
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "__side", F.col("__r").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        *lcols,
        "__side",
        F.last("__r", ignorenulls=True).over(w).alias("__r"),
    )
    return carried.filter(F.col("__side") == 1).select(
        *lcols,
        *[F.col(f"__r.{c}").alias(f"{c}{suffix}") for c in right_cols],
        F.col("__r.__ts").alias(f"{ts}{suffix}"),
    )


def snapshot_delta(
    df: DataFrame,
    key: str = "url",
    ts: str = "crawl_ts",
    digest: str = "digest",
) -> DataFrame:
    """Classify every fetch of a recrawled corpus as NEW / CHANGED /
    UNCHANGED relative to the previous fetch of the same ``key``.

    Output = input columns + ``prev_ts``, ``prev_digest``,
    ``change_status``. The reference has no recrawl tooling; this is
    the snapshot-diff a continuously-crawled corpus needs (decide which
    pages to re-extract, measure churn per host). Scale shape: ONE hash
    shuffle on ``key``; the window carries only the immediately
    preceding row (lag), so state is O(1) regardless of how many times
    a hot URL was recrawled.
    """
    w = Window.partitionBy(key).orderBy(ts, digest)
    prev_d = F.lag(digest).over(w)
    prev_t = F.lag(ts).over(w)
    status = (
        F.when(prev_d.isNull() & prev_t.isNull(), F.lit("NEW"))
        .when(prev_d.eqNullSafe(F.col(digest)), F.lit("UNCHANGED"))
        .otherwise(F.lit("CHANGED"))
    )
    return df.select(
        *df.columns,
        prev_t.alias("prev_ts"),
        prev_d.alias("prev_digest"),
        status.alias("change_status"),
    )


def snapshot_churn(
    df: DataFrame,
    key: str = "url",
    ts: str = "crawl_ts",
    digest: str = "digest",
    host: str | None = None,
) -> DataFrame:
    """Churn rollup over :func:`snapshot_delta`: per host (or corpus-
    wide when ``host`` is None) the number of fetches by change status
    plus the change rate among re-fetches. Adds one hash agg after the
    delta window; map-side combine keeps the shuffle slim."""
    delta = snapshot_delta(df, key=key, ts=ts, digest=digest)
    grp = [host] if host else []
    refetch = F.col("change_status") != "NEW"
    changed = F.col("change_status") == "CHANGED"
    agg = delta.groupBy(*grp).agg(
        F.count("*").alias("n_fetches"),
        F.sum(F.when(F.col("change_status") == "NEW", 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(changed, 1).otherwise(0)).alias("n_changed"),
        F.sum(F.when(F.col("change_status") == "UNCHANGED", 1).otherwise(0)).alias(
            "n_unchanged"
        ),
        F.round(
            F.sum(F.when(changed, 1).otherwise(0))
            / F.nullif(F.sum(F.when(refetch, 1).otherwise(0)), F.lit(0)),
            6,
        ).alias("change_rate"),
    )
    return agg


def latest_snapshot(
    df: DataFrame,
    key: str = "url",
    ts: str = "crawl_ts",
) -> DataFrame:
    """One row per ``key``: the most recent fetch — the apply step of
    the recrawl story (``snapshot_delta`` tells you what changed;
    this materializes the current corpus view). Implemented as ONE
    ``max(struct(ts, payload...))`` hash aggregation, never a window
    sort: a URL refetched 10^6 times partial-aggregates map-side to a
    single row per task before the exchange. Ties at the same ts
    resolve by the greatest payload struct (lexicographic over the
    remaining columns in their input order) — deterministic across
    runs and partitionings. Payload columns must be orderable (no
    maps), true for every table here."""
    payload = [c for c in df.columns if c != key]
    picked = df.groupBy(key).agg(
        F.max(F.struct(*[F.col(ts)] + [F.col(c) for c in payload if c != ts])).alias(
            "__w"
        )
    )
    ordered = [ts] + [c for c in payload if c != ts]
    return picked.select(
        key, *[F.col(f"__w.{c}").alias(c) for c in ordered]
    ).select(*df.columns)


def merge_recrawl(
    base: DataFrame,
    fresh: DataFrame,
    key: str = "url",
    ts: str = "crawl_ts",
    digest: str = "digest",
) -> DataFrame:
    """Incremental corpus upsert — the MERGE INTO shape a lakehouse
    recrawl runs: ``base`` is the current ONE-ROW-PER-KEY corpus view
    (large — e.g. the bucketed catalog table), ``fresh`` is a new
    crawl batch (small relative to base, possibly many fetches per
    key, possibly stale/out-of-order rows). Returns one row per key
    across both inputs with the winning payload and a
    ``merge_status`` column:

    - ``ADDED``      key only in fresh;
    - ``KEPT``       key only in base (untouched — the 10^12-row bulk);
    - ``REFRESHED``  fresh wins, digest unchanged (newer fetch, same
      content — bump ts, no re-extraction needed downstream);
    - ``UPDATED``    fresh wins, digest changed (re-extract);
    - ``STALE``      base wins (the batch carried an older fetch —
      arrives out of order in any distributed crawl).

    Winner = greatest ``struct(ts, digest, payload…)`` — total order,
    so ties are deterministic across runs and partitionings.

    Scale shape vs :func:`latest_snapshot` over the union: the
    aggregation runs ONLY over the small batch (map-side combining
    max-struct), then ONE key-equi join against base — base is never
    re-aggregated, and when base is a table bucketed on ``key``
    (`sources/bucketed.py`) its side of the join is EXCHANGE-FREE:
    the whole merge costs one small shuffle + one co-located join,
    which is what makes daily recrawl merges affordable at 10^12
    keys. Both inputs must share the schema (asserted).
    """
    if set(base.columns) != set(fresh.columns):
        raise ValueError(
            "merge_recrawl: base/fresh schemas differ: "
            f"{sorted(base.columns)} vs {sorted(fresh.columns)}"
        )
    rest = [c for c in base.columns if c not in (key, ts, digest)]

    def _s(df: DataFrame):
        return F.struct(
            F.col(ts), F.col(digest), *[F.col(c) for c in rest]
        )

    f1 = fresh.groupBy(key).agg(F.max(_s(fresh)).alias("__f"))
    b1 = base.select(key, _s(base).alias("__b"))
    j = f1.join(b1, key, "full_outer")
    fw = F.col("__f").isNotNull() & (
        F.col("__b").isNull() | (F.col("__f") >= F.col("__b"))
    )
    win = F.when(fw, F.col("__f")).otherwise(F.col("__b"))
    status = (
        F.when(F.col("__b").isNull(), F.lit("ADDED"))
        .when(F.col("__f").isNull(), F.lit("KEPT"))
        .when(
            fw & (F.col(f"__f.{digest}") == F.col(f"__b.{digest}")),
            F.lit("REFRESHED"),
        )
        .when(fw, F.lit("UPDATED"))
        .otherwise(F.lit("STALE"))
    )
    ordered = [ts, digest] + rest
    return j.select(
        key,
        *[win[c].alias(c) for c in ordered],
        status.alias("merge_status"),
    ).select(*base.columns, "merge_status")


def crawl_rate(
    df: DataFrame,
    key: str = "host",
    ts: str = "crawl_ts",
    url_col: str = "url",
    window: str = "1 day",
) -> DataFrame:
    """Tumbling-window fetch rate per key: ``(key, window_start,
    window_end, n_fetches, n_urls)`` — the politeness/monitoring
    rollup (is a host being hammered? did a recrawl wave land?).
    Built on ``F.window``: epoch-aligned buckets (a '1 day' window in
    a UTC session equals date_trunc('day')). One hash agg on (key,
    window); the exact distinct-url count adds Spark's standard
    two-phase distinct expansion. The timestamp column is cast only
    when it isn't one already."""
    ts_col = F.col(ts)
    if dict(df.dtypes).get(ts) != "timestamp":
        ts_col = ts_col.cast("timestamp")
    w = F.window(ts_col, window)
    return (
        df.groupBy(F.col(key), w.alias("w"))
        .agg(
            F.count("*").alias("n_fetches"),
            F.countDistinct(url_col).alias("n_urls"),
        )
        .select(
            key,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_fetches",
            "n_urls",
        )
    )


def change_rate_estimate(
    df: DataFrame,
    key: str = "url",
    ts: str = "crawl_ts",
    digest: str = "digest",
) -> DataFrame:
    """Per-URL Poisson change-rate estimate and recrawl priority from a
    recrawl log — the scheduling half of the snapshot story
    (``snapshot_delta`` tells you WHAT changed; this decides what to
    fetch NEXT).

    Estimator: Cho & Garcia-Molina 2003 ("Estimating frequency of
    change", ACM TOIT 3(3)), the bias-stabilized form that stays
    defined when every observation changed::

        lambda_hat = -ln((n - X + 0.5) / (n + 0.5)) / avg_interval

    with ``n`` = re-fetch intervals of the url, ``X`` = intervals whose
    digest changed, ``avg_interval`` = observed span / n. The recrawl
    priority is the expected number of missed changes now:
    ``lambda_hat * staleness``, staleness measured against the
    corpus-wide latest fetch (deterministic — no wall clock).

    Output: ``(key, n_intervals, n_changed, span_ms, stale_ms,
    lambda_per_day, expected_changes)``; urls fetched once have n = 0
    and NULL rate (nothing observable). Integer columns are exact;
    the two floats are round(6) so cross-engine hashes agree.

    Scale shape: the lag window and the per-url aggregate share one
    hash partitioning on the url (single exchange); the corpus max
    timestamp joins back as a broadcast scalar. State per url is O(1)
    however hot the url."""
    d = snapshot_delta(df, key=key, ts=ts, digest=digest)
    ms = F.unix_millis(F.col(ts).cast("timestamp"))
    per = (
        d.select(
            key,
            ms.alias("__ms"),
            F.when(F.col("change_status") != "NEW", 1).otherwise(0).alias("__obs"),
            F.when(F.col("change_status") == "CHANGED", 1)
            .otherwise(0)
            .alias("__chg"),
        )
        .groupBy(key)
        .agg(
            F.sum("__obs").cast("long").alias("n_intervals"),
            F.sum("__chg").cast("long").alias("n_changed"),
            (F.max("__ms") - F.min("__ms")).alias("span_ms"),
            F.max("__ms").alias("__last_ms"),
        )
    )
    now = df.select(
        F.max(F.unix_millis(F.col(ts).cast("timestamp"))).alias("__now_ms")
    )
    n = F.col("n_intervals")
    x = F.col("n_changed")
    day_ms = 86_400_000.0
    lam = F.when(
        (n > 0) & (F.col("span_ms") > 0),
        -F.log((n - x + 0.5) / (n + 0.5)) / (F.col("span_ms") / n / F.lit(day_ms)),
    )
    out = per.crossJoin(F.broadcast(now)).select(
        key,
        "n_intervals",
        "n_changed",
        "span_ms",
        (F.col("__now_ms") - F.col("__last_ms")).alias("stale_ms"),
        F.round(lam, 6).alias("lambda_per_day"),
        F.round(
            lam * ((F.col("__now_ms") - F.col("__last_ms")) / F.lit(day_ms)), 6
        ).alias("expected_changes"),
    )
    return out


def crawl_bursts(
    df: DataFrame,
    key: str = "host",
    ts: str = "crawl_ts",
    url_col: str = "url",
    window: str = "1 day",
    z: int = 3,
    min_fetches: int = 10,
) -> DataFrame:
    """Burst windows per key: tumbling-window fetch counts whose
    deviation from the key's own mean exceeds ``z`` standard
    deviations — the hammering/recrawl-wave alarm on top of
    :func:`crawl_rate`.

    The test is evaluated in INTEGER algebra: with W windows, count
    sum S and sum of squares Q, the condition ``n > mean + z*std``
    squares to::

        (n*W - S) > 0  AND  (n*W - S)^2 > z^2 * (W*Q - S^2)

    (both sides scaled by W^2; population variance = (W*Q - S^2)/W^2).
    Counts are integers, so the flag is bit-exact on any engine — no
    sqrt, no float threshold. ``min_fetches`` suppresses bursts on
    near-idle keys where one fetch doubles the rate.

    Statistical gotcha: a single outlier among W windows is bounded at
    z = sqrt(W-1) because the spike inflates its own variance — with
    fewer than z^2 + 1 observed windows NO spike can flag. Keys need
    >= ~10 windows of history before z=3 can fire; young keys simply
    report is_burst=0, which is the right default for a crawl alarm.

    Output: ``(key, window_start, window_end, n_fetches, w_windows,
    sum_fetches, is_burst)``. Scale: the window counts and the per-key
    moment rollup share one hash partitioning on the key; moments are
    3 integers per key joined back — broadcast-sized."""
    rate = crawl_rate(df, key=key, ts=ts, url_col=url_col, window=window)
    n = F.col("n_fetches")
    moments = rate.groupBy(key).agg(
        F.count("*").alias("w_windows"),
        F.sum("n_fetches").alias("sum_fetches"),
        F.sum(n * n).alias("__sumsq"),
    )
    j = rate.join(moments, key)
    dev = n * F.col("w_windows") - F.col("sum_fetches")
    var_w2 = F.col("w_windows") * F.col("__sumsq") - F.col(
        "sum_fetches"
    ) * F.col("sum_fetches")
    is_burst = (
        (n >= min_fetches) & (dev > 0) & (dev * dev > z * z * var_w2)
    )
    return j.select(
        key,
        "window_start",
        "window_end",
        "n_fetches",
        "w_windows",
        "sum_fetches",
        is_burst.cast("int").alias("is_burst"),
    )


def sessionize_batch(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_sec: int = 1800,
) -> DataFrame:
    """(key, session_id, n_events, start_ts, end_ts, duration_sec):
    gap-based sessions via lag + cumulative sum — one shuffle."""
    w = Window.partitionBy(key).orderBy(ts)
    gap = _usec(F.col(ts)) - F.lag(_usec(F.col(ts))).over(w)
    with_new = (
        F.when(gap.isNull() | (gap > gap_sec * 1_000_000), 1)
        .otherwise(0)
        .alias("__new")
    )
    sess = (
        events.select(key, ts, with_new)
        .withColumn(
            "session_id",
            F.sum("__new").over(
                Window.partitionBy(key).orderBy(ts).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
        .groupBy(key, "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts).alias("start_ts"),
            F.max(ts).alias("end_ts"),
        )
        .withColumn(
            "duration_sec",
            (_usec(F.col("end_ts")) - _usec(F.col("start_ts"))) / 1e6,
        )
    )
    return sess


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel analysis: for each step k, the number of users
    with an event chain step₁ ≤ step₂ ≤ … ≤ stepₖ in TIME order
    (each step's earliest occurrence at-or-after the previous step's
    reach time — the standard product-analytics funnel), plus the
    conversion rate from step 1 in integer ppm.

    Shape: one user-keyed min aggregate per step, each probing the
    events table with a (type, ts ≥ prev) filter through a user-keyed
    join — shuffles stay keyed by user, no window sort, no collect of
    event lists (a hot user with 10⁹ events costs one partial-min per
    map task, not an array).

    The probe frame is filtered ONCE to ``et IN steps``, projected to
    the slim (u, et, t) triple and eagerly localCheckpoint-ed: the
    chain references it per step, so the unpinned plan re-scanned the
    events table once per reference (measured 9 scans / 14 shuffles
    for a 3-step funnel). Each per-step reach frame (≤ distinct users,
    2 slim columns) is pinned the same way so the next step and its
    count read materialized rows instead of re-deriving the whole
    prefix chain. The k counts are collected in one job and returned
    as a driver-side frame, and every checkpoint is released before
    the call returns.
    """
    pins: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        pins.append(df.localCheckpoint(eager=True))
        return pins[-1]

    try:
        ev = pin(
            events.select(
                F.col(user_col).alias("u"),
                F.col(type_col).alias("et"),
                F.col(ts_col).alias("t"),
            ).filter(F.col("et").isin(list(steps)))
        )
        reach = pin(
            ev.filter(F.col("et") == steps[0])
            .groupBy("u")
            .agg(F.min("t").alias("prev_t"))
        )
        counts = [reach.agg(F.count(F.lit(1)))]
        for s in steps[1:]:
            reach = pin(
                ev.filter(F.col("et") == s)
                .join(reach, "u")
                .filter(F.col("t") >= F.col("prev_t"))
                .groupBy("u")
                .agg(F.min("t").alias("prev_t"))
            )
            counts.append(reach.agg(F.count(F.lit(1))))
        n = [r[0] for r in reduce(DataFrame.unionAll, counts).collect()]
    finally:
        for df in pins:
            release_checkpoint(df)
    return local_frame(
        events.sparkSession,
        [
            (i + 1, s, c, c * 1_000_000 // n[0] if n[0] > 0 else 0)
            for i, (s, c) in enumerate(zip(steps, n))
        ],
        "step_no bigint, step string, n_users bigint, conv_ppm bigint",
    )
