"""Count-min sketch: fixed-memory term-frequency estimation.

The scale path for "what are the hot terms / how often does X occur"
when the vocabulary is too large to aggregate exactly (100 TB of web
text has billions of distinct tokens; an exact term-frequency table IS
the shuffle bottleneck). A CMS bounds the shuffle at depth x width
COUNTERS regardless of vocabulary size: map-side partial aggregation
collapses each task to at most depth*width rows before the exchange, so
the reduce side always receives O(tasks * depth * width) — constants,
not data volume.

Hash family: one portable Horner base hash per token (the repo-wide
:func:`~docling_eval_spark.operators.text_analysis.horner_fold` family
every DuckDB oracle replays) re-keyed per row by a fixed affine map
``(h * A_d + B_d) mod P mod width`` — the textbook pairwise-independent
construction (Cormode & Muthukrishnan 2005, "An improved data stream
summary: the count-min sketch and its applications"). All constants are
module literals so oracles cannot drift.

No reference twin: DS4SD/docling-eval has no sketch/streaming-summary
code at all; this is pipeline capability beyond the reference surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from docling_eval_spark.operators.text_analysis import (
    _FP_BASE,
    _FP_MOD,
    portable_char_hash,
    tokens_col,
)

# affine re-key constants per depth row (primes; h*A + B < 2^62 since
# h < 2^31 and A < 2^31 — safe under ANSI long arithmetic)
CMS_A = (999983, 1000003, 524287, 131071, 8191, 127)
CMS_B = (17, 257, 65537, 97, 31, 3)
MAX_DEPTH = len(CMS_A)


def _cms_idx(base_hash: Column, d: int, width: int, mod: int) -> Column:
    return F.pmod(base_hash * CMS_A[d] + CMS_B[d], F.lit(mod)) % width


def cms_build(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 3,
    width: int = 1024,
    mod: int = _FP_MOD,
) -> DataFrame:
    """Build the sketch over lowercased whitespace tokens: returns
    ``(d, idx, c)`` with at most ``depth * width`` rows.

    Plan: explode tokens, fan each out to its ``depth`` counter cells
    (narrow — no shuffle), then ONE hash aggregation whose key space is
    depth*width, so the partial agg saturates map-side and the exchange
    carries counters, never tokens.

    The per-token Horner hash runs in an Arrow kernel that first
    COUNTS each batch's distinct tokens (Zipf: a batch's vocabulary is
    far smaller than its token count), hashes each distinct token
    once, and emits pre-combined (d, idx, c) partials — the same
    integer mod-p algebra as :func:`cms_estimate`'s expression and
    exact counts. The ``cms_heavy_hitters`` DuckDB oracle replays every
    counter cell; tier-1 checks it value-exact on the sf0.001 corpus
    plus edge rows."""
    import pandas as pd
    import pyspark.sql.types as T

    if not 1 <= depth <= MAX_DEPTH:
        raise ValueError(f"depth must be 1..{MAX_DEPTH}, got {depth}")
    toks = df.select(
        F.explode(
            F.transform(tokens_col(text_col), lambda x: F.lower(x))
        ).alias("tok")
    )
    out_schema = T.StructType(
        [
            T.StructField("d", T.IntegerType(), False),
            T.StructField("idx", T.LongType(), False),
            T.StructField("c", T.LongType(), False),
        ]
    )
    a_row = CMS_A[:depth]
    b_row = CMS_B[:depth]
    base = _FP_BASE

    def kernel(batches):
        from collections import Counter

        for pdf in batches:
            tok_counts = Counter(
                t if isinstance(t, str) else "" for t in pdf["tok"]
            )
            acc: dict[tuple[int, int], int] = {}
            for tok, n in tok_counts.items():
                h = 0
                for ch in tok:
                    h = (h * base + ord(ch)) % mod
                for d in range(depth):
                    idx = ((h * a_row[d] + b_row[d]) % mod) % width
                    key = (d, idx)
                    acc[key] = acc.get(key, 0) + n
            if acc:
                ks = sorted(acc)
                yield pd.DataFrame(
                    {
                        "d": [k[0] for k in ks],
                        "idx": [k[1] for k in ks],
                        "c": [acc[k] for k in ks],
                    }
                )

    partial = toks.mapInPandas(kernel, out_schema)
    return partial.groupBy("d", "idx").agg(
        F.sum("c").cast("long").alias("c")
    )


def cms_estimate(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str = "term",
    depth: int = 3,
    width: int = 1024,
    mod: int = _FP_MOD,
) -> DataFrame:
    """Point-estimate each term's frequency: ``(term, est)`` where
    ``est = min over d of counter[d][idx_d(term)]`` — the CMS guarantee
    (est >= true count; overestimate bounded by collisions).

    The sketch is tiny (<= depth*width rows) so the join broadcasts;
    the terms side never shuffles beyond its own per-term agg. Terms
    are lowercased to match :func:`cms_build`'s tokenization; a term
    whose cell was never touched estimates 0."""
    t = terms.select(F.lower(F.col(term_col)).alias("term")).distinct()
    h = portable_char_hash(F.col("term"), mod)
    keyed = t.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_idx(h, d, width, mod).alias("idx"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("cell"),
    ).select("term", F.col("cell.d").alias("d"), F.col("cell.idx").alias("idx"))
    joined = keyed.join(F.broadcast(sketch), ["d", "idx"], "left")
    return joined.groupBy("term").agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est")
    )


# ---------------------------------------------------------------- hll
#
# HyperLogLog registers (Flajolet et al. 2007, "HyperLogLog: the
# analysis of a near-optimal cardinality estimation algorithm") over
# the same portable Horner hash family, Lehmer-mixed so short keys
# (numeric ids hash small under a plain Horner fold) still spread over
# the full 31-bit word. Everything up to the register table is exact
# integer arithmetic — bit shifts and a CASE chain for the leading-one
# rank — so a DuckDB oracle replays registers bit-for-bit.
#
# Why this is the 100 TB shape: COUNT(DISTINCT url) per host over a
# crawl is a full shuffle of every distinct value; the register table
# is at most keys x 2^b rows, collapses map-side (groupBy key,reg ->
# max rank is associative), and MERGES across crawls/days by the same
# max — a mergeable daily-rollup sketch, not a recount.

# Lehmer multiplier (Park-Miller MINSTD): full-period mixing over
# [1, 2^31-2] under mod 2^31-1 — the same modulus as the Horner fold.
HLL_MIX_A = 48271


def hll_rank_col(w: Column, wbits: int) -> Column:
    """1-indexed position of the leading 1-bit of ``w`` (< 2^wbits)
    counted from the MSB; w == 0 -> wbits + 1. Pure comparison chain —
    no log2/floats, so any engine reproduces it exactly."""
    chain = F.when(w >= (1 << (wbits - 1)), F.lit(1))
    for r in range(2, wbits + 1):
        chain = chain.when(w >= (1 << (wbits - r)), F.lit(r))
    return chain.otherwise(F.lit(wbits + 1))


def hll_registers(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    b: int = 6,
    mod: int = _FP_MOD,
) -> DataFrame:
    """Per-key HLL register table ``(key..., reg, max_rank)``.

    ``reg`` = low ``b`` bits of the mixed hash; ``max_rank`` = max over
    values of the leading-one rank of the remaining ``31 - b`` bits.
    Untouched registers are NOT emitted (they have rank 0); the table
    is a mergeable sketch — union two crawls' tables and
    re-aggregate ``max(max_rank)`` to sketch the union.

    ONE shuffle, key space |keys| * 2^b, map-side combine saturates
    (max is associative) — the exchange carries registers, never
    values."""
    if not 4 <= b <= 16:
        raise ValueError(f"b must be 4..16, got {b}")
    m = 1 << b
    wbits = 31 - b
    h = portable_char_hash(F.col(value_col).cast("string"), mod)
    mixed = F.pmod(h * HLL_MIX_A, F.lit(mod))
    reg = F.pmod(mixed, F.lit(m))
    w = F.shiftright(mixed.cast("long"), b)
    return (
        df.select(
            *key_cols,
            reg.alias("reg"),
            hll_rank_col(w, wbits).alias("rank"),
        )
        .groupBy(*key_cols, "reg")
        .agg(F.max("rank").alias("max_rank"))
    )


# ---------------------------------------------------------------- qsketch
#
# Integer log-bucket quantile sketch: the mergeable-percentiles member
# of the sketch family (CMS above = frequencies, HLL = cardinality,
# this = quantiles). Same design point as DDSketch (Masson, Rim & Lee,
# VLDB 2019, "DDSketch: a fast and fully-mergeable quantile sketch with
# relative-error guarantees") but with POWER-OF-TWO buckets refined by
# ``k`` mantissa bits so every bucket boundary is an integer and the
# whole structure — bucket index, counts, cumulative walk, quantile
# pick, decoded bound — is exact integer arithmetic a DuckDB oracle
# replays bit-for-bit. Only the "how close is the bucket bound to the
# true percentile" claim is approximate, and that is pytest-gated.
#
# Encoding for v >= 0 with k mantissa bits:
#   v < 2^k          -> idx = v                     (exact singletons)
#   v >= 2^k, e=msb  -> idx = (e-k+1)*2^k + ((v >> (e-k)) - 2^k)
# Bucket [lo, hi) width is lo >> k, so any value in a bucket is within
# a factor (1 + 2^-k) of the bucket's lower bound: relative error
# <= 2^-k (6.25% for the default k=4; 1.6% at k=6). Index space is at
# most (max_bits - k + 1) * 2^k + 2^k buckets TOTAL (~600 for the
# defaults) — the shuffle carries |keys| x ~600 counter rows, never
# values, and two crawls' tables merge by summing counts.
#
# No reference twin: DS4SD/docling-eval computes exact medians over
# in-memory lists (evaluators/stats collections); it has no sketch or
# streaming-summary code.

QS_K = 4  # default mantissa bits: <= 6.25% relative bound error


def qsketch_idx_col(v: Column, k: int = QS_K, max_bits: int = 40) -> Column:
    """Log-bucket index of nonneg integer ``v`` (see module notes);
    negative values map to -1, values >= 2^max_bits to ONE overflow
    bucket (decoded lower bound = 2^max_bits — a defined clamp, never
    a corrupt mantissa). Pure comparison chain + constant shifts —
    exact on any engine."""
    chain = F.when(v < 0, F.lit(-1)).when(
        v >= (1 << max_bits), F.lit((max_bits - k + 1) << k)
    )
    for e in range(max_bits - 1, k - 1, -1):
        chain = chain.when(
            v >= (1 << e),
            F.lit((e - k + 1) << k) + F.shiftright(v, e - k) - F.lit(1 << k),
        )
    return chain.otherwise(v)


def qsketch_idx_sql(v_expr: str, k: int = QS_K, max_bits: int = 40) -> str:
    """DuckDB twin of :func:`qsketch_idx_col` — generated from the same
    constants so oracle and engine cannot drift."""
    whens = [
        f"WHEN {v_expr} < 0 THEN -1",
        f"WHEN {v_expr} >= {1 << max_bits} THEN {(max_bits - k + 1) << k}",
    ]
    for e in range(max_bits - 1, k - 1, -1):
        whens.append(
            f"WHEN {v_expr} >= {1 << e} THEN "
            f"{(e - k + 1) << k} + ({v_expr} >> {e - k}) - {1 << k}"
        )
    body = "\n    ".join(whens)
    return f"CASE {body}\n    ELSE {v_expr} END"


def qsketch_lo_col(idx: Column, k: int = QS_K, max_bits: int = 40) -> Column:
    """Decode a bucket index back to its integer lower bound; the
    overflow bucket decodes to 2^max_bits (its true lower bound)."""
    s = F.shiftright(idx, k)
    m = idx - F.shiftleft(s, k)
    chain = F.when(idx < 0, F.lit(None).cast("long")).when(
        idx >= ((max_bits - k + 1) << k), F.lit(1 << max_bits).cast("long")
    )
    for e in range(k, max_bits):
        chain = chain.when(
            s == (e - k + 1), F.shiftleft(F.lit(1 << k) + m, e - k)
        )
    return chain.otherwise(idx.cast("long"))


def qsketch_lo_sql(idx_expr: str, k: int = QS_K, max_bits: int = 40) -> str:
    """DuckDB twin of :func:`qsketch_lo_col`."""
    s = f"({idx_expr} >> {k})"
    m = f"({idx_expr} - ({s} << {k}))"
    whens = [
        f"WHEN {idx_expr} < 0 THEN NULL",
        f"WHEN {idx_expr} >= {(max_bits - k + 1) << k} THEN {1 << max_bits}",
    ]
    for e in range(k, max_bits):
        whens.append(
            f"WHEN {s} = {e - k + 1} THEN (({1 << k} + {m}) << {e - k})"
        )
    body = "\n    ".join(whens)
    return f"CASE {body}\n    ELSE {idx_expr} END"


def qsketch_buckets(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = QS_K,
    max_bits: int = 40,
) -> DataFrame:
    """Per-key bucket table ``(key..., idx, c)``. ONE shuffle whose key
    space is |keys| x ~(max_bits-k+1)*2^k; map-side combine saturates
    (count is associative). Merge two tables by re-aggregating
    ``sum(c)`` — the union sketch, no recount. NULL values are dropped
    (count them separately if they matter); negatives land in idx -1."""
    if not 1 <= k <= 8:
        raise ValueError(f"k must be 1..8, got {k}")
    v = F.col(value_col).cast("long")
    return (
        df.filter(v.isNotNull())
        .select(*key_cols, qsketch_idx_col(v, k, max_bits).alias("idx"))
        .groupBy(*key_cols, "idx")
        .agg(F.count("*").alias("c"))
    )


def qsketch_quantiles(
    buckets: DataFrame,
    key_cols: list[str],
    pcts: tuple[int, ...] = (50, 90, 99),
    k: int = QS_K,
    max_bits: int = 40,
) -> DataFrame:
    """(key..., pct, q_lo): for each integer percentile, the lower
    bound of the first bucket whose cumulative count reaches
    ``pct * total / 100`` — the nearest-rank percentile, quantized down
    to a bucket boundary (within a (1 + 2^-k) factor of the true
    nearest-rank value; accuracy pytest-gated vs exact percentile).

    Integer-exact throughout: the threshold compare is
    ``cum * 100 >= pct * total`` so no engine sees a float. The window
    sorts at most ~(max_bits-k+1)*2^k bucket rows per key — bounded by
    the encoding, not the data."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*key_cols)
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(*key_cols)
    cum = buckets.select(
        *key_cols,
        "idx",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wt).alias("total"),
    )
    pct_col = F.explode(F.array(*[F.lit(p) for p in pcts])).alias("pct")
    hit = cum.select(*key_cols, "idx", "cum", "total", pct_col).filter(
        F.col("cum") * 100 >= F.col("pct") * F.col("total")
    )
    picked = hit.groupBy(*key_cols, "pct").agg(F.min("idx").alias("idx"))
    return picked.select(
        *key_cols, "pct", qsketch_lo_col(F.col("idx"), k, max_bits).alias("q_lo")
    )
