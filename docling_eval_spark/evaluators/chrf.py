"""chrF — character n-gram F-score (Popović 2015, WMT "chrF").

Complements the repo's BLEU/METEOR/edit-distance family (reference
`evaluators/markdown_text_evaluator.py:189-225` computes per-document
text-similarity metrics; chrF is the standard character-level member
of that family, robust to tokenization and morphology).

Definition (β = 2, n = 1..6, whitespace removed — the sacrebleu
defaults):

  P_n  = |ngrams_hyp ∩ ngrams_ref| / |ngrams_hyp|   (multiset ∩)
  R_n  = |ngrams_hyp ∩ ngrams_ref| / |ngrams_ref|
  P    = avg_n P_n ;  R = avg_n R_n   (the average runs over orders
         where EITHER side has grams — sacrebleu's ``effective_order``
         — so identical short texts still score 1.0)
  chrF = (1+β²)·P·R / (β²·P + R)      (0 when the denominator is 0)

Engine-exactness contract: every cross-partition aggregate AND the
final score are BIGINTs. Per-(doc, n) multiset overlaps are exact
integer counts from one Arrow-batched kernel; each order's
precision/recall is quantized to integer micro units
(round(1e6·tp/h)) BEFORE the per-doc sum, so the average over orders
is an order-independent integer sum; the final score is emitted in
micro units via exact integer division (5·sp·sr ≤ 5·36·10¹² fits a
BIGINT) — no float round() anywhere, because round(x, 6) on a double
differs between engines exactly on decimal-halfway quotients. The
DuckDB oracle computes the same counts with an explode +
(id, n, gram)-keyed count; tier-1 checks the two value-exact on the
sf0.001 corpus plus edge rows.

Scale shape: the gram explosion (bounded by ``cap`` chars/side) never
leaves the kernel's task; past a round-robin spread of the pair rows,
the only shuffle is the tiny (id)-keyed micro aggregate. No driver
collect.

Pure-Python twin ``chrf_py`` replays the identical integer algebra
for unit-level parity tests.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from typing import Iterator

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

_WS_RE = re.compile(r"[ \t\n\r\f\v]+")
_WS = r"[ \t\n\r\f\v]+"


def chrf_py(
    hyp: str,
    ref: str,
    max_n: int = 6,
    beta: float = 2.0,
    cap: int = 2000,
) -> int:
    """Pure-Python twin of :func:`chrf_pairs`: chrF in integer micro
    units (identical quantization and integer division)."""
    hs = _WS_RE.sub("", hyp or "")[:cap]
    rs = _WS_RE.sub("", ref or "")[:cap]
    b2 = int(round(beta * beta))
    sp = sr = n_eff = 0
    for n in range(1, max_n + 1):
        hg = Counter(hs[i : i + n] for i in range(len(hs) - n + 1))
        rg = Counter(rs[i : i + n] for i in range(len(rs) - n + 1))
        tp = sum(min(c, rg[g]) for g, c in hg.items())
        h = sum(hg.values())
        r = sum(rg.values())
        if h > 0 or r > 0:
            n_eff += 1
        # exact integer round-half-up of 1e6·tp/h, as Spark's HALF_UP
        # F.round in chrf_pairs (builtin round() is half-to-even)
        if h > 0:
            sp += (2_000_000 * tp + h) // (2 * h)
        if r > 0:
            sr += (2_000_000 * tp + r) // (2 * r)
    denom = n_eff * (b2 * sp + sr)
    if denom <= 0:
        return 0
    return (1 + b2) * sp * sr // denom


def _strip(col: str) -> F.Column:
    return F.substring(F.regexp_replace(F.col(col), _WS, ""), 1, 2000)


def _per_order_counts_arrow(
    pairs: DataFrame, id_col: str, hyp_col: str, ref_col: str, max_n: int
) -> DataFrame:
    """(id, n, tp, h, r) per pair and order from ONE Arrow-batched
    kernel: exact multiset-overlap integers (Counter min-sum — the
    identical math the oracle's exploded count shuffle performs),
    emitted only for orders where either side has a gram (h > 0 or
    r > 0), which reproduces the oracle's group-existence semantics
    exactly.

    Stripping/capping stays a JVM projection upstream so character
    semantics (code-point substring, regex whitespace class) are the
    engine's own; the kernel sees final strings and does pure integer
    counting — no float, no rounding, nothing engine-sensitive."""
    import pandas as pd  # local: keep module import light

    # round-robin spread before the kernel: the pair frame is BYTES-
    # small (two ≤2k-char strings/row) so AQE coalesces the upstream
    # join to 1-2 partitions, but the kernel is CPU-bound (≈ 6 orders
    # × length Counter work per row) — task counts must follow
    # rows-worth-of-work, not bytes (same rationale as the session's
    # 32 MB maxPartitionBytes for extraction kernels).
    # defaultParallelism follows the cluster's core count, never a
    # constant.
    proj = pairs.select(
        F.col(id_col).alias("__id"),
        _strip(hyp_col).alias("__h"),
        _strip(ref_col).alias("__r"),
    ).repartition(pairs.sparkSession.sparkContext.defaultParallelism)
    id_field = proj.schema["__id"]
    out_schema = T.StructType(
        [
            T.StructField("__id", id_field.dataType, id_field.nullable),
            T.StructField("__n", T.IntegerType(), False),
            T.StructField("tp", T.LongType(), False),
            T.StructField("h", T.LongType(), False),
            T.StructField("r", T.LongType(), False),
        ]
    )
    orders = list(range(1, max_n + 1))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            ns: list[int] = []
            tps: list[int] = []
            hs: list[int] = []
            rs: list[int] = []
            for pid, hs_s, rs_s in zip(
                pdf["__id"], pdf["__h"], pdf["__r"]
            ):
                h_str = hs_s if isinstance(hs_s, str) else ""
                r_str = rs_s if isinstance(rs_s, str) else ""
                lh, lr = len(h_str), len(r_str)
                for n in orders:
                    h_cnt = lh - n + 1 if lh >= n else 0
                    r_cnt = lr - n + 1 if lr >= n else 0
                    if h_cnt == 0 and r_cnt == 0:
                        continue
                    if h_cnt and r_cnt:
                        hg = Counter(
                            h_str[i : i + n] for i in range(h_cnt)
                        )
                        rg = Counter(
                            r_str[i : i + n] for i in range(r_cnt)
                        )
                        tp = sum(
                            min(c, rg[g]) for g, c in hg.items() if g in rg
                        )
                    else:
                        tp = 0
                    ids.append(pid)
                    ns.append(n)
                    tps.append(tp)
                    hs.append(h_cnt)
                    rs.append(r_cnt)
            yield pd.DataFrame(
                {"__id": ids, "__n": ns, "tp": tps, "h": hs, "r": rs}
            )

    return proj.mapInPandas(kernel, out_schema)


def chrf_pairs(
    pairs: DataFrame,
    id_col: str = "id_l",
    hyp_col: str = "t_l",
    ref_col: str = "t_r",
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """chrF per (hyp, ref) pair →
    (id, chrf_prec_micro, chrf_rec_micro, chrf_micro) — BIGINT micro
    units (score·10⁶, truncated).

    ``pairs`` must have one row per ``id_col`` (the id keys the
    count shuffle). β and the 1..6 order range follow sacrebleu's
    chrF defaults; whitespace is removed before n-gram extraction and
    each side is capped at 2000 chars (the repo's per-doc text-metric
    bound). β² must be an integer (β = 1, 2, 3 …) so the final
    division stays in exact integer arithmetic.

    Normalization stays JVM-side (string semantics are the engine's),
    then ONE Arrow-batched kernel computes the per-(pair, order)
    multiset-overlap counts (tp, h, r) — exact BIGINTs, no rounding in
    Python — so the only shuffle left is the tiny (id)-keyed micro
    aggregate. The gram explosion (≤ 2·6·2000 rows per pair) never
    leaves the task. Value-exact against the ``chrf_pairs`` DuckDB
    oracle (the explode + (id, n, gram) count shape) on the sf0.001
    corpus plus edge rows in tier-1 (``tests/conftest.py::
    assert_matches_oracle``).
    """
    b2 = beta * beta
    per_n = _per_order_counts_arrow(pairs, id_col, hyp_col, ref_col, max_n)

    # n_eff = number of orders with grams on either side: a per_n row
    # only exists when the (id, n) group had at least one gram row
    micro = per_n.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eff"),
        F.sum(
            F.when(
                F.col("h") > 0,
                F.round(1_000_000.0 * F.col("tp") / F.col("h")).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("sp"),
        F.sum(
            F.when(
                F.col("r") > 0,
                F.round(1_000_000.0 * F.col("tp") / F.col("r")).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("sr"),
    )

    # empty-after-strip pairs produce no gram rows at all: join back
    # so every input pair emits a row (chrf = 0)
    out = (
        pairs.select(F.col(id_col).alias("__id"))
        .join(micro, "__id", "left")
        .na.fill({"sp": 0, "sr": 0, "n_eff": 0})
    )
    # all-integer final algebra (repo micro-unit convention): float
    # round(x, 6) differs between engines exactly on decimal-halfway
    # quotients (BigDecimal HALF_UP vs double rounding), so the metric
    # is emitted in micro units via exact BIGINT division instead
    b2i = int(round(b2))
    if abs(b2 - b2i) > 1e-12:
        raise ValueError("beta**2 must be an integer for exact micro math")
    denom = F.col("n_eff") * (b2i * F.col("sp") + F.col("sr"))
    chrf = F.when(
        denom > 0,
        F.expr(f"({1 + b2i} * sp * sr) DIV (n_eff * ({b2i} * sp + sr))"),
    ).otherwise(F.lit(0)).cast("bigint")
    ratio = lambda c: F.when(  # noqa: E731
        F.col("n_eff") > 0, F.expr(f"{c} DIV n_eff")
    ).otherwise(F.lit(0)).cast("bigint")
    return out.select(
        F.col("__id").alias(id_col),
        ratio("sp").alias("chrf_prec_micro"),
        ratio("sr").alias("chrf_rec_micro"),
        chrf.alias("chrf_micro"),
    )


def chrf_reference_py(hyp: str, ref: str, max_n: int = 6, beta: float = 2.0) -> float:
    """Textbook (unquantized) chrF for cross-checking the twin: same
    formula with exact float averages instead of micro-int sums."""
    hs = _WS_RE.sub("", hyp or "")
    rs = _WS_RE.sub("", ref or "")
    ps, rs_ = [], []
    for n in range(1, max_n + 1):
        hg = Counter(hs[i : i + n] for i in range(len(hs) - n + 1))
        rg = Counter(rs[i : i + n] for i in range(len(rs) - n + 1))
        if not hg and not rg:
            continue  # effective_order: order absent on both sides
        tp = sum(min(c, rg[g]) for g, c in hg.items())
        h, r = sum(hg.values()), sum(rg.values())
        ps.append(tp / h if h else 0.0)
        rs_.append(tp / r if r else 0.0)
    if not ps:
        return 0.0
    p = sum(ps) / len(ps)
    r = sum(rs_) / len(rs_)
    denom = beta * beta * p + r
    if denom <= 0 or math.isclose(denom, 0.0):
        return 0.0
    return (1 + beta * beta) * p * r / denom
