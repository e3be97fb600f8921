"""Text quality metrics (reference `evaluators/markdown_text_evaluator.py:189-225`
and `bbox_text_evaluator.py:222-276`).

Pure-Python kernels with exact reference semantics, no runtime
downloads (SURVEY §7: NLTK's Punkt download at executor init is a
non-starter — the tokenizer here is a self-contained Treebank-style
implementation):

- ``tokenize``            — Treebank-style word tokenizer
- ``_edit_ratio``         — Levenshtein on token sequences / max len
  (`markdown_text_evaluator.py:213-215`)
- ``_set_f1_tokens``      — NLTK-style precision/recall/F on token
  SETS: P = |∩|/|pred|, R = |∩|/|true| (`:205-212`)
- ``bleu``                — BLEU-4, uniform 0.25 weights, brevity
  penalty, tokenizer_13a, no smoothing (HF `evaluate` "bleu" default,
  `markdown_text_evaluator.py:52,189-197`)
- ``meteor_tokens``       — METEOR (alpha=.9, beta=3, gamma=.5) with
  staged exact → Porter-stem alignment (our from-scratch stemmer,
  evaluators/porter.py, matches the published algorithm). Remaining
  deviation vs the reference's NLTK meteor: the WordNet-synonym stage
  (corpora unavailable offline) — scores are a slight lower bound on
  texts relying on synonym matches; identical/stem-equal texts agree.

Spark surface: one iterator ``mapInPandas`` stage computing all six
metrics per row in a single pass (Arrow-batched; per-batch Python,
never per row at the DataFrame level).
"""

from __future__ import annotations

import math
import re
from collections import Counter
from collections.abc import Iterator
from fractions import Fraction

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

# ---------------------------------------------------------------- tokenizers

# Treebank-style tokenization: split punctuation, keep contractions.
_TOKEN_STEPS = [
    (re.compile(r"^\""), r"`` "),
    (re.compile(r"(``)"), r" \1 "),
    (re.compile(r'([ (\[{<])(\"|\'{2})'), r"\1 \2 "),
    (re.compile(r"([:,])([^\d])"), r" \1 \2"),
    (re.compile(r"([:,])$"), r" \1 "),
    (re.compile(r"\.\.\."), r" ... "),
    (re.compile(r"[;@#$%&]"), r" \g<0> "),
    (re.compile(r'([^\.])(\.)([\]\)}>"\']*)\s*$'), r"\1 \2\3 "),
    (re.compile(r"[?!]"), r" \g<0> "),
    (re.compile(r"([^'])' "), r"\1 ' "),
    (re.compile(r"[\]\[\(\)\{\}<>]"), r" \g<0> "),
    (re.compile(r"--"), r" -- "),
    (re.compile(r'"'), r" '' "),
    (re.compile(r"(\S)('')"), r"\1 \2 "),
    (re.compile(r"([^' ])('[sS]|'[mM]|'[dD]|') "), r"\1 \2 "),
    (re.compile(r"([^' ])('ll|'LL|'re|'RE|'ve|'VE|n't|N'T) "), r"\1 \2 "),
]


def tokenize(text: str) -> list[str]:
    text = " " + text + " "
    for pattern, repl in _TOKEN_STEPS:
        text = pattern.sub(repl, text)
    return text.split()


# tokenizer_13a (the WMT/HF BLEU default): punctuation splitting on
# non-alnum chars, preserving intra-word ones.
_T13A_STEPS = [
    (re.compile(r"<skipped>"), ""),
    (re.compile(r"-\n"), ""),
    (re.compile(r"\n"), " "),
    (re.compile(r"&quot;"), '"'),
    (re.compile(r"&amp;"), "&"),
    (re.compile(r"&lt;"), "<"),
    (re.compile(r"&gt;"), ">"),
    (re.compile(r"([{-~\[-\` -&\(-\+:-@/])"), r" \1 "),
    (re.compile(r"([^0-9])([\.,])"), r"\1 \2 "),
    (re.compile(r"([\.,])([^0-9])"), r" \1 \2"),
    (re.compile(r"([0-9])(-)"), r"\1 \2 "),
]


def tokenize_13a(text: str) -> list[str]:
    for pattern, repl in _T13A_STEPS:
        text = pattern.sub(repl, text)
    return text.split()


# ---------------------------------------------------------------- kernels


def levenshtein(a: list[str] | str, b: list[str] | str) -> int:
    """Edit distance (unit insert/delete/substitute cost), NLTK-compatible.

    Bit-parallel (Myers 1999, JACM 46(3); Hyyrö 2003 for the global
    distance): the column of the DP over the longer sequence is two bit
    vectors of +1/-1 vertical deltas held in Python ints, so each
    element of the shorter sequence costs a few whole-int operations
    instead of a row of cells. Exact: the same value as the O(n·m) DP
    for any lengths and any hashable elements."""
    if len(a) < len(b):
        a, b = b, a
    if not b:
        return len(a)
    peq: dict = {}
    for i, x in enumerate(a):
        peq[x] = peq.get(x, 0) | (1 << i)
    mask = (1 << len(a)) - 1
    top = 1 << (len(a) - 1)
    pv, mv, dist = mask, 0, len(a)
    for y in b:
        eq = peq.get(y, 0)
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq
        ph = mv | ~(xh | pv)
        mh = pv & xh
        if ph & top:
            dist += 1
        elif mh & top:
            dist -= 1
        ph = (ph << 1) | 1
        mh <<= 1
        pv = (mh | ~(xv | ph)) & mask
        mv = ph & xv & mask
    return dist


def _edit_ratio(true_tokens: list[str], pred_tokens: list[str]) -> float:
    m = max(len(true_tokens), len(pred_tokens))
    return levenshtein(pred_tokens, true_tokens) / m if m else 0.0


def _set_f1_tokens(
    true_tokens: list[str], pred_tokens: list[str]
) -> tuple[float, float, float]:
    ts, ps = set(true_tokens), set(pred_tokens)
    inter = len(ts & ps)
    p = inter / len(ps) if ps else 0.0
    r = inter / len(ts) if ts else 0.0
    f1 = 2 * p * r / (p + r) if (p + r) > 0 else 0.0
    return f1, p, r


def _ngrams(tokens: list[str], n: int) -> Counter:
    return Counter(tuple(tokens[i : i + n]) for i in range(len(tokens) - n + 1))


def bleu(true_txt: str, pred_txt: str, max_n: int = 4) -> float:
    """Corpus-of-one BLEU-4 on tokenizer_13a tokens (HF 'bleu')."""
    return bleu_tokens(tokenize_13a(true_txt), tokenize_13a(pred_txt), max_n)


def bleu_tokens(ref: list[str], hyp: list[str], max_n: int = 4) -> float:
    """BLEU-4 with brevity penalty, uniform 0.25 weights, no smoothing
    (nltk corpus_bleu semantics on pre-tokenized input,
    `bbox_text_evaluator.py:267-269`)."""
    if not hyp:
        return 0.0
    log_sum = 0.0
    for n in range(1, max_n + 1):
        hyp_ngrams = _ngrams(hyp, n)
        ref_ngrams = _ngrams(ref, n)
        overlap = sum(min(c, ref_ngrams[g]) for g, c in hyp_ngrams.items())
        total = max(sum(hyp_ngrams.values()), 0)
        if total == 0 or overlap == 0:
            return 0.0
        log_sum += 0.25 * math.log(overlap / total)
    bp = 1.0 if len(hyp) > len(ref) else math.exp(1 - len(ref) / max(len(hyp), 1))
    return bp * math.exp(log_sum)


def meteor_tokens(
    ref: list[str], hyp: list[str], synonym_key_fn=None
) -> float:
    """``synonym_key_fn`` overrides the stage-3 vocabulary: token →
    hashable group key (None = outside vocabulary). Default is the
    bundled static table; an environment WITH WordNet can pass
    ``lambda t: first-synset-id`` to recover full NLTK semantics —
    and the §F10 residual measurement passes the bundled table
    EXTENDED with known WordNet-only pairs to measure exactly what
    the subset misses."""
    if not ref or not hyp:
        return 0.0
    from docling_eval_spark.evaluators.porter import porter_stem
    from docling_eval_spark.evaluators.synonyms import synonym_key

    if synonym_key_fn is None:
        synonym_key_fn = synonym_key

    # staged alignment (NLTK meteor: exact → Porter stem → WordNet
    # synsets; WordNet is offline-unavailable, so stage 3 uses the
    # bundled static synonym table — a strict subset of WordNet, so
    # this METEOR lower-bounds NLTK's; deviation quantified in
    # COVERAGE.md §F10); each stage greedily matches remaining tokens
    # left-to-right, uniquely
    ref_taken = [False] * len(ref)
    hyp_taken = [False] * len(hyp)
    matches: list[tuple[int, int]] = []  # (hyp_idx, ref_idx)

    def stage(key):
        rkeys = [key(t) for t in ref]
        for hi, htok in enumerate(hyp):
            if hyp_taken[hi]:
                continue
            hk = key(htok)
            if hk is None:  # token outside the stage's vocabulary
                continue
            for ri in range(len(ref)):
                if not ref_taken[ri] and hk == rkeys[ri]:
                    ref_taken[ri] = True
                    hyp_taken[hi] = True
                    matches.append((hi, ri))
                    break

    stage(lambda t: t)
    stage(porter_stem)
    stage(synonym_key_fn)
    m = len(matches)
    if m == 0:
        return 0.0
    precision = Fraction(m, len(hyp))
    recall = Fraction(m, len(ref))
    fmean = (precision * recall) / (0.9 * recall + 0.1 * precision)
    # chunks: runs of consecutive aligned pairs (both sides contiguous)
    matches.sort()
    chunks = 1
    for (h0, r0), (h1, r1) in zip(matches, matches[1:]):
        if not (h1 == h0 + 1 and r1 == r0 + 1):
            chunks += 1
    frag = Fraction(chunks, m)
    penalty = 0.5 * float(frag) ** 3
    return float((1 - penalty) * fmean)


def token_metrics(
    true_tokens: list[str], pred_tokens: list[str], bleu_score: float | None = None
) -> dict[str, float]:
    """All six metrics over pre-tokenized input (the bbox-matched text
    path, `bbox_text_evaluator.py:256-290`; None-metrics become 0).
    ``bleu_score`` replaces BLEU over these tokens (``text_metrics``
    passes BLEU over tokenizer_13a tokens)."""
    if bleu_score is None:
        bleu_score = bleu_tokens(true_tokens, pred_tokens)
    f1, p, r = _set_f1_tokens(true_tokens, pred_tokens)
    return {
        "bleu": bleu_score,
        "f1_score": f1,
        "precision": p,
        "recall": r,
        "edit_distance": _edit_ratio(true_tokens, pred_tokens),
        "meteor": meteor_tokens(true_tokens, pred_tokens),
    }


def text_metrics(true_txt: str, pred_txt: str) -> dict[str, float]:
    """All six metrics, guarded like the reference's empty-text check
    (`markdown_text_evaluator.py:154-157`). Each side is tokenized
    once for the set, edit-distance and METEOR metrics, and once more
    by tokenizer_13a for BLEU."""
    if not true_txt or not pred_txt:
        return {
            "bleu": 0.0,
            "f1_score": 0.0,
            "precision": 0.0,
            "recall": 0.0,
            "edit_distance": 1.0 if (true_txt or pred_txt) else 0.0,
            "meteor": 0.0,
        }
    return token_metrics(
        tokenize(true_txt), tokenize(pred_txt), bleu(true_txt, pred_txt)
    )


# ---------------------------------------------------------------- Spark stage

METRIC_COLS = ["bleu", "f1_score", "precision", "recall", "edit_distance", "meteor"]


def text_metrics_stage(
    df: DataFrame, true_col: str = "text", pred_col: str = "extracted_text"
) -> DataFrame:
    """Append the six metric columns; single Arrow-batched pass."""
    fields = [f.name for f in df.schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(c, T.DoubleType()) for c in METRIC_COLS]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                text_metrics(t if t is not None else "", p if p is not None else "")
                for t, p in zip(pdf[true_col], pdf[pred_col])
            ]
            out = pdf[fields].copy()
            for c in METRIC_COLS:
                out[c] = [r[c] for r in rows]
            yield out

    return df.mapInPandas(compute, schema=out_schema)


# ---------------------------------------------------------------- ROUGE-L

_ROUGE_WS = re.compile(r"[ \t\n\r\f\v]+")
ROUGE_MAX_TOKENS = 512


def lcs_len(a: list[str], b: list[str]) -> int:
    """Longest-common-subsequence length, vectorized numpy DP
    (row-rolling; the max-accumulate trick makes each row one
    vector op — valid because every DP row is non-decreasing)."""
    if not a or not b:
        return 0
    import numpy as np

    vocab: dict[str, int] = {}
    ai = np.fromiter(
        (vocab.setdefault(t, len(vocab)) for t in a), dtype=np.int64, count=len(a)
    )
    bi = np.fromiter(
        (vocab.setdefault(t, len(vocab)) for t in b), dtype=np.int64, count=len(b)
    )
    prev = np.zeros(len(bi) + 1, dtype=np.int64)
    for x in ai:
        diag = np.where(bi == x, prev[:-1] + 1, 0)
        cur = np.maximum(prev[1:], diag)
        np.maximum.accumulate(cur, out=cur)
        prev[1:] = cur
    return int(prev[-1])


def rouge_l_counts(hyp: str, ref: str, max_tokens: int = ROUGE_MAX_TOKENS) -> dict[str, int]:
    """ROUGE-L (Lin 2004) with F1 (the rouge-score package default,
    β=1) — ALL-INTEGER: with R = lcs/m and P = lcs/n,
    F1 = 2PR/(P+R) = 2·lcs/(m+n), so every output is one exact
    integer division in micro units (the engine-exactness the DuckDB
    oracles need; no float appears anywhere). Sides are capped at
    ``max_tokens`` whitespace tokens to bound the O(m·n) DP."""
    ht = [t for t in _ROUGE_WS.split((hyp or "").strip()) if t][:max_tokens]
    rt = [t for t in _ROUGE_WS.split((ref or "").strip()) if t][:max_tokens]
    n, m = len(ht), len(rt)
    lcs = lcs_len(ht, rt)
    return {
        "lcs": lcs,
        "rouge_l_p_micro": (lcs * 1_000_000) // n if n else 0,
        "rouge_l_r_micro": (lcs * 1_000_000) // m if m else 0,
        "rouge_l_f_micro": (2 * lcs * 1_000_000) // (m + n) if m + n else 0,
    }


_ROUGE_COLS = ["lcs", "rouge_l_p_micro", "rouge_l_r_micro", "rouge_l_f_micro"]


def rouge_l_stage(
    df: DataFrame,
    hyp_col: str,
    ref_col: str,
    max_tokens: int = ROUGE_MAX_TOKENS,
) -> DataFrame:
    """Append the four ROUGE-L columns: one Arrow-batched mapInPandas
    pass (same stage discipline as ``text_metrics_stage``); the DP is
    per-row numpy, never per-token Python."""
    fields = [f.name for f in df.schema.fields]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(c, T.LongType()) for c in _ROUGE_COLS]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                rouge_l_counts(h, r, max_tokens)
                for h, r in zip(pdf[hyp_col], pdf[ref_col])
            ]
            out = pdf[fields].copy()
            for c in _ROUGE_COLS:
                out[c] = [row[c] for row in rows]
            yield out

    return df.mapInPandas(compute, schema=out_schema)
