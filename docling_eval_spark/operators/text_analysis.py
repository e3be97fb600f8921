"""Text-analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

Everything here is pure column algebra (whole-stage codegen, no
Python in the hot path) except winnowing fingerprints, which fold a
rolling hash inside a SQL higher-order ``aggregate`` — still JVM-side.

Scale: all narrow maps over the documents/pages table; no shuffles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from docling_eval_spark.functions import let_col

# ---------------------------------------------------------------- tokens

_WS = r"[ \t\n\r\f\v]+"


def tokens_col(text: Column | str) -> Column:
    """Whitespace tokens; empty string → empty array (split('') yields
    [''] — filtered here)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(t), _WS), lambda x: x != "")


def token_count_col(text: Column | str) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count_col(text: Column | str) -> Column:
    """Sub-word-ish token count: split on whitespace AND on
    letter/digit/punct boundaries (a cheap BPE proxy: counts runs of
    word chars, digits, or single punctuation marks)."""
    t = F.col(text) if isinstance(text, str) else text
    pieces = F.regexp_extract_all(t, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)
    return F.size(pieces)


# ---------------------------------------------------------------- quality

def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-shape heuristics
    (Gopher/C4-style quality filters), as pure column math."""
    t = F.col(text_col)
    toks = tokens_col(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    stop = F.array(*[F.lit(w) for w in _EN_STOP])
    return (
        df.withColumn("q_n_chars", n_chars)
        .withColumn("q_n_tokens", n_tok)
        .withColumn(
            "q_mean_word_len",
            F.when(n_tok > 0, (F.length(F.regexp_replace(t, _WS, "")) / n_tok)).otherwise(0.0),
        )
        .withColumn(
            "q_punct_ratio",
            F.when(
                n_chars > 0,
                F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]{}<>&%#@*+=/\\-]", ""))
                / n_chars,
            ).otherwise(0.0),
        )
        .withColumn(
            "q_stopword_ratio",
            F.when(
                n_tok > 0,
                F.size(F.filter(toks, lambda x: F.array_contains(stop, F.lower(x))))
                / n_tok,
            ).otherwise(0.0),
        )
        .withColumn(
            "q_uppercase_ratio",
            F.when(
                n_chars > 0,
                F.length(F.regexp_replace(t, r"[^A-Z]", "")) / n_chars,
            ).otherwise(0.0),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single [0,1] quality score combining the features (monotone,
    hand-weighted; thresholds are the usual web-filtering folklore)."""
    out = quality_features(df, text_col)
    score = (
        F.when(F.col("q_n_tokens") >= 10, F.lit(0.25)).otherwise(
            F.col("q_n_tokens") / 40.0
        )
        + F.when(
            (F.col("q_mean_word_len") >= 3) & (F.col("q_mean_word_len") <= 10),
            F.lit(0.25),
        ).otherwise(F.lit(0.0))
        + F.when(F.col("q_punct_ratio") <= 0.2, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.least(F.col("q_stopword_ratio") * 2.5, F.lit(0.25))
    )
    return out.withColumn("quality_score", F.round(score, 6))


# ---------------------------------------------------------------- lang id

# top stopwords per language (public frequency lists, truncated)
_EN_STOP = "the of and to in a is that it for on with as are was be at by this have from or an not".split()
_DE_STOP = "der die und das in den von zu mit sich des auf ist im dem nicht ein eine als auch es an".split()
_FR_STOP = "le la de les des et en un une du dans est que pour qui sur pas plus par il au".split()
_ES_STOP = "el la de los las y en un una del se que por con no es para al lo como".split()

_LANG_STOPS = {"en": _EN_STOP, "de": _DE_STOP, "fr": _FR_STOP, "es": _ES_STOP}


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Stopword-hit language ID (n-gram-free heuristic adequate for
    Latin-script text; 'und' = tie/unknown). Pure column algebra."""
    toks = F.transform(tokens_col(F.col(text_col)), lambda x: F.lower(x))
    hit_cols = []
    for lang, stops in _LANG_STOPS.items():
        arr = F.array(*[F.lit(w) for w in stops])
        hits = F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
        hit_cols.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*hit_cols))
    return df.withColumn(
        out_col,
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


# ---------------------------------------------------------------- fingerprints

_FP_BASE = 1_000_003
# 2^31-1: acc*base+ord stays within a long under ANSI mode
_FP_MOD = (1 << 31) - 1
# largest prime with (M-1)*(base+1) < 2^63 — the widest field the
# ANSI-safe Horner fold admits; used by non-portable hash paths where
# collision rate matters more than cross-engine reproducibility
_NGRAM_PROD_MOD = 9_223_335_143_489


def horner_fold(codes: Column, mod: int = _FP_MOD) -> Column:
    """Horner hash fold over a long-array column — THE portable hash
    family every DuckDB oracle replays (winnowing, contamination,
    ngram_lm, quality_lr). One rule, one place: any change to the
    base/mod/fold must go through here so the fingerprint sites and
    their oracles cannot silently fork."""
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * _FP_BASE + x, F.lit(mod)),
    )


def portable_char_hash(s: Column, mod: int = _FP_MOD) -> Column:
    """Per-code-point portable hash of a string column
    (split('') → ascii → Horner fold; empty string hashes to 0)."""
    return horner_fold(
        F.transform(F.split(s, ""), lambda ch: F.ascii(ch).cast("long")), mod
    )


def fingerprint_table(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 8
) -> DataFrame:
    """(id, fp) fingerprint projection of a document table."""
    return df.select(
        F.col(id_col).alias("id"),
        rolling_fingerprint_col(F.col(text_col), k).alias("fp"),
    )


def rolling_fingerprint_col(text: Column | str, k: int = 8) -> Column:
    """Karp–Rabin rolling-hash document fingerprint: min hash over all
    k-char shingles of the normalized text (winnowing's global-min
    special case). SQL higher-order functions only — and the same
    modular arithmetic is reproducible in any engine (the DuckDB
    oracle recomputes it bit-for-bit).

    Both the normalized string and its char-code array are let-bound
    (functions.let) so the regex normalization and the char decoding
    run once per row, not once per lambda element."""
    t = F.col(text) if isinstance(text, str) else text
    norm_expr = F.trim(F.regexp_replace(t, _WS, " "))

    def over_norm(nrm: Column) -> Column:
        n = F.length(nrm)
        codes = F.transform(
            F.split(nrm, ""), lambda ch: F.ascii(ch).cast("long")
        )

        def over_codes(cds: Column) -> Column:
            idxs = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
                F.sequence(F.lit(1), F.lit(1))
            )
            # window = slice(codes, i, k); slice clamps at the end, so
            # short (< k chars) texts hash the whole string
            shingle_hash = lambda i: horner_fold(F.slice(cds, i, k))  # noqa: E731
            return F.array_min(F.transform(idxs, shingle_hash))

        return F.when(n == 0, F.lit(None).cast("long")).otherwise(
            let_col(codes, over_codes)
        )

    return let_col(norm_expr, over_norm)


def fingerprint_py(text: str, k: int = 8) -> int | None:
    """Oracle twin of rolling_fingerprint_col."""
    import re as _re

    norm = _re.sub(r"[ \t\n\r\f\v]+", " ", text).strip(" ")  # ASCII-space only, = SQL trim
    if not norm:
        return None
    if len(norm) < k:
        window = [norm]
    else:
        window = [norm[i : i + k] for i in range(len(norm) - k + 1)]
    best = None
    for sh in window:
        acc = 0
        for ch in sh:
            acc = (acc * _FP_BASE + ord(ch)) % _FP_MOD
        best = acc if best is None else min(best, acc)
    return best


def winnowed_fps_col(text: Column | str, k: int = 8, w: int = 8) -> Column:
    """Full winnowing fingerprints (Schleimer et al. 2003, public): the
    distinct per-window minima of the rolling k-gram hash sequence —
    the document-fingerprint set used for near-dup/plagiarism detection
    (``rolling_fingerprint_col`` is its global-min special case). Pure
    SQL higher-order functions; the DuckDB oracle recomputes the exact
    integer set. Texts shorter than k+w degrade gracefully (windows
    clamp, like the paper's short-document case)."""
    t = F.col(text) if isinstance(text, str) else text
    norm_expr = F.trim(F.regexp_replace(t, _WS, " "))

    def over_norm(nrm: Column) -> Column:
        n = F.length(nrm)
        codes = F.transform(F.split(nrm, ""), lambda ch: F.ascii(ch).cast("long"))

        def over_codes(cds: Column) -> Column:
            idxs = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
                F.sequence(F.lit(1), F.lit(1))
            )
            window_hash = lambda i: horner_fold(F.slice(cds, i, k))  # noqa: E731
            hs = F.transform(idxs, window_hash)

            def over_hashes(h: Column) -> Column:
                m = F.size(h)
                wins = F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1)))
                return F.array_distinct(
                    F.transform(wins, lambda i: F.array_min(F.slice(h, i, w)))
                )

            return let_col(hs, over_hashes)

        return let_col(codes, over_codes)

    return F.when(F.length(norm_expr) == 0, F.array().cast("array<long>")).otherwise(
        let_col(norm_expr, over_norm)
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 8, w: int = 8
) -> DataFrame:
    """(id, fp) — one row per distinct winnowed fingerprint."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(winnowed_fps_col(F.col(text_col), k, w)).alias("fp"),
    )


def _cdc_ends_arrow(base: DataFrame, k: int, divisor: int) -> DataFrame:
    """(id, __t) → (id, __t, __ends): chunk-boundary positions from a
    vectorized rolling-hash kernel: Horner fold mod 2³¹−1 per
    k-window, cut at h % divisor == 0 shifted by k−1 while it is below
    n, final boundary n appended."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    id_field = base.schema["id"]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("__t", T.StringType(), True),
            T.StructField("__ends", T.ArrayType(T.IntegerType()), False),
        ]
    )
    B, M = _FP_BASE, _FP_MOD

    def kernel(batches):
        for pdf in batches:
            ends_out = []
            for s in pdf["__t"]:
                s = s if isinstance(s, str) else ""
                c = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = c.shape[0]
                if n >= k:
                    w = n - k + 1
                    h = np.zeros(w, dtype=np.int64)
                    for j in range(k):
                        h = (h * B + c[j : j + w]) % M
                    cuts = np.flatnonzero(h % divisor == 0) + k  # j+k-1, 1-idx
                    ends = cuts[cuts < n].tolist()
                else:
                    # single whole-string window: its cut position k
                    # is >= n, so the e < n rule always drops it
                    ends = []
                ends.append(n)
                ends_out.append(ends)
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "__t": pdf["__t"],
                    "__ends": ends_out,
                }
            )

    return base.mapInPandas(kernel, out_schema)


def cdc_chunk_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 16,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (Muthitacharoen et al., LBFS SOSP
    2001 — the Rabin/Gear/FastCDC family): cut each document where
    the rolling k-gram hash of the normalized text satisfies
    ``h % divisor == 0`` (expected chunk ≈ ``divisor`` chars), digest
    each chunk. Because boundaries depend only on LOCAL content, an
    insertion or deletion re-synchronizes after ~k chars, so two
    near-identical documents share every chunk digest outside the
    edited region — the resync property fixed-offset shingles and
    fixed-width lines both lack. The storage-dedup workhorse, applied
    to corpus text: shared-chunk fraction between docs ≈ byte-level
    overlap.

    Returns (id, chunk_no, chunk_len, chunk_md5) — empty-after-
    normalization docs are absent; texts shorter than k are one
    chunk. Zero shuffle — a narrow map any downstream
    groupBy(chunk_md5) dedup can consume.

    The boundary scan (every window's rolling hash) runs in one numpy
    kernel (:func:`_cdc_ends_arrow`) — k vectorized multiply-add-mod
    passes per document instead of length×k interpreted HOF lambdas
    (measured 3.5s → 1.1s on the bench corpus). Chunk slicing + md5
    stay JVM expressions. Tier-1 checks it value-exact against the
    ``cdc_chunks`` DuckDB oracle, which recomputes every boundary and
    digest with the same integer rolling hash, on the sf0.001 corpus
    plus edge rows."""
    t = F.col(text_col)
    norm_expr = F.trim(F.regexp_replace(t, _WS, " "))
    base = df.select(
        F.col(id_col).alias("id"), norm_expr.alias("__t")
    ).filter(F.length("__t") > 0)
    withe = _cdc_ends_arrow(base, k, divisor)
    spans = withe.select(
        "id",
        "__t",
        F.posexplode(
            F.transform(
                F.col("__ends"),
                lambda e, i: F.struct(
                    F.when(i == 0, F.lit(1))
                    .otherwise(F.element_at(F.col("__ends"), i) + 1)
                    .alias("s"),
                    e.alias("e"),
                ),
            )
        ).alias("chunk_no", "__sp"),
    )
    chunk = F.col("__t").substr(
        F.col("__sp.s"), F.col("__sp.e") - F.col("__sp.s") + 1
    )
    return spans.select(
        "id",
        F.col("chunk_no").cast("bigint").alias("chunk_no"),
        (F.col("__sp.e") - F.col("__sp.s") + 1)
        .cast("bigint")
        .alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


def winnow_py(text: str, k: int = 8, w: int = 8) -> set[int]:
    """Oracle twin of winnowed_fps_col."""
    import re as _re

    norm = _re.sub(r"[ \t\n\r\f\v]+", " ", text).strip(" ")  # ASCII-space only, = SQL trim
    if not norm:
        return set()
    windows = (
        [norm[i : i + k] for i in range(len(norm) - k + 1)]
        if len(norm) >= k
        else [norm]
    )
    hs = []
    for sh in windows:
        acc = 0
        for ch in sh:
            acc = (acc * _FP_BASE + ord(ch)) % _FP_MOD
        hs.append(acc)
    out = set()
    for i in range(max(len(hs) - w + 1, 1)):
        out.add(min(hs[i : i + w]))
    return out


def kgram_hash_positions(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """(id, pos, h): every k-char shingle hash of the normalized text
    with its 0-based character position. Docs shorter than k emit
    nothing (no full k-gram exists). Same Karp-Rabin arithmetic as
    ``rolling_fingerprint_col`` so any engine can recompute it.

    An Arrow-batched numpy kernel — a vectorized k-pass Horner fold
    over a sliding-window view, O(n·k) in numpy time vs an interpreted
    per-shingle HOF fold — with the same mod-2^31-1 arithmetic over
    the same code points as the ``duplicate_spans`` DuckDB oracle, so
    the oracle stays value-exact without a portability flag. Tier-1
    checks it against that oracle on the sf0.001 corpus plus edge rows
    (NBSP, non-BMP, whitespace runs)."""
    import re as _re
    from collections.abc import Iterator as _It

    import pandas as pd
    import pyspark.sql.types as T

    ws_re = _re.compile(r"[ \t\n\r\f\v]+")
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("pos", T.IntegerType()),
            T.StructField("h", T.LongType()),
        ]
    )

    def kernel(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids, poss, hss = [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                # strip ASCII space ONLY: Spark F.trim / DuckDB
                # trim(t, ' ') leave NBSP etc. in place — Python's
                # bare .strip() would shift every position on such docs
                norm = ws_re.sub(" ", t or "").strip(" ")
                n = len(norm)
                if n < k:
                    continue
                codes = np.frombuffer(
                    norm.encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                win = sliding_window_view(codes, k)
                acc = np.zeros(n - k + 1, dtype=np.int64)
                for j in range(k):
                    acc = (acc * _FP_BASE + win[:, j]) % _FP_MOD
                ids.append(np.full(n - k + 1, did))
                poss.append(np.arange(n - k + 1, dtype=np.int32))
                hss.append(acc)
            if ids:
                yield pd.DataFrame(
                    {
                        "id": np.concatenate(ids),
                        "pos": np.concatenate(poss),
                        "h": np.concatenate(hss),
                    }
                )
            else:
                yield pd.DataFrame({"id": [], "pos": [], "h": []})

    return df.select(id_col, text_col).mapInPandas(kernel, schema=out_schema)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    broadcast_df: bool = False,
) -> DataFrame:
    """(id, term, rank, score_micro): each document's top-``k`` terms
    by tf·idf (Sparck Jones 1972, public) — the keyword-extraction /
    topic-fingerprint primitive of a training-data pipeline.

    Engine-exact scoring: score_micro = tf × round(ln(N/df)·1e6) — an
    exact BIGINT product (the idf is quantized ONCE per term, so the
    ranking and the emitted score are reproducible bit-for-bit in any
    engine; no float comparisons anywhere). Ties break by (score
    desc, term asc) — fully deterministic.

    Scale shape: ONE explode + (id, term) hash agg produces tf, and
    document frequency is DERIVED from tf (count of tf rows per term
    = docs containing the term) — the tf exchange is reused for both
    consumers (ReusedExchange), so the corpus is exploded and
    shuffled exactly once. The final top-k is a rank window
    partitioned by doc id — per-partition state is one document's
    vocabulary, never corpus-scale. ``broadcast_df`` force-broadcasts
    the (term, idf) side: unlike the trigram model's charset³-bounded
    vocab, WORD vocabulary grows with the corpus (Heaps' law — URLs,
    typos, numbers), so the default leaves the join choice to Spark's
    size-based planning; set True only when the vocabulary is known
    small."""
    from pyspark.sql import Window

    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))
    terms = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    # N counts every document (empty-text docs too), so it scans the
    # id spine, not tf
    n_docs = df.select(F.col(id_col)).distinct().count()
    dfreq = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn(
            "idf_micro",
            F.round(F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6).cast("long"),
        )
    )
    dim = dfreq.select("term", "idf_micro")
    if broadcast_df:
        dim = F.broadcast(dim)
    scored = tf.join(dim, "term").select(
        "id",
        "term",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy("id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "term", "rank", "score_micro")
    )


def token_ngram_hash_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    portable: bool = False,
) -> DataFrame:
    """(id, n_grams, grams: array<long>): the hashes of each
    ``n``-token window of the lowercased whitespace tokens (with
    multiplicity, in order), and the window count
    ``max(0, tokens − n + 1)``. Docs shorter than ``n`` tokens, and
    NULL text, have no windows (``n_grams`` 0, empty ``grams``).

    Two token-hash modes (the simhash precedent): the PRODUCTION
    default hashes each token with JVM ``xxhash64`` (one codegen'd
    hash call per token) and only the window combine is a Horner fold
    over token hashes; ``portable=True`` replaces the token hash with
    the per-code-point polynomial fold (mod 2³¹−1, shared base) whose
    integers any engine reproduces — the DuckDB oracle runs that
    path. Same windowing either way; contamination semantics are
    hash-set membership, so the modes differ only in hash space: the
    prod field is ~2⁴³ (the largest prime the ANSI-safe Horner bound
    ``(M−1)·(base+1) < 2⁶³`` admits — per-window false-hit odds
    |bench|/2⁴³, negligible even for 10M-gram benchmark suites),
    while the portable field is the engines' shared 2³¹−1. Measured
    on the ~1 KB synthetic docs the two modes TIME equal (window fold
    + explode dominate; alternating 3-rep medians 4.8 s vs 5.3 s at
    sf0.1/8 cores) — the xxhash64 path pays off on long documents
    where per-char folding is the O(chars) term.

    Tokenization + lowercasing (and on the prod path the per-token
    ``xxhash64``) stay JVM-side — string semantics are the engine's —
    then one Arrow-batched numpy kernel does the portable
    per-code-point token folds and the n-token window Horner folds,
    ``(acc·B + x) mod m`` in int64 throughout (the ~2⁴³ prod field
    keeps ``(m−1)·(B+1) < 2⁶³``). The portable char fold consumes
    Python code points, which match Spark's ``split('')``/``ascii``
    per-code-point semantics. Tier-1 checks the portable path against
    the ``dup_ngram_frac`` DuckDB oracle on the sf0.001 corpus plus
    edge rows (non-BMP included), and the prod path's window fold
    against a Python fold over Spark's ``xxhash64`` token hashes."""
    from collections.abc import Iterator as _It

    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    mod = _FP_MOD if portable else _NGRAM_PROD_MOD
    base = _FP_BASE
    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))
    if portable:
        proj = df.select(F.col(id_col).alias("id"), toks.alias("__in"))
    else:
        proj = df.select(
            F.col(id_col).alias("id"),
            F.transform(
                toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_NGRAM_PROD_MOD))
            ).alias("__in"),
        )
    out_schema = T.StructType(
        [
            proj.schema["id"],
            T.StructField("n_grams", T.LongType(), False),
            T.StructField("grams", T.ArrayType(T.LongType()), False),
        ]
    )

    def _token_hashes(flat: list[str]) -> np.ndarray:
        """Portable per-token char-code Horner folds, vectorized: one
        concatenated code-point array + per-char-position masked
        updates (loop length = longest token, not token count)."""
        if not flat:
            return np.zeros(0, dtype=np.int64)
        lens = np.fromiter((len(t) for t in flat), dtype=np.int64, count=len(flat))
        big = "".join(flat)
        codes = np.fromiter(map(ord, big), dtype=np.int64, count=len(big))
        starts = np.zeros(len(flat), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        h = np.zeros(len(flat), dtype=np.int64)
        for j in range(int(lens.max())):
            act = lens > j
            h[act] = (h[act] * base + codes[starts[act] + j]) % _FP_MOD
        return h

    def kernel(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        # NULL text → NULL tokens array → same (0, []) as a short doc
        empty = np.zeros(0, dtype=np.int64)
        for pdf in batches:
            rows = list(pdf["__in"])
            if portable:
                sizes = [0 if r is None else len(r) for r in rows]
                th_flat = _token_hashes(
                    [t for r in rows if r is not None for t in r]
                )
                offs = np.zeros(len(rows) + 1, dtype=np.int64)
                np.cumsum(np.asarray(sizes, dtype=np.int64), out=offs[1:])
                ths = [th_flat[offs[i] : offs[i + 1]] for i in range(len(rows))]
            else:
                ths = [
                    empty if r is None else np.asarray(r, dtype=np.int64)
                    for r in rows
                ]
            n_grams_out: list[int] = []
            grams_out: list[list[int]] = []
            for th in ths:
                t_cnt = th.shape[0]
                w = t_cnt - n + 1
                if w <= 0:
                    n_grams_out.append(0)
                    grams_out.append([])
                    continue
                g = np.zeros(w, dtype=np.int64)
                for j in range(n):
                    g = (g * base + th[j : j + w]) % mod
                n_grams_out.append(w)
                grams_out.append(g.tolist())
            yield pd.DataFrame(
                {"id": pdf["id"], "n_grams": n_grams_out, "grams": grams_out}
            )

    return proj.mapInPandas(kernel, out_schema)


def contamination_check(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 8,
    portable: bool = False,
) -> DataFrame:
    """(id, n_grams, n_hits): per training document, how many of its
    ``n``-token windows appear anywhere in the benchmark set — the
    test-set decontamination scan every serious training pipeline
    runs before training (the n-gram overlap check of GPT-2/GPT-3-
    style dedup, Brown et al. 2020 Appendix C — public method).

    Scale shape: the benchmark side collapses to a DISTINCT gram-hash
    set (benchmark suites are tiny next to the corpus → broadcast);
    the corpus side is ONE pass — the expensive two-level
    hashing evaluates exactly once per document (``n_grams`` comes
    from the cheap token count, not a second hash evaluation), then
    explode_outer → broadcast left join → one per-id aggregation.
    Windows keep multiplicity, so ``n_hits`` counts contaminated
    POSITIONS (n_hits == n_grams ⇒ the document is fully covered by
    benchmark text)."""
    btc = bench_text_col or text_col
    bench_set = (
        token_ngram_hash_table(
            bench.select(F.lit(0).alias("__bid"), F.col(btc).alias("__bt")),
            "__bid",
            "__bt",
            n,
            portable,
        )
        .select(F.explode("grams").alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    rows = token_ngram_hash_table(
        docs, id_col, text_col, n, portable
    ).select("id", "n_grams", F.explode_outer("grams").alias("g"))
    return (
        rows.join(F.broadcast(bench_set), "g", "left")
        .groupBy("id")
        .agg(
            F.first("n_grams").cast("long").alias("n_grams"),
            F.count("__hit").cast("long").alias("n_hits"),
        )
    )


def dup_ngram_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    portable: bool = False,
) -> DataFrame:
    """(id, n_grams, n_dup, dup_micro): per document, how many of its
    ``n``-token windows also occur in at least one OTHER document —
    the corpus-level duplicated-n-gram fraction RefinedWeb (Penedo et
    al. 2023 §Dedup) and the memorization study of Kandpal et al.
    2022 report per document (public metric). Complements
    ``quality_rules.repetition_signals`` (WITHIN-doc repetition):
    a window counts here only when ≥2 DISTINCT documents share it,
    so boilerplate shared across pages scores, self-repetition does
    not. ``dup_micro`` = ``1e6 · n_dup / n_grams`` integer-division
    (0 for docs shorter than ``n`` tokens).

    Hash modes mirror :func:`token_ngram_hash_table` (the simhash /
    contamination precedent): prod = per-token ``xxhash64`` folded
    into the ~2⁴³ prime field; ``portable=True`` = the per-code-point
    polynomial the DuckDB oracle replays bit-for-bit.

    Scale shape — the postings shape of substring dedup, but over
    8-byte window hashes (text never shuffles): explode → two-level
    hash agg, ``(g, id)`` multiplicity then ``g`` distinct-doc count
    (both map-side combined — a boilerplate gram shared by 10⁸ pages
    arrives at its reducer as per-partition partials, never raw
    rows), one join back on ``g`` (AQE skew-split handles hot grams)
    and a final per-id rollup. Three keyed exchanges total,
    independent of document length."""
    # docs with < n tokens get a single -1 sentinel window (hashes
    # live in [0, mod)) so the equi-joins below never see a NULL key
    # and every input id survives to the output with n_grams = 0
    tbl = token_ngram_hash_table(docs, id_col, text_col, n, portable)
    arr = F.when(F.size("grams") > 0, F.col("grams")).otherwise(
        F.array(F.lit(-1).cast("long"))
    )
    grams = tbl.select("id", F.explode(arr).alias("g"))
    # (g, id) level: per-doc multiplicity of each window hash
    lvl = grams.groupBy("g", "id").agg(
        F.sum(F.when(F.col("g") == -1, 0).otherwise(1)).alias("n_win")
    )
    gdocs = lvl.groupBy("g").agg(F.count("*").alias("n_docs"))
    per = (
        lvl.join(gdocs, "g")
        .groupBy("id")
        .agg(
            F.sum("n_win").cast("long").alias("n_grams"),
            F.sum(
                F.when(
                    (F.col("g") != -1) & (F.col("n_docs") >= 2),
                    F.col("n_win"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_dup"),
        )
    )
    return per.select(
        "id",
        "n_grams",
        "n_dup",
        F.when(F.col("n_grams") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("(1000000 * n_dup) div n_grams"))
        .alias("dup_micro"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """(id, chunk_idx, n_tokens, chunk_text): fixed-token-window
    training chunks with overlap — the packing step that turns
    variable-length documents into model-ready sequences (standard LM
    data prep; stride = chunk_tokens − overlap).

    Pure column algebra: tokenize once (let-bound), slice the token
    array per window, explode. Windows start at 1, 1+stride, … and
    the LAST window is whatever remains (shorter than chunk_tokens,
    never empty); a document shorter than one chunk yields exactly
    one chunk = itself. Chunk text is the space-join of its tokens
    (whitespace-normalized by construction). No shuffle at all —
    embarrassingly parallel over rows."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap

    def over_toks(tk: Column) -> Column:
        sz = F.size(tk)
        starts = F.when(
            sz > 0,
            F.sequence(
                F.lit(1),
                # last start: the largest 1+k*stride <= sz
                F.lit(1) + F.floor((sz - 1) / stride).cast("int") * stride,
                F.lit(stride),
            ),
        ).otherwise(F.array().cast("array<int>"))
        return F.filter(
            F.transform(
                starts,
                lambda s, i: F.struct(
                    i.alias("chunk_idx"),
                    F.slice(tk, s, chunk_tokens).alias("toks"),
                ),
            ),
            # drop a trailing all-overlap window fully contained in the
            # previous chunk (when sz <= previous start + chunk - 1)
            lambda c: (c["chunk_idx"] == 0)
            | (F.size(c["toks"]) > overlap),
        )

    toks = tokens_col(text_col)
    chunks = df.select(
        F.col(id_col).alias("id"),
        F.explode(let_col(toks, over_toks)).alias("c"),
    )
    return chunks.select(
        "id",
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
        F.size("c.toks").cast("long").alias("n_tokens"),
        F.array_join("c.toks", " ").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    size_col: str,
    capacity: int,
    shard_col: str = "shard",
) -> DataFrame:
    """(shard, id, seq_id, seq_offset, n_tokens): greedy next-fit
    packing of documents into fixed-capacity training sequences — the
    batch-assembly step AFTER ``chunk_documents``: concatenate whole
    documents into context windows without splitting them, minimizing
    pad waste (standard LM pretraining packing; next-fit, not
    best-fit, so order — and therefore the result — is fully
    deterministic).

    Semantics per shard, over items sorted by id ascending: keep a
    running fill; an item goes into the current sequence when
    ``fill + size <= capacity``, else it OPENS a new sequence at
    offset 0. An item larger than ``capacity`` gets a sequence of its
    own (never split — splitting is ``chunk_documents``' job).

    The fold is inherently sequential per shard, so it runs as a SQL
    higher-order ``aggregate`` over the shard's sorted item list —
    JVM-side, no Python, exactly the greedy-fold discipline of
    ``evaluators/layout.greedy_match`` (reference parity: the packing
    op has no reference twin; it extends the training-data surface).

    Scale shape: ONE shuffle (hash agg on ``shard_col``). Per-shard
    state is that shard's (id, size) list — the caller picks shard
    granularity (e.g. ``pmod(hash(id), n)`` for ~10k docs/shard) so a
    shard is a few hundred KB, same bounded-group contract as the
    LSH bucket caps. Packing quality is unaffected by shard count:
    every shard packs independently and sequences never span shards
    (each shard's sequence ids are local to it)."""
    items = df.groupBy(F.col(shard_col).alias("shard")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(id_col).cast("long").alias("id"),
                    F.col(size_col).cast("long").alias("n"),
                )
            )
        ).alias("items")
    )
    state_t = "array<struct<id:bigint,seq:bigint,off:bigint,fill:bigint>>"

    def step(acc: Column, x: Column) -> Column:
        last = F.element_at(acc, -1)
        opens = last["fill"] + x["n"] > capacity
        nxt = F.when(
            F.size(acc) == 0,
            F.struct(
                x["id"].alias("id"),
                F.lit(0).cast("long").alias("seq"),
                F.lit(0).cast("long").alias("off"),
                x["n"].alias("fill"),
            ),
        ).otherwise(
            F.struct(
                x["id"].alias("id"),
                (last["seq"] + opens.cast("long")).alias("seq"),
                F.when(opens, F.lit(0).cast("long"))
                .otherwise(last["fill"])
                .alias("off"),
                (
                    F.when(opens, F.lit(0).cast("long")).otherwise(last["fill"])
                    + x["n"]
                ).alias("fill"),
            )
        )
        return F.concat(acc, F.array(nxt))

    folded = items.select(
        "shard",
        F.explode(
            F.aggregate(F.col("items"), F.expr(f"CAST(array() AS {state_t})"), step)
        ).alias("p"),
    )
    # n_tokens rides along via position: p.fill - p.off is the item's
    # own size (fill always advances by exactly n)
    return folded.select(
        "shard",
        F.col("p.id").alias("id"),
        F.col("p.seq").alias("seq_id"),
        F.col("p.off").alias("seq_offset"),
        (F.col("p.fill") - F.col("p.off")).alias("n_tokens"),
    )


def _local_scratch_path(base: str) -> str | None:
    """Filesystem path for a local/file: scratch URI, else None
    (hdfs/s3/... — caller manages remote scratch)."""
    from docling_eval_spark.functions.uri import local_path_of

    return local_path_of(base)


# Postings dumps written by THIS process under a session checkpoint
# dir. They are deleted at interpreter exit, NOT per-call: an earlier
# call's returned frame is lazily backed by its dump, so deleting a
# sibling eagerly would invalidate any still-unconsumed frame. Spark
# never garbage-collects foreign parquet in a checkpoint dir, so
# without the exit hook every call would leak one full dump.
# Crash caveat: a SIGKILL'd driver leaks its dumps — but they live
# under sc.getCheckpointDir()'s PER-CONTEXT uuid subdir, exactly like
# Spark's own RDD checkpoints from the dead run; whatever policy
# reclaims a dead context's checkpoint dir reclaims these with it
# (no cross-process cleanup could do better: another live driver's
# context dir must never be touched).
_SCRATCH_DUMPS: list[str] = []


def _clean_scratch_dumps() -> None:
    import shutil

    while _SCRATCH_DUMPS:
        shutil.rmtree(_SCRATCH_DUMPS.pop(), ignore_errors=True)


# soft cap: each dump is ~20x the corpus text bytes, and dumps live
# until interpreter exit by design (earlier calls' frames lazily
# re-read their own dump) — a long-lived driver looping over
# duplicate_spans() fills the scratch volume silently without a nudge
_SCRATCH_DUMP_WARN = 8


def _register_scratch_dump(base: str) -> None:
    path = _local_scratch_path(base)
    if path is None:
        return
    if not _SCRATCH_DUMPS:
        import atexit

        atexit.register(_clean_scratch_dumps)
    _SCRATCH_DUMPS.append(path)
    if len(_SCRATCH_DUMPS) == _SCRATCH_DUMP_WARN:
        import warnings

        warnings.warn(
            f"duplicate_spans has auto-materialized {_SCRATCH_DUMP_WARN} "
            "postings dumps this session (each ~20x the corpus text "
            "bytes; reclaimed only at interpreter exit). Long-lived "
            "drivers should run it in a session without a checkpoint "
            "dir, where it recomputes instead of writing dumps.",
            ResourceWarning,
            stacklevel=3,
        )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 20,
    min_len: int | None = None,
) -> DataFrame:
    """Exact duplicated-substring spans across a corpus (the substring
    dedup of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better" — public paper; their suffix-array pass is
    re-expressed as a k-gram inverted index, the Spark-native shape).

    A position is duplicated iff its k-gram occurs in >=2 DISTINCT
    documents; overlapping/adjacent duplicated positions merge into
    maximal spans (gaps-and-islands). Output: (id, span_start,
    span_end) — 0-based [start, end) character offsets into the
    whitespace-normalized text, keeping spans of length >= min_len
    (default k).

    Scale shape — TWO keyed shuffles total, no per-key sort:
    - postings explode → groupBy(h) count-distinct-ids (map-side
      partial dedup of (h, id); a boilerplate k-gram in millions of
      docs still reduces to ONE slim row per hash);
    - broadcast/equi-join postings against the >=2-doc hash set on h;
    - groupBy DOC id collects the (bounded-by-doc-length) duplicated
      positions; the gaps-and-islands merge is a sorted-array HOF
      fold per row — no window, no second repartitioning key.

    Cost note: ``posted`` feeds both the dup-hash aggregation and the
    join probe; with a lazy plan the hashing kernel runs TWICE
    (recompute — no executor storage pressure). When the session has
    a checkpoint dir (``sc.setCheckpointDir`` — the pipeline's stated
    scratch space), the operator writes the postings as parquet there
    and reads them back for both sides (halves kernel CPU); without
    one it recomputes.

    Auto-materialization notes: (a) building the returned frame runs
    an EAGER write job (the postings dump, ~20x the text bytes) —
    cost moves from first action to construction; (b) every call
    writes its OWN uuid subdir under ``duplicate_spans_postings/`` and
    never touches a sibling's — an earlier call's returned frame stays
    valid (it lazily re-reads its own dump). Dumps this process wrote
    to a local/file: checkpoint dir are removed at interpreter exit
    (atexit); remote scratch is the caller's to manage.
    """
    if min_len is None:
        min_len = k
    posted = kgram_hash_positions(df, id_col, text_col, k)
    ckpt = df.sparkSession.sparkContext.getCheckpointDir()
    if ckpt:
        import uuid

        postings_path = f"{ckpt}/duplicate_spans_postings/{uuid.uuid4().hex}"
        _register_scratch_dump(postings_path)
        posted.write.mode("overwrite").parquet(postings_path)
        posted = df.sparkSession.read.parquet(postings_path)
    # ">=2 distinct docs" as min(id) != max(id): plain min/max combine
    # map-side (no distinct expansion, one exchange, O(1) state even
    # for a boilerplate k-gram present in millions of docs)
    dup_hashes = (
        posted.groupBy("h")
        .agg(F.min("id").alias("__lo"), F.max("id").alias("__hi"))
        .filter(F.col("__lo") != F.col("__hi"))
        .select("h")
    )
    dp = (
        posted.join(dup_hashes, "h")
        .groupBy("id")
        .agg(F.sort_array(F.array_distinct(F.collect_list("pos"))).alias("ps"))
    )

    span = lambda s, e: F.struct(  # noqa: E731
        s.cast("long").alias("s"), e.cast("long").alias("e")
    )
    init = F.struct(
        F.array().cast("array<struct<s:bigint,e:bigint>>").alias("spans"),
        F.lit(-1).cast("long").alias("cs"),
        F.lit(-1).cast("long").alias("ce"),
    )

    def merge(acc, p):
        return (
            F.when(
                acc["cs"] == -1,
                F.struct(acc["spans"].alias("spans"),
                         p.cast("long").alias("cs"),
                         (p + k).cast("long").alias("ce")),
            )
            .when(
                p <= acc["ce"],
                F.struct(acc["spans"].alias("spans"),
                         acc["cs"].alias("cs"),
                         (p + k).cast("long").alias("ce")),
            )
            .otherwise(
                F.struct(
                    F.concat(
                        acc["spans"], F.array(span(acc["cs"], acc["ce"]))
                    ).alias("spans"),
                    p.cast("long").alias("cs"),
                    (p + k).cast("long").alias("ce"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["cs"] == -1, acc["spans"]).otherwise(
            F.concat(acc["spans"], F.array(span(acc["cs"], acc["ce"])))
        )

    spans = dp.select(
        "id", F.explode(F.aggregate("ps", init, merge, finish)).alias("sp")
    )
    return (
        spans.filter(F.col("sp.e") - F.col("sp.s") >= F.lit(min_len))
        .select(
            "id",
            F.col("sp.s").cast("int").alias("span_start"),
            F.col("sp.e").cast("int").alias("span_end"),
        )
    )


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Remove [span_start, span_end) character ranges from each doc's
    WHITESPACE-NORMALIZED text — the apply step of the Lee et al. 2021
    substring dedup (``duplicate_spans`` finds, ``cut_spans`` removes).

    ``spans`` is (id, span_start, span_end) with disjoint spans per doc
    (``duplicate_spans`` emits maximal merged spans, so they are).
    Docs with no spans pass through with their normalized text intact.

    Scale shape: ONE slim shuffle (spans groupBy id — per-doc arrays
    bounded by doc length), then a broadcast-or-shuffle left join and
    a per-row HOF fold building the kept substring. No window, no
    per-key sort beyond the bounded ``sort_array``.
    """
    norm = F.trim(F.regexp_replace(F.col(text_col), _WS, " "))
    per_doc = spans.groupBy(F.col("id").alias("__sid")).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans")
    )
    joined = docs.join(
        per_doc, F.col(id_col) == F.col("__sid"), "left"
    ).drop("__sid")

    def fold(nrm: Column) -> Column:
        init = F.struct(
            F.lit("").alias("out"), F.lit(0).cast("long").alias("pos")
        )

        def step(acc, sp):
            s = sp["span_start"].cast("long")
            e = sp["span_end"].cast("long")
            keep_to = F.greatest(s, acc["pos"])
            return F.struct(
                F.concat(
                    acc["out"],
                    F.substring(
                        nrm,
                        (acc["pos"] + 1).cast("int"),
                        F.greatest(keep_to - acc["pos"], F.lit(0)).cast(
                            "int"
                        ),
                    ),
                ).alias("out"),
                F.greatest(e, acc["pos"]).alias("pos"),
            )

        def finish(acc):
            return F.concat(
                acc["out"],
                F.substring(
                    nrm,
                    (acc["pos"] + 1).cast("int"),
                    F.greatest(
                        F.length(nrm) - acc["pos"], F.lit(0)
                    ).cast("int"),
                ),
            )

        return F.aggregate(F.col("__spans"), init, step, finish)

    return joined.withColumn(
        out_col,
        F.when(F.col("__spans").isNull(), norm).otherwise(let_col(norm, fold)),
    ).drop("__spans")


# ---------------------------------------------------------------- scripts

# Unicode script ranges (public Unicode block table, the major writing
# systems a web crawl actually sees). INCLUSIVE [lo, hi] bounds.
# 0xD7 (multiplication sign) and 0xF7 (division sign) are carved out
# of the Latin-1 letter range — they are symbols, not script chars.
SCRIPT_RANGES: list[tuple[str, int, int]] = [
    ("latin", 0x41, 0x5A), ("latin", 0x61, 0x7A),
    ("latin", 0xC0, 0xD6), ("latin", 0xD8, 0xF6),
    ("latin", 0xF8, 0x24F),
    ("greek", 0x370, 0x3FF),
    ("cyrillic", 0x400, 0x4FF),
    ("hebrew", 0x590, 0x5FF),
    ("arabic", 0x600, 0x6FF), ("arabic", 0x750, 0x77F),
    ("devanagari", 0x900, 0x97F),
    ("thai", 0xE00, 0xE7F),
    ("hangul", 0x1100, 0x11FF), ("hangul", 0xAC00, 0xD7AF),
    ("hiragana", 0x3040, 0x309F),
    ("katakana", 0x30A0, 0x30FF),
    ("han", 0x4E00, 0x9FFF), ("han", 0x3400, 0x4DBF),
]

_SCRIPTS = sorted({name for name, _, _ in SCRIPT_RANGES})


def script_profile(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    sample_chars: int = 2000,
) -> DataFrame:
    """(id, script, script_frac): the dominant Unicode script within
    the first ``sample_chars`` CHARACTERS of the text (the sample is a
    plain prefix — digits/punct/whitespace count against the budget)
    and its fraction among the SCRIPTED characters found there
    (digits/punct/space excluded from the denominator) — the script
    layer real language ID rests on (the stopword ``lang_id`` only
    resolves Latin-script languages; a crawl is half not-Latin). A
    markup- or number-heavy prefix therefore profiles few scripted
    chars; the DuckDB oracle samples identically.

    Pure column algebra over the codepoint array (one pass, no
    shuffle, no UDF); fixed-size sampling caps per-row cost the same
    way fastText-style classifiers do. Ties break alphabetically
    (deterministic, engine-portable); zero scripted chars → script
    'none', frac 0."""
    t = F.substring(F.col(text_col), 1, sample_chars)

    def over_codes(cds: Column) -> Column:
        counts = []
        # NOTE: F.filter dispatches on lambda ARITY — a helper with a
        # second (default) parameter would receive the element INDEX
        # there; capture the ranges via closure factory instead
        def make_cond(rngs):
            def cond(x):
                e = None
                for lo, hi in rngs:
                    term = (x >= lo) & (x <= hi)
                    e = term if e is None else (e | term)
                return e

            return cond

        for name in _SCRIPTS:
            rngs = [(lo, hi) for n, lo, hi in SCRIPT_RANGES if n == name]
            cond = make_cond(rngs)
            counts.append(
                F.struct(
                    F.size(F.filter(cds, cond)).alias("n"),
                    # invert name ordering so max() breaks count ties
                    # toward the alphabetically FIRST script
                    F.lit(_inv_name(name)).alias("inv"),
                    F.lit(name).alias("script"),
                )
            )
        total = F.aggregate(
            F.array(*[c["n"] for c in counts]),
            F.lit(0),
            lambda a, x: a + x,
        )
        best = F.array_max(F.array(*counts))
        return F.struct(
            F.when(best["n"] > 0, best["script"]).otherwise(
                F.lit("none")
            ).alias("script"),
            F.when(
                total > 0, F.round(best["n"] / total, 6)
            ).otherwise(F.lit(0.0)).alias("script_frac"),
        )

    codes = F.transform(F.split(t, ""), lambda ch: F.ascii(ch))
    res = let_col(codes, over_codes)
    return df.select(
        F.col(id_col).alias("id"),
        res["script"].alias("script"),
        res["script_frac"].alias("script_frac"),
    )


def _inv_name(name: str) -> str:
    """Order-inverting key so (count, inv_name) max-struct ordering
    resolves count ties to the alphabetically first script name.
    Padded with '{' (0x7B, sorts above 'z') so PREFIX pairs invert
    correctly too: plain inversion keeps 'han' a prefix of 'hangul'
    and max would pick the longer (alphabetically LATER) name —
    diverging from the oracle's ORDER BY script ASC."""
    inv = "".join(chr(0x7A - (ord(c) - 0x61)) for c in name)
    return inv.ljust(12, "{")


def nfc_normalize_stage(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Unicode NFC normalization (UAX #15) of a text column — dedup
    robustness: a composed 'é' and 'e'+combining-acute are the same
    document to a reader but different bytes to every hash operator
    upstream, so canonical composition runs BEFORE exact/minhash/
    simhash dedup in a real pipeline.

    Spark has no built-in normalizer; this is an Arrow-batched kernel
    over ``unicodedata`` (narrow map, no shuffle). DuckDB's
    ``nfc_normalize`` implements the same public algorithm, giving a
    value-exact cross-engine oracle."""
    from collections.abc import Iterator as _It

    import pandas as pd

    import pyspark.sql.types as T

    out = out_col or text_col
    schema = (
        df.schema
        if out in df.columns
        else T.StructType(
            df.schema.fields + [T.StructField(out, T.StringType())]
        )
    )

    def kernel(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        import unicodedata

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out] = [
                unicodedata.normalize("NFC", t) if t is not None else None
                for t in pdf[text_col]
            ]
            yield pdf[[f.name for f in schema.fields]]

    return df.mapInPandas(kernel, schema=schema)


# ------------------------------------------------------- linear classifier


def lr_weights(dim: int = 256, seed: int = 7) -> list[int]:
    """Deterministic milli-unit weight table for ``quality_lr_score``
    — the stand-in for a TRAINED fastText/logistic quality model
    (container has no training data; a real deployment passes its own
    weights). Values in [-1000, 1000] milli-units, seeded Knuth-style
    so both engines (and the committed oracle SQL) agree on every
    entry."""
    return [
        ((seed * 1_000_003 + i * 2_654_435_761) % 2001) - 1000
        for i in range(dim)
    ]


def quality_lr_score(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    weights: list[int] | None = None,
    bias_milli: int = 0,
    thresh_milli: int = 0,
) -> DataFrame:
    """Hashed-bag-of-words linear quality classifier — the scoring
    half of the fastText-style quality filter every LLM data pipeline
    runs (CCNet / GPT-3 Common-Crawl filtering: score each document
    with a linear model over hashed token features, keep above a
    threshold). The TRAINING half happens offline; this stage applies
    the resulting weight vector at corpus scale.

    Scale shape: ZERO shuffle — the weight vector rides into the plan
    as a broadcast-free literal array (a few KB), each document folds
    its own tokens (``F.aggregate``, sequential per row), and the
    decision is one narrow map over the corpus. Integer milli-unit
    arithmetic end-to-end (BIGINT sums; the [[round4-state]] oracle
    rule: never hash a float quotient across engines), so the DuckDB
    twin is value-exact:

    - token bucket = per-code-point polynomial fold mod 2^31-1
      (the portable hash family shared with winnowing/contamination),
      then mod ``len(weights)``;
    - ``score_milli`` = bias + Σ weights[bucket(tok)] over tokens
      (with multiplicity, in order — BIGINT, exact);
    - ``keep`` = score_milli >= thresh_milli * n_tokens (per-token
      mean threshold in pure integer form: empty docs fail).

    A sigmoid probability is deliberately NOT emitted: it adds no
    information to the keep decision (monotone) and a float column
    would break integer-exact cross-engine comparison; callers who
    want it compute ``sigmoid(score_milli / 1000 / n_tokens)``."""
    if weights is None:
        weights = lr_weights()
    dim = len(weights)
    w_arr = F.array(*[F.lit(int(w)).cast("long") for w in weights])
    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))

    def tok_bucket(t: Column) -> Column:
        return F.pmod(portable_char_hash(t), F.lit(dim)).cast("int")

    score = F.aggregate(
        toks,
        F.lit(int(bias_milli)).cast("long"),
        lambda acc, t: acc + F.element_at(w_arr, tok_bucket(t) + 1),
    )
    n_tok = F.size(tokens_col(text_col)).cast("long")
    return df.select(
        F.col(id_col).alias("id"),
        n_tok.alias("n_tokens"),
        score.alias("score_milli"),
        (
            (score >= F.lit(int(thresh_milli)) * n_tok) & (n_tok > 0)
        ).alias("keep"),
    )


# ------------------------------------------------------------- mojibake

# Signature of UTF-8 bytes mis-decoded as Latin-1: a 2-byte UTF-8 lead
# (0xC2-0xDF, rendered by Latin-1 as A-circumflex..eszett) followed by
# a continuation byte (0x80-0xBF). The ftfy heuristic family (public),
# restricted to the dominant real-world case -- 2-byte sequences;
# 3/4-byte leads are rarer and left alone to keep the false-positive
# surface minimal.
_MOJIBAKE_SIG = "[\u00c2-\u00df][\u0080-\u00bf]"

# Full UTF-8 well-formedness (RFC 3629 table) expressed as a regex over
# the Latin-1-decoded chars -- so validity is decided BEFORE any decode
# call (Spark 4 ANSI decode throws MALFORMED_CHARACTER_CODING on bad
# bytes; gating on this regex keeps the operator total). Lead range
# starts at C2, so overlong C0/C1 forms fail; E0/ED/F0/F4 branches
# carry their restricted second-byte ranges (overlongs, surrogates and
# >U+10FFFF all rejected).
_CONT = "[\u0080-\u00bf]"
_UTF8_VALID = (
    "\\A(?:"
    "[\u0001-\u007f]"          # NUL excluded: never legitimate in text
    "|[\u00c2-\u00df]" + _CONT
    + "|\u00e0[\u00a0-\u00bf]" + _CONT
    + "|[\u00e1-\u00ec]" + _CONT + _CONT
    + "|\u00ed[\u0080-\u009f]" + _CONT
    + "|[\u00ee-\u00ef]" + _CONT + _CONT
    + "|\u00f0[\u0090-\u00bf]" + _CONT + _CONT
    + "|[\u00f1-\u00f3]" + _CONT + _CONT + _CONT
    + "|\u00f4[\u0080-\u008f]" + _CONT + _CONT + _CONT
    + ")*\\z"
)


def mojibake_repair(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "repaired_text",
    flag_col: str = "was_mojibake",
) -> DataFrame:
    """Repair UTF-8-decoded-as-Latin-1 mojibake ('\u00c3\u00a9' for
    '\u00e9') -- the most common encoding corruption in web crawls (a
    page served as Latin-1 whose bytes were really UTF-8, or a proxy
    that double-decoded). Pure SQL, zero shuffle, no Python: re-encode
    the text as ISO-8859-1 bytes (undoing the wrong decode -- Latin-1
    maps all 256 byte values, so this is lossless) and re-decode as
    UTF-8.

    The repair applies only when ALL of:

    - the text matches the mojibake signature (a 2-byte UTF-8 lead
      0xC2-0xDF as a Latin-1 char followed by a continuation-range
      char) -- plain Latin-1 prose almost never does;
    - every char is Latin-1-representable (<= U+00FF) -- otherwise the
      re-encode would be lossy and the premise is wrong;
    - the re-encoded byte stream is WELL-FORMED UTF-8, decided by the
      RFC 3629 regex over the Latin-1 chars BEFORE any decode runs
      (Spark 4 ANSI ``decode`` throws on malformed input; the CaseWhen
      branch below means encode/decode are never even evaluated for
      rejected rows, keeping the operator total).

    Rows failing any guard pass through unchanged with
    ``flag_col = false`` -- the operator never corrupts clean text.
    Repaired text that STILL matches the signature was doubly-garbled;
    a second application peels the next layer (run to fixpoint offline
    for crawls known to be multi-garbled).
    """
    t = F.col(text_col)
    ok = (
        t.isNotNull()
        & t.rlike(_MOJIBAKE_SIG)
        & ~t.rlike("[^\u0000-\u00ff]")
        & t.rlike(_UTF8_VALID)
    )
    redecoded = F.decode(F.encode(t, "ISO-8859-1"), "UTF-8")
    return df.withColumn(
        out_col, F.when(ok, redecoded).otherwise(t)
    ).withColumn(flag_col, F.coalesce(ok, F.lit(False)))


# ------------------------------------------------------------ vocabulary

def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Corpus vocabulary statistics, per ``group_col`` (e.g. language)
    or corpus-wide: token count, type (distinct-token) count, hapax
    legomena count, type-token ratio, hapax share of the vocabulary,
    and the top term frequency. The classic corpus-health dashboard a
    training-data pipeline watches per ingest batch (a collapsing TTR
    or exploding hapax share flags boilerplate floods / tokenizer
    breakage).

    Scale shape: explode to (group, token) then TWO hash aggs — the
    first (term frequency) benefits from map-side partial aggregation
    so the shuffle carries at most one row per distinct (group, token)
    per task, the second reduces |vocab| rows per group to one. No
    windows, no driver collect; tokens are whitespace-split and
    lowercased (same tokenizer as :func:`tokens_col`, same oracle
    split idiom as token_counts).
    """
    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))
    grp = [group_col] if group_col else []
    tf = (
        df.select(*grp, F.explode(toks).alias("tok"))
        .groupBy(*grp, "tok")
        .agg(F.count("*").alias("c"))
    )
    out = tf.groupBy(*grp).agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.max("c").alias("top_freq"),
    )
    return out.select(
        *grp,
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(F.col("n_hapax") / F.col("n_types"), 6).alias("hapax_ratio"),
        "top_freq",
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct-type
    count as the corpus grows, measured at 16 checkpoints. The classic
    tokenizer-sizing / corpus-diversity diagnostic (Heaps 1978): a
    training-data curator reads the curve's flattening rate to decide
    whether more crawl adds vocabulary or just repeats it, and a curve
    that flattens too early flags template floods.

    Epochs are a DETERMINISTIC RANDOM PERMUTATION, not ingest order:
    each document's epoch is the first hex digit of ``md5(id)``
    (uniform over 0..15), so the prefix "epochs ≤ e" is a uniform
    random sample of the corpus whose size grows with e — exactly the
    shuffled-corpus prefix Heaps measurement wants, with no global
    sort and no dependence on partition layout. Engine-portable: the
    DuckDB oracle replays the identical md5 digit.

    Scale shape: the ONLY wide-by-cardinality shuffle is the
    per-token ``min(epoch)`` hash agg (map-side combine ships at most
    one row per distinct token per task — same cost envelope as
    ``vocab_stats``). Doc counts/token totals reduce doc-level rows
    straight to ≤16 epoch rows (map-side combine again), and the final
    cumulative window runs over ≤16 rows on one partition. No
    explode-join, no driver collect.

    Output: one row per epoch with per-epoch ``n_docs``/``n_tokens``/
    ``new_types`` and cumulative ``cum_docs``/``cum_tokens``/
    ``cum_types`` plus the running type-token ratio.
    """
    from pyspark.sql import Window

    hexd = F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 1)
    epoch = F.conv(hexd, 16, 10).cast("int")
    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))

    doc_agg = (
        df.select(epoch.alias("epoch"), F.size(toks).alias("nt"))
        .groupBy("epoch")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )
    first_seen = (
        df.select(epoch.alias("epoch"), F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.min("epoch").alias("epoch"))
        .groupBy("epoch")
        .agg(F.count("*").alias("new_types"))
    )
    # union-then-sum instead of a join: one ≤32-row hash agg, and an
    # epoch present on either side survives with zeros on the other.
    per_epoch = (
        doc_agg.select(
            "epoch", "n_docs", "n_tokens", F.lit(0).cast("long").alias("new_types")
        )
        .unionByName(
            first_seen.select(
                "epoch",
                F.lit(0).cast("long").alias("n_docs"),
                F.lit(0).cast("long").alias("n_tokens"),
                "new_types",
            )
        )
        .groupBy("epoch")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("new_types").alias("new_types"),
        )
    )
    w = (
        Window.orderBy("epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_epoch.select(
        "epoch",
        "n_docs",
        "n_tokens",
        "new_types",
        F.sum("n_docs").over(w).alias("cum_docs"),
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        F.sum("new_types").over(w).alias("cum_types"),
        F.round(
            F.sum("new_types").over(w) / F.sum("n_tokens").over(w), 6
        ).alias("cum_ttr"),
    )


# ------------------------------------------------------------------ PII

# Engine-portable regex subset (valid and equivalent under both Java
# regex (Spark) and RE2 (DuckDB oracle)): character classes, bounded
# repetition, \b, non-capturing groups only.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9][0-9()\ .-]{6,14}[0-9]"


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "scrubbed_text",
) -> DataFrame:
    """Mask emails, IPv4 addresses and international-format phone
    numbers with ``<EMAIL>`` / ``<IP>`` / ``<PHONE>`` sentinels and
    count each category — the pre-training privacy pass (same shape as
    Dolma's PII tagger / CCNet masking). Pure ``regexp_replace`` /
    ``regexp_count`` column algebra: zero shuffle, zero Python,
    whole-stage codegen.

    Semantics, fixed on purpose:

    - counts (``n_emails``/``n_ips``/``n_phones``) are per-pattern
      over the ORIGINAL text, so they are independent of replacement
      order and usable as quality-filter features on their own;
    - replacement is sequential email → IP → phone, so a phone-ish
      digit run inside an email/IP is masked once by the more specific
      pattern, never double-masked;
    - only ``+``-prefixed phones are matched (E.164-ish). Bare local
      digit runs are indistinguishable from ids/quantities at corpus
      scale — a deliberate precision-over-recall choice, documented
      here rather than hidden.
    """
    t = F.col(text_col)
    masked = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        *df.columns,
        masked.alias(out_col),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).alias("n_ips"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).alias("n_phones"),
    )


# ---------------------------------------------------------------- entropy

def char_entropy_col(
    text: Column | str, sample_chars: int = 2000
) -> Column:
    """Shannon entropy (nats/char) of the character distribution over
    the first ``sample_chars`` chars — the cheap randomness/quality
    signal that separates prose (~2.5-3.2 nats) from boilerplate
    repetition (low) and base64/minified blobs (high, near ln(64)).

    Pure SQL HOFs, zero shuffle. Determinism contract (same ethos as
    bm25/ngram_lm): the ONLY float ops are one ``ln`` per DISTINCT
    char quantized immediately to BIGINT micro-nats, and one final
    division rounded to 6 dp — engine-exact against the DuckDB oracle
    regardless of partitioning. Per-row cost is O(sample log sample):
    the sample is SORTED and counted by run-length in one fold (equal
    chars are adjacent after array_sort, so each run IS a distinct
    char's count) — the naive per-distinct nested filter was
    O(sample * distinct) and measured ~2x slower at sf0.1 (the split
    itself dominates the remainder). The sum
    over runs is integer-identical to the sum over distinct chars,
    so the simpler distinct-based DuckDB oracle gates this path
    unchanged."""
    t = F.col(text) if isinstance(text, str) else text
    chars = F.filter(
        F.split(F.substring(t, 1, sample_chars), ""), lambda c: c != ""
    )

    def _entropy(ch: Column) -> Column:
        n = F.size(ch)

        def contrib(run: Column) -> Column:
            # run * round(ln(n/run) * 1e6)  (micro-nats), 0-safe
            return F.when(
                run > 0,
                run
                * F.round(
                    F.log(n.cast("double") / run.cast("double")) * 1_000_000
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long"))

        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("total"),
        )
        total_unats = F.aggregate(
            F.array_sort(ch),
            acc0,
            lambda acc, x: F.when(
                x.eqNullSafe(acc["prev"]),
                F.struct(
                    acc["prev"].alias("prev"),
                    (acc["run"] + 1).alias("run"),
                    acc["total"].alias("total"),
                ),
            ).otherwise(
                F.struct(
                    x.alias("prev"),
                    F.lit(1).cast("long").alias("run"),
                    (acc["total"] + contrib(acc["run"])).alias("total"),
                )
            ),
            lambda acc: acc["total"] + contrib(acc["run"]),
        )
        return F.when(
            n > 0, F.round(total_unats / n.cast("double") / 1_000_000, 6)
        ).otherwise(F.lit(0.0))

    return let_col(chars, _entropy)


# ------------------------------------------------------- sentence dedup

def dedup_sentences_col(
    text: Column | str, min_len: int = 0
) -> Column:
    """Remove REPEATED sentences within one document, keeping first
    occurrences in order — the within-doc twin of corpus line dedup
    (templated pages repeat the same CTA/disclaimer sentence dozens of
    times; corpus-level dedup can't touch it because the duplicate
    never leaves the row). Zero shuffle, pure SQL HOFs: sentence split
    on terminal punctuation followed by whitespace (a Java-regex
    lookbehind here; the RE2-bound DuckDB oracle replays the identical
    boundary lookbehind-free by rewriting '([.!?])\\s+' to a sentinel
    and splitting on it), then an index-of filter keeps a sentence
    only where array_position finds its first copy.

    ``min_len``: sentences shorter than this many chars are exempt
    from dedup (abbreviation fragments like 'No.' repeat legitimately).
    Cost is O(n_sentences^2) comparisons per row in codegen — bounded
    by document length, embarrassingly parallel, no state."""
    t = F.col(text) if isinstance(text, str) else text
    sents = F.filter(
        F.transform(F.split(t, r"(?<=[.!?])\s+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    sents = let_col(
        sents,
        lambda ss: F.filter(
            ss,
            lambda s, i: (F.length(s) < min_len)
            | (F.array_position(ss, s) == i + 1),
        ),
    )
    return F.array_join(sents, " ")


# ---------------------------------------------------- term blocklist


def term_filter(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    keep: bool = False,
    flag_name: str = "blocked",
) -> DataFrame:
    """C4-style "bad words" content gate (Raffel et al. 2020 §2.2,
    public): a document is blocked when ANY whitespace token equals a
    blocklist term (case-insensitive whole-token match — the C4 rule,
    not substring match, so 'class' never trips a 'lass' entry).

    ``keep=False`` (default) drops blocked documents; ``keep=True``
    instead returns every row with a boolean ``flag_name`` column for
    audit counts.

    Scale shape: the blocklist rides along as an array literal in the
    plan (broadcast-by-value, no join, no shuffle); the token scan is
    one ``arrays_overlap`` inside whole-stage codegen. At 100 TB this
    is a pure narrow map over the corpus — the blocklist (thousands of
    terms) stays far below literal-size limits; for 10^6+ term lists
    switch to a broadcast-join on exploded tokens instead.

    Reference scope: DS4SD/docling-eval has no corpus content filter
    (its filters are label/status gates, e.g. docling_eval/cli/main.py
    dataset filtering); C4 parity is pipeline capability beyond the
    reference surface.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    lowered = sorted({t.lower() for t in terms})
    hit = F.coalesce(
        F.arrays_overlap(
            F.transform(tokens_col(text_col), lambda x: F.lower(x)),
            F.array(*[F.lit(t) for t in lowered]),
        ),
        F.lit(False),  # NULL text has no tokens -> never blocked
    )
    if keep:
        return df.withColumn(flag_name, hit)
    return df.filter(~hit)


def distinct_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "lang",
    quant: int = 1_000_000,
) -> DataFrame:
    """Corpus lexical-diversity rollup per ``key_col``: ``(key,
    n_tokens, n_bigrams, distinct_unigrams, distinct_bigrams,
    distinct1_micro, distinct2_micro)`` — the distinct-n diversity
    ratios of Li et al. 2016 (arXiv:1510.03055 §5, "A
    Diversity-Promoting Objective"), the standard corpus-level check
    that a filtered/deduplicated training mix has not collapsed into
    template text (low distinct-2 = boilerplate-heavy shard).

    Ratios are integer micro-units (``(1e6·distinct) div total``) —
    no float aggregation, exact in any engine/partitioning. Tokens are
    lowercased whitespace tokens (the corpus-stats convention used by
    ``vocab_stats``); bigrams join adjacent tokens with ``\\x01`` so a
    token containing a space-free separator cannot alias a pair.

    Scale shape: ONE explode per n-gram order feeding a two-level hash
    agg — ``(key, gram)`` map-side-combined counts, then a slim
    ``(key)`` rollup of ``count(*)``/``sum``; no count-distinct window,
    no row ever wider than (key, gram). Totals ride the same tf rows,
    so each order costs exactly one shuffle of its distinct grams."""
    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))
    base = df.select(F.col(key_col).alias("key"), toks.alias("t"))

    def rollup(grams: Column, total_name: str, dist_name: str) -> DataFrame:
        tf = (
            base.select("key", F.explode(grams).alias("g"))
            .groupBy("key", "g")
            .agg(F.count("*").alias("tf"))
        )
        return tf.groupBy("key").agg(
            F.sum("tf").alias(total_name), F.count("*").alias(dist_name)
        )

    bigrams = F.zip_with(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit("\x01"), b),
    )
    u = rollup(F.col("t"), "n_tokens", "distinct_unigrams")
    b = rollup(bigrams, "n_bigrams", "distinct_bigrams")
    return (
        u.join(b, "key", "left")
        .select(
            F.col("key").alias(key_col),
            "n_tokens",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "distinct_unigrams",
            F.coalesce("distinct_bigrams", F.lit(0)).alias("distinct_bigrams"),
            F.expr(f"({quant} * distinct_unigrams) div n_tokens").alias(
                "distinct1_micro"
            ),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                F.expr(
                    f"({quant} * coalesce(distinct_bigrams, 0))"
                    " div coalesce(n_bigrams, 1)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("distinct2_micro"),
        )
    )


def cdc_chunks_py(
    text: str, k: int = 16, divisor: int = 64
) -> list[tuple[int, int]]:
    """Pure-Python twin of :func:`cdc_chunk_table` (same normalization,
    rolling hash, boundary rule): returns [(start, end)] 1-based
    inclusive char spans over the normalized text. Used by the
    property suite (hypothesis invariants over arbitrary inputs) and
    as the single-process parity reference."""
    import re as _re

    norm = _re.sub(r"[ \t\n\r\f\v]+", " ", text).strip(" ")
    n = len(norm)
    if n == 0:
        return []
    if n < k:
        starts = [1]
    else:
        starts = list(range(1, n - k + 2))
    cuts = []
    for i in starts:
        acc = 0
        for ch in norm[i - 1 : i - 1 + k]:
            acc = (acc * _FP_BASE + ord(ch)) % _FP_MOD
        if acc % divisor == 0:
            e = i + k - 1
            if e < n:
                cuts.append(e)
    ends = cuts + [n]
    spans = []
    prev = 0
    for e in ends:
        spans.append((prev + 1, e))
        prev = e
    return spans


# ---------------------------------------------------------------------
# Jensen–Shannon domain drift (corpus-mixing diagnostic)


def js_drift(
    df,
    group_col: str = "source",
    text_col: str = "text",
) -> "DataFrame":
    """Per-group Jensen–Shannon divergence (nats, integer micro units)
    between the group's unigram distribution and the REST of the
    corpus — the standard domain-drift / mixture-shift diagnostic for
    training-data pipelines (cf. the distributional checks in CCNet /
    The Pile data cards).

    Math: with p_t = a_t/A (group), q_t = b_t/B (rest of corpus),
    m = (p+q)/2,  JS = ½·Σ p ln(p/m) + ½·Σ q ln(q/m)
    and p/m = 2·a_t·B / (a_t·B + b_t·A) — a ratio of exact BIGINTs,
    so each token's log factor is computed from identical doubles in
    any engine and quantized to micro-nats BEFORE the sum (the
    char_entropy precedent); the two Σ are BIGINT sums (order-free)
    and the final division is integer —
    ``S1 DIV 2A + (S2 + (B − Σ_present b)·ln2_micro) DIV 2B``
    (separate divisions so nothing approaches BIGINT range even at
    large A·B; the second term folds the closed-form ln 2 mass of
    tokens absent from the group). Bounded by ln 2 ≈ 693147
    micro-nats. A single-group corpus (empty rest) emits 0.

    Scale shape: ONE token explode → (group, token) count agg
    (map-side combinable) → token-keyed join against the global token
    counts (derived from the same aggregate, re-aggregated — no second
    corpus pass) → per-group sum. Shuffles are keyed by token and by
    group only; no all-pairs anything.
    """
    toks = tokens_col(text_col)
    tok = df.select(
        F.col(group_col).alias("__g"), F.explode(toks).alias("__t")
    )
    per_gt = tok.groupBy("__g", "__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    ).persist()
    glob = per_gt.groupBy("__t").agg(F.sum("a").cast("bigint").alias("tot"))
    totals = per_gt.groupBy("__g").agg(F.sum("a").cast("bigint").alias("A"))
    corpus_total = totals.agg(F.sum("A").cast("bigint").alias("T"))

    # glob/totals derive from per_gt: qualify every reference through
    # explicit aliases so the self-join lineage never resolves "a" or
    # "__g" ambiguously
    j = (
        per_gt.alias("p")
        .join(glob.alias("gl"), F.col("p.__t") == F.col("gl.__t"))
        .join(
            F.broadcast(totals.alias("tt")),
            F.col("p.__g") == F.col("tt.__g"),
        )
        .crossJoin(F.broadcast(corpus_total))
        .select(
            F.col("p.__g").alias("__g"),
            F.col("p.a").alias("a"),
            (F.col("gl.tot") - F.col("p.a")).cast("bigint").alias("b"),
            F.col("tt.A").alias("ga"),
            (F.col("T") - F.col("tt.A")).cast("bigint").alias("gb"),
        )
        # gb = 0 (single-group corpus) would feed ln(0) → −inf, which
        # ANSI-errors on the bigint cast even in untaken branches:
        # drop those rows here and re-attach the group via the totals
        # left-join below
        .filter(F.col("gb") > 0)
    )
    # token present in the group: a > 0 always here; the b = 0 case
    # (token exclusive to the group) has q = 0 → its q-side term is 0
    # and p/m = 2 exactly.
    la = F.round(
        F.log(
            2.0 * (F.col("a") * F.col("gb")).cast("double")
            / (F.col("a") * F.col("gb") + F.col("b") * F.col("ga")).cast("double")
        )
        * 1_000_000.0
    ).cast("bigint")
    lb = F.when(
        F.col("b") > 0,
        F.round(
            F.log(
                2.0 * (F.col("b") * F.col("ga")).cast("double")
                / (F.col("a") * F.col("gb") + F.col("b") * F.col("ga")).cast("double")
            )
            * 1_000_000.0
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))

    per_g = j.groupBy("__g", "ga", "gb").agg(
        F.sum(F.col("a") * la).cast("bigint").alias("s1"),
        F.sum(F.col("b") * lb).cast("bigint").alias("s2"),
        F.sum("b").cast("bigint").alias("sb"),
    )
    # tokens ABSENT from the group but present in the rest contribute
    # q·ln(q/m) with p = 0 → ln(q/m) = ln 2 exactly: their total mass
    # is (B − Σ_present b)/B, so the whole tail folds in closed form —
    # no anti-join, no second pass.
    ln2_micro = 693147  # round(1e6·ln 2)
    # each Σ is a scaled KL(·‖M) ≥ 0; clamp at 0 so micro quantization
    # slack can never push it negative (where Spark DIV truncates but
    # DuckDB // floors)
    scored = per_g.select(
        "__g",
        (
            F.expr("greatest(s1, CAST(0 AS BIGINT)) DIV (2 * ga)")
            + F.expr(
                f"greatest(s2 + (gb - sb) * {ln2_micro}, "
                f"CAST(0 AS BIGINT)) DIV (2 * gb)"
            )
        ).cast("bigint").alias("js_micro"),
    )
    return (
        totals.alias("t0")
        .join(scored.alias("s0"), F.col("t0.__g") == F.col("s0.__g"), "left")
        .select(
            F.col("t0.__g").alias(group_col),
            F.col("t0.A").alias("n_tokens"),
            F.coalesce(F.col("s0.js_micro"), F.lit(0).cast("bigint")).alias(
                "js_micro"
            ),
        )
    )


# ---------------------------------------------------------------------
# PMI collocations


def pmi_collocations(
    df,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> "DataFrame":
    """Top-k collocations by pointwise mutual information (Church &
    Hanks 1990) over adjacent token bigrams:

      PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) )
               = ln( c_ab · T² / (B · c_a · c_b) )

    with c_ab/B the bigram frequency and c_a/T, c_b/T the unigram
    frequencies. Both products are exact BIGINTs; their double
    conversions and the ln are identical across engines, and the
    score is quantized to micro-nats (the repo convention). Bigrams
    below ``min_count`` are dropped (PMI's classic low-count noise).

    Scale shape: ONE token explode feeds BOTH count tables (bigrams
    via zip_with against the array tail — no second pass over text);
    the only shuffles are the two keyed count aggregates and the two
    token-keyed joins of bigram counts against unigram counts; top-k
    is TakeOrderedAndProject. No driver state, no cross join.
    """
    toks = tokens_col(text_col)
    base = df.select(toks.alias("__t")).persist()

    uni = (
        base.select(F.explode("__t").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("t_tot"))

    bigrams = base.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                F.slice(
                    F.col("__t"),
                    2,
                    F.greatest(F.size("__t") - 1, F.lit(0)),
                ),
                lambda a, b: F.struct(a.alias("ga"), b.alias("gb")),
            )
        ).alias("bg")
    ).select(F.col("bg.ga").alias("ga"), F.col("bg.gb").alias("gb"))
    bi = (
        bigrams.groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    b_tot = bigrams.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("b_tot"))

    j = (
        bi.join(uni.select(F.col("g").alias("ga"), F.col("c").alias("c_a")), "ga")
        .join(uni.select(F.col("g").alias("gb"), F.col("c").alias("c_b")), "gb")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(b_tot))
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab") * F.col("t_tot") * F.col("t_tot")).cast("double")
            / (F.col("b_tot") * F.col("c_a") * F.col("c_b")).cast("double")
        )
        * 1_000_000.0
    ).cast("bigint")
    return (
        j.select("ga", "gb", "c_ab", pmi.alias("pmi_micro"))
        .orderBy(F.col("pmi_micro").desc(), "ga", "gb")
        .limit(k)
    )
