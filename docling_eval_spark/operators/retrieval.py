"""Retrieval operators: impact-ordered inverted index and BM25 top-k.

The reference repo (DS4SD/docling-eval) has no retrieval surface —
these extend the engine with the search-side primitives a webtext
training-data pipeline needs (corpus indexing for dedup forensics,
query-based quality probes, benchmark-leakage lookups). Algorithms are
textbook-public: champion lists / impact ordering (Manning, Raghavan,
Schütze, *Introduction to Information Retrieval* §7.1.3) and BM25
(Robertson & Spärck Jones probabilistic weighting, the Lucene
``ln(1+(N-df+0.5)/(df+0.5))`` idf variant).

Engine-exact scoring contract (same discipline as
``tfidf_top_terms`` / ``ngram_lm_score``): the only float operation is
the per-term idf ``ln``, quantized ONCE to micro-nats; everything
after is BIGINT arithmetic with integer division, so ranking and
scores reproduce bit-for-bit in any engine and any partitioning.

Scale shape:

- ONE explode + (term, id) hash agg per corpus pass; document
  frequency is derived from the tf rows, so the explode is shuffled
  exactly once (ReusedExchange).
- every per-key top-k goes through :func:`topk_per_key` — an exact
  two-phase salted pruning, so a stopword term (or a stopword query)
  with 10^8 candidate rows never funnels them through one reducer's
  sort.
- the query side of BM25 is broadcast (a query set is human-scale);
  the corpus side shuffles only rows matching some query term.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# ------------------------------------------------------------- top-k


def topk_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    salt_col: str,
    n_salt: int = 16,
    rank_col: str = "rank",
) -> DataFrame:
    """EXACT top-``k`` rows per key, skew-safe: two-phase pruning.

    Phase A ranks within ``(key, salt)`` where salt =
    ``pmod(xxhash64(salt_col), n_salt)`` — each window partition holds
    ~1/n_salt of a hot key's rows. Phase B ranks the ≤ ``n_salt·k``
    survivors per key. Exact, not approximate: deleting rows can only
    *shrink* a remaining row's rank, so every global top-k row is
    top-k within its salt group and survives phase A. The salt hash
    choice therefore never affects the result (it only balances the
    intermediate), which is why the production xxhash64 needs no
    portable oracle twin here.

    ``order_cols`` must be a TOTAL order (callers append a unique id
    as the final tiebreaker) — ``row_number`` under a partial order
    would be partitioning-dependent.
    """
    wa = Window.partitionBy(*key_cols, "__salt").orderBy(*order_cols)
    wb = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salt))
        )
        .withColumn("__ra", F.row_number().over(wa))
        .filter(F.col("__ra") <= k)
        .drop("__ra")
        .withColumn(rank_col, F.row_number().over(wb))
        .filter(F.col(rank_col) <= k)
        .drop("__salt")
    )


# ----------------------------------------------------- inverted index


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k_postings: int = 1000,
    n_salt: int = 16,
) -> DataFrame:
    """``(term, doc_count, id, tf, rank)``: impact-ordered champion-
    list postings (IIR §7.1.3) of the lowercased terms — per term, the
    ``k_postings`` highest-tf documents, rank 1 = highest impact, ties
    broken ``(tf desc, id asc)``. ``doc_count`` is the EXACT document
    frequency over the FULL corpus, computed before the cap — capping trims the posting
    tail, never the collection statistics, so idf computed from this
    index equals idf over the uncapped corpus.

    Scale: one explode + one (term, id) hash agg (map-side combined);
    doc_count derives from the tf rows (the explode shuffles once,
    ReusedExchange serves both consumers); the per-term cap runs
    through the salted :func:`topk_per_key`, so boilerplate/stopword
    terms with corpus-scale posting lists stay off the single-reducer
    path. The doc_count join keys on term — the same key both inputs
    were just shuffled on.
    """
    from docling_eval_spark.operators.text_analysis import tokens_col

    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))
    terms = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
    tf = terms.groupBy("term", "id").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_count"))
    top = topk_per_key(
        tf,
        ["term"],
        [F.col("tf").desc(), F.col("id").asc()],
        k_postings,
        salt_col="id",
        n_salt=n_salt,
    )
    return top.join(dfreq, "term").select("term", "doc_count", "id", "tf", "rank")


# --------------------------------------------------------------- BM25


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 10,
    k1_milli: int = 1200,
    b_milli: int = 750,
    n_salt: int = 16,
) -> DataFrame:
    """``(query_id, id, rank, score_micro)``: top-``k`` documents per
    query under fixed-point BM25. ``queries`` is a small
    ``(query_id, qtext)`` frame; it is collected to a broadcast —
    query sets are human-scale by contract.

    Fixed-point pipeline (every step BIGINT, integer division ``div``
    truncating — operands are all positive so DuckDB's floor ``//``
    agrees, making the whole score oracle-replayable):

    - ``idf_micro = round(ln((2N+2)/(2·df+1)) · 1e6)`` — the Lucene
      idf ``ln(1+(N-df+0.5)/(df+0.5))`` rewritten as one exact
      rational, quantized once per term (the single float op);
    - ``avgdl_milli = (1000·total_tokens) div N`` — corpus scalar;
    - ``norm_milli = (1000-b) + (b·1000·dl) div avgdl_milli``;
    - ``denom_milli = 1000·tf + (k1·norm_milli) div 1000``;
    - ``wf_micro = (tf·(1000+k1)·1_000_000) div denom_milli`` — the
      saturating tf weight, ≤ (1000+k1)·1000 by construction;
    - ``contrib = qtf · (idf_micro·wf_micro) div 1_000_000``;
    - ``score_micro = Σ contrib`` per (query_id, id) — associative
      BIGINT sum, partitioning-invariant.

    Overflow bounds: dl ≤ 2^31 tokens/doc and N ≤ 2^40 docs keep every
    intermediate below 2^63 (worst term ``b·1000·dl`` ≈ 2^51).

    Scale: corpus explodes once, immediately joined to the broadcast
    query-term set — non-matching rows never shuffle; df for query
    terms comes from those same tf rows (exact: the term filter keeps
    every document containing the term); final per-query top-k is the
    salted exact :func:`topk_per_key`, so a stopword query matching
    the whole corpus still ranks without a hot reducer.
    """
    from docling_eval_spark.operators.text_analysis import tokens_col

    qtoks = F.transform(tokens_col("qtext"), lambda x: F.lower(x))
    qterms = (
        queries.select(F.col("query_id"), F.explode(qtoks).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qtf"))
    )

    # tokenize the corpus ONCE: the doc-length table, the corpus
    # scalars, and the term postings all derive from one persisted
    # slim (id, dl) projection + one explode — previously three
    # separate full tokenize passes over the text column
    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))
    tokd = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    dls = tokd.select(
        "id", F.size("__toks").alias("dl")
    ).persist()

    # corpus scalars as a 1-row broadcast frame (no driver collect)
    stats = dls.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tokens")
    ).select(
        "n_docs",
        F.expr("(1000 * total_tokens) div n_docs").alias("avgdl_milli"),
    )

    terms = tokd.select("id", F.explode("__toks").alias("term"))
    cand = terms.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    )
    tf = cand.groupBy("term", "id").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("term_df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dls, "id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_micro",
            F.round(
                F.log((2 * F.col("n_docs") + 2) / (2 * F.col("term_df") + 1))
                * 1e6
            ).cast("long"),
        )
        .withColumn(
            "norm_milli",
            F.lit(1000 - b_milli)
            + F.expr(f"({b_milli} * 1000 * dl) div avgdl_milli"),
        )
        .withColumn(
            "denom_milli",
            F.lit(1000) * F.col("tf")
            + F.expr(f"({k1_milli} * norm_milli) div 1000"),
        )
        .withColumn(
            "wf_micro",
            F.expr(f"(tf * {1000 + k1_milli} * 1000000) div denom_milli"),
        )
        .join(F.broadcast(qterms), "term")
        .withColumn(
            "contrib", F.expr("qtf * ((idf_micro * wf_micro) div 1000000)")
        )
    )
    scores = scored.groupBy("query_id", "id").agg(
        F.sum("contrib").alias("score_micro")
    )
    top = topk_per_key(
        scores,
        ["query_id"],
        [F.col("score_micro").desc(), F.col("id").asc()],
        k,
        salt_col="id",
        n_salt=n_salt,
    )
    return top.select("query_id", "id", "rank", "score_micro")


# ----------------------------------------------------- hard negatives


def hard_negatives(
    df: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    id_col: str,
    text_col: str = "text",
    k_retrieve: int = 50,
    n_neg: int = 10,
    n_salt: int = 16,
) -> DataFrame:
    """``(query_id, id, neg_rank, score_micro)``: BM25 hard-negative
    mining for contrastive retriever training (the DPR recipe —
    Karpukhin et al. 2020, §3.2): retrieve ``k_retrieve`` candidates
    per query, drop the labeled positives, keep the ``n_neg``
    highest-scoring survivors. High-rank non-positives are the
    informative negatives; random negatives are trivially separable.

    ``positives`` is a ``(query_id, id)`` frame of labeled relevant
    documents. Scale: candidates are ≤ ``k_retrieve`` rows per query
    by construction (post-BM25), so the anti-join and the re-rank
    window are bounded per key regardless of corpus size; all heavy
    lifting (corpus explode, salted top-k) happens inside
    :func:`bm25_topk`. The positives frame joins broadcast — a labeled
    training set is human-scale by contract."""
    from pyspark.sql import Window

    cand = bm25_topk(
        df, queries, id_col, text_col, k=k_retrieve, n_salt=n_salt
    )
    neg = cand.join(
        F.broadcast(positives.select("query_id", "id").distinct()),
        ["query_id", "id"],
        "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= n_neg)
        .select("query_id", "id", "neg_rank", "score_micro")
    )
