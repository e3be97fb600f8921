"""Deterministic per-epoch corpus shuffle keys and their order digest.

A training run wants each epoch to visit the corpus in a different —
but reproducible — order, materialized as N shard files whose row order
IS the training order. The classic failure mode at 100 TB is a global
``orderBy(rand())``: a full range-partitioned sort of every byte, with
a nondeterministic key that breaks retry/resume semantics.

The shape this module keys: ONE hash shuffle and zero global sorts.

- shuffle key = portable Horner hash of ``"{id}:{epoch}"`` — the
  repo-wide :func:`~docling_eval_spark.operators.text_analysis
  .horner_fold` family every DuckDB oracle replays. Deterministic per
  (id, epoch): a failed task recomputes the identical order, and two
  epochs are two independent-looking permutations.
- shard = key mod num_shards; ``repartition(num_shards, shard)`` is the
  single exchange, then ``sortWithinPartitions(key, id)`` orders each
  shard locally — per-shard sorts, never a cluster-wide range sort.
- ``epoch_shard_stats`` digests each shard's order (the registry's
  ``epoch_shards`` query, gated by its DuckDB oracle).

Reference scope: DS4SD/docling-eval has no training-order or sharded
writer code (its dataset builders write pandas batches single-process,
e.g. dataset_builder save paths); this is pipeline capability beyond
the reference surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from docling_eval_spark.operators.text_analysis import (
    _FP_MOD,
    portable_char_hash,
)


def epoch_key_col(id_col: Column, epoch: int, mod: int = _FP_MOD) -> Column:
    """Deterministic shuffle key for one (id, epoch) pair."""
    return portable_char_hash(
        F.concat(id_col.cast("string"), F.lit(f":{epoch}")), mod
    )


def epoch_shard_stats(
    df: DataFrame,
    id_col: str,
    epoch: int,
    num_shards: int,
    mod: int = _FP_MOD,
) -> DataFrame:
    """Order-evidence manifest per shard: ``(shard, n_docs, min_key,
    max_key, first_id, last_id, order_digest)``.

    ``order_digest = sum(pos * (key mod M)) mod M`` over rows in
    training order is permutation-sensitive — swapping any two rows
    with distinct keys changes it — so an oracle that replays the hash
    and the (key, id) ordering gates the ENTIRE epoch order, not just
    membership. The rank window sorts per shard, which is the same
    local sort the writer performs anyway."""
    keyed = df.select(
        F.col(id_col).alias("id"),
        epoch_key_col(F.col(id_col), epoch, mod).alias("k"),
    ).withColumn("shard", F.pmod(F.col("k"), F.lit(num_shards)).cast("int"))
    w = Window.partitionBy("shard").orderBy("k", "id")
    pos = keyed.withColumn("pos", F.row_number().over(w))
    return (
        pos.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
            F.min_by("id", "pos").alias("first_id"),
            F.max_by("id", "pos").alias("last_id"),
            F.pmod(
                F.sum(F.pmod(F.col("pos") * F.col("k"), F.lit(mod))),
                F.lit(mod),
            )
            .cast("long")
            .alias("order_digest"),
        )
    )


# -------------------------------------------------- importance resampling


def dsir_bucket_weights(
    df: DataFrame,
    text_col: str,
    target_pred: Column,
    buckets: int = 512,
    alpha: int = 1,
) -> DataFrame:
    """(bucket, w_micro): hashed-unigram importance weights — the
    model-fitting half of Data Selection via Importance Resampling
    (DSIR, Xie et al. 2023, public): estimate target and raw token
    distributions over ``buckets`` hash buckets and emit the per-bucket
    log-likelihood ratio ln(p_target/p_raw), Laplace-smoothed by
    ``alpha``.

    Integer-exact quantization, same rule as tf·idf's idf_micro: the
    ratio is ONE double division of two exact integer products,
    ln-quantized ONCE per bucket to BIGINT micro-nats — doc scores are
    then pure integer sums, reproducible bit-for-bit in the DuckDB
    oracle ([[round4-state]] rule: never hash a float quotient that
    was accumulated across rows/engines; a single ln(int/int) per
    bucket is the sanctioned shape).

    Scale shape: ONE corpus pass — a single explode + hash agg on the
    bucket key computes raw and target counts together (the target
    count is a conditional sum, not a second scan); the totals ride
    back via a broadcast of the 1-row agg. Output is at most
    ``buckets`` rows — always broadcastable to the scorer. Buckets no
    token hashes into are omitted: their smoothed weight is well-
    defined but unreachable (no token can ever look one up).
    """
    toks = F.transform(
        F.filter(F.split(F.trim(F.col(text_col)), r"[ \t\n\r\f\v]+"), lambda x: x != ""),
        lambda x: F.lower(x),
    )
    tok = df.select(
        target_pred.cast("long").alias("is_t"), F.explode(toks).alias("tok")
    ).select(
        "is_t",
        F.pmod(portable_char_hash(F.col("tok")), F.lit(buckets)).cast("int").alias("bucket"),
    )
    counts = tok.groupBy("bucket").agg(
        F.count("*").alias("c_raw"), F.sum("is_t").alias("c_tgt")
    )
    totals = counts.agg(
        F.sum("c_raw").alias("tot_raw"), F.sum("c_tgt").alias("tot_tgt")
    )
    a, b = int(alpha), int(buckets)
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                (
                    (F.col("c_tgt") + F.lit(a)) * (F.col("tot_raw") + F.lit(a * b))
                ).cast("double")
                / (
                    (F.col("c_raw") + F.lit(a)) * (F.col("tot_tgt") + F.lit(a * b))
                ).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("w_micro"),
    )


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    buckets: int = 512,
) -> DataFrame:
    """(id, n_tokens, score_micro): per-document DSIR importance score
    = Σ w_micro[bucket(token)] over token occurrences (BIGINT-exact).
    Zero-token documents score 0 (they carry no evidence either way).

    Scale shape: second corpus pass — explode + broadcast join against
    the ≤``buckets``-row weight table + per-doc hash agg keyed on the
    document id. No shuffle touches the weight side; the per-doc agg
    is the one exchange."""
    toks = F.transform(
        F.filter(F.split(F.trim(F.col(text_col)), r"[ \t\n\r\f\v]+"), lambda x: x != ""),
        lambda x: F.lower(x),
    )
    tok = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok")).select(
        "id",
        F.pmod(portable_char_hash(F.col("tok")), F.lit(buckets)).cast("int").alias("bucket"),
    )
    per_doc = (
        tok.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(F.count("*").alias("n_tokens"), F.sum("w_micro").alias("score_micro"))
    )
    spine = df.select(F.col(id_col).alias("id"))
    return spine.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("score_micro", F.lit(0)).cast("long").alias("score_micro"),
    )


def dsir_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
    k: int,
    buckets: int = 512,
    alpha: int = 1,
) -> DataFrame:
    """Top-``k`` documents by DSIR importance score (ties broken by id
    ascending — fully deterministic): the data-selection step that
    picks raw-corpus documents most target-like for training. The
    final top-k is a TakeOrderedAndProject (per-partition heaps + one
    k-row merge at the driver), never a global sort."""
    w = dsir_bucket_weights(df, text_col, target_pred, buckets, alpha)
    s = dsir_scores(df, id_col, text_col, w, buckets)
    return s.orderBy(F.col("score_micro").desc(), F.col("id").asc()).limit(k)


# ---------------------------------------------------- span corruption


def span_corrupt(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block: int = 20,
    span: int = 3,
) -> DataFrame:
    """(id, n_tokens, n_masked, input_text, target_text): T5-style
    span-corruption data prep (Raffel et al. 2020 §3.1.4, public) —
    mask one ``span``-token span per ``block`` consecutive tokens
    (≈ span/block corruption rate; 3/20 = T5's 15 %), replace each
    masked span in the input with a sentinel token and emit the
    dropped tokens after their sentinel as the target sequence.

    DETERMINISTIC, no RNG: the span offset inside block ``b`` of
    document ``id`` is ``horner(id:b) mod (block - span + 1)`` — the
    repo's portable hash family, so every engine (and the DuckDB
    oracle) reproduces the identical corruption, and a retried task
    regenerates byte-identical training rows. A trailing partial
    block too short for a full span is left unmasked. Sentinels are
    ``<extra_id_B>`` keyed by block index (documented deviation from
    T5's consecutively-numbered sentinels: per-block numbering needs
    no cross-block scan and is equally learnable).

    Scale shape: zero shuffle — pure per-row column algebra (tokenize
    once, one HOF transform over blocks, two flattens); the hot loop
    never leaves whole-stage codegen."""
    from docling_eval_spark.functions import let_col
    from docling_eval_spark.operators.text_analysis import (
        portable_char_hash,
        tokens_col,
    )

    if span >= block:
        raise ValueError("span must be < block")
    width = block - span + 1
    idc = F.col(id_col)

    def over_toks(tk: Column) -> Column:
        n = F.size(tk)
        blocks = F.when(
            n > 0, F.sequence(F.lit(0), F.floor((n - 1) / block).cast("int"))
        ).otherwise(F.array().cast("array<int>"))

        def parts(b: Column) -> Column:
            base = b * block  # 0-based start of this block
            blen = F.least(n - base, F.lit(block))
            btoks = F.slice(tk, base + 1, block)
            off = F.pmod(
                portable_char_hash(
                    F.concat(idc.cast("string"), F.lit(":"), b.cast("string"))
                ),
                F.lit(width),
            ).cast("int")
            fits = blen >= off + span
            sentinel = F.concat(
                F.lit("<extra_id_"), b.cast("string"), F.lit(">")
            )
            inp = F.when(
                fits,
                F.concat(
                    F.slice(btoks, 1, off),
                    F.array(sentinel),
                    # slice() errors on negative length under ANSI;
                    # clamp via greatest for spans ending at blen
                    F.slice(
                        btoks,
                        off + span + 1,
                        F.greatest(blen - (off + span), F.lit(0)),
                    ),
                ),
            ).otherwise(F.slice(btoks, 1, blen))
            tgt = F.when(
                fits,
                F.concat(F.array(sentinel), F.slice(btoks, off + 1, span)),
            ).otherwise(F.array().cast("array<string>"))
            return F.struct(inp.alias("i"), tgt.alias("t"))

        made = F.transform(blocks, parts)
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.array_join(
                F.flatten(F.transform(made, lambda p: p["i"])), " "
            ).alias("input_text"),
            F.array_join(
                F.flatten(F.transform(made, lambda p: p["t"])), " "
            ).alias("target_text"),
        )

    out = df.select(
        idc.alias("id"), let_col(tokens_col(text_col), over_toks).alias("r")
    )
    n_masked = (
        F.size(F.split(F.col("r.target_text"), " "))
        - F.size(
            F.filter(
                F.split(F.col("r.target_text"), " "),
                lambda x: x.startswith("<extra_id_"),
            )
        )
    )
    return out.select(
        "id",
        F.col("r.n_tokens").alias("n_tokens"),
        F.when(F.col("r.target_text") == "", F.lit(0))
        .otherwise(n_masked)
        .cast("long")
        .alias("n_masked"),
        F.col("r.input_text").alias("input_text"),
        F.col("r.target_text").alias("target_text"),
    )


# ---------------------------------------------------- MLM masking


def mlm_mask(
    df: DataFrame,
    id_col: str,
    vocab: list[str],
    text_col: str = "text",
    rate_pct: int = 15,
) -> DataFrame:
    """(id, n_tokens, n_selected, masked_text, labels): BERT-style
    masked-LM data prep (Devlin et al. 2018 §3.1, public) — select
    ``rate_pct`` % of whitespace tokens; of those, 80 % become
    ``[MASK]``, 10 % a "random" vocab token, 10 % stay unchanged.
    ``labels`` records the selected positions as ``pos:token`` pairs
    (1-based), space-joined — the prediction targets.

    DETERMINISTIC, no RNG: every decision derives from the portable
    Horner hash of ``"{id}:{pos}"`` — selection from ``h mod 100``,
    the 80/10/10 branch from ``(h div 100) mod 10``, the replacement
    vocab index from ``(h div 1000) mod |vocab|`` — so retried tasks
    regenerate byte-identical rows and the DuckDB oracle replays every
    choice. The vocab (a tokenizer's, thousands of entries) rides as a
    closure constant; the operator is a zero-shuffle narrow map.

    Tokenization stays JVM-side; the position-hash fold is vectorized
    by digit count (the ``"{id}:"`` prefix hash is one scalar per doc,
    positions sharing a digit count fold their decimal digits in d
    numpy steps) and every decision is exact int64 arithmetic
    (``floor(h/100)`` over an exactly-representable double equals
    integer ``h div 100`` — h < 2³¹ ≪ 2⁵³). Ids and positions render
    as ASCII digits, so Python ``str()``/``ord`` match the engine's
    cast/``ascii``. Tier-1 checks it value-exact against the
    ``mlm_mask`` oracle on the sf0.001 corpus plus edge rows."""
    if not vocab:
        raise ValueError("vocab must be non-empty")
    if not 0 < rate_pct <= 100:
        raise ValueError("rate_pct must be in (0, 100]")

    import pyspark.sql.types as T

    from docling_eval_spark.operators.text_analysis import tokens_col

    base, p = 1_000_003, (1 << 31) - 1
    v = len(vocab)
    proj = df.select(
        F.col(id_col).alias("__oid"),
        F.col(id_col).cast("string").alias("__id"),
        tokens_col(text_col).alias("__toks"),
    )
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, True),
            T.StructField("n_tokens", T.LongType(), True),
            T.StructField("n_selected", T.LongType(), False),
            T.StructField("masked_text", T.StringType(), False),
            T.StructField("labels", T.StringType(), False),
        ]
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            nt_out, ns_out, mt_out, lb_out = [], [], [], []
            for sid, toks in zip(pdf["__id"], pdf["__toks"]):
                if toks is None:
                    # NULL text: NULL n_tokens, empty joins
                    nt_out.append(None)
                    ns_out.append(0)
                    mt_out.append("")
                    lb_out.append("")
                    continue
                n = len(toks)
                nt_out.append(n)
                if n == 0:
                    ns_out.append(0)
                    mt_out.append("")
                    lb_out.append("")
                    continue
                # prefix hash of "{id}:" — one scalar per doc
                hp = 0
                for ch in sid + ":":
                    hp = (hp * base + ord(ch)) % p
                # fold the decimal digits of each 1-based position,
                # vectorized per digit-count group
                pos = np.arange(1, n + 1, dtype=np.int64)
                h0 = np.empty(n, dtype=np.int64)
                lo = 1
                d = 1
                while lo <= n:
                    hi = min(n, 10**d - 1)
                    seg = pos[lo - 1 : hi]
                    h = np.full(seg.shape, hp, dtype=np.int64)
                    for k in range(d - 1, -1, -1):
                        digit = (seg // (10**k)) % 10 + 48
                        h = (h * base + digit) % p
                    h0[lo - 1 : hi] = h
                    lo = 10**d
                    d += 1
                # Horner hashes of consecutive positions are
                # consecutive integers (only the last digit changes),
                # which would turn `mod 100` selection into runs of
                # adjacent masked tokens. One modular squaring breaks
                # the affinity; h0 < 2^31 so h0*h0 fits an int64.
                h = (h0 * h0) % p
                selected = (h % 100) < rate_pct
                branch = (h // 100) % 10
                repl_idx = (h // 1000) % v
                out_toks = list(toks)
                labels = []
                for i in np.flatnonzero(selected):
                    tok = toks[i]
                    labels.append(f"{i + 1}:{tok}")
                    b = branch[i]
                    if b < 8:
                        out_toks[i] = "[MASK]"
                    elif b == 8:
                        out_toks[i] = vocab[repl_idx[i]]
                ns_out.append(len(labels))
                mt_out.append(" ".join(out_toks))
                lb_out.append(" ".join(labels))
            yield pd.DataFrame(
                {
                    "id": pdf["__oid"],
                    "n_tokens": nt_out,
                    "n_selected": ns_out,
                    "masked_text": mt_out,
                    "labels": lb_out,
                }
            )

    return proj.mapInPandas(kernel, out_schema)


# ---------------------------------------------------- fill-in-middle


def fim_transform(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    fim_pct: int = 50,
    min_tokens: int = 4,
) -> DataFrame:
    """(id, n_tokens, fim_applied, output_text): fill-in-the-middle
    data prep (Bavarian et al. 2022, public) in PSM order — a
    ``fim_pct`` % deterministic subset of documents is rewritten as
    ``<fim_prefix> P <fim_suffix> S <fim_middle> M`` where (P, M, S)
    is a token-level split of the document; the rest (and documents
    shorter than ``min_tokens``) pass through unchanged, so the
    transform is exactly the paper's joint FIM+AR training mix.

    DETERMINISTIC, no RNG: the apply decision and both split points
    come from the squared Horner hash of ``"{id}:fim{k}"`` (squaring
    for the same adjacent-key reason as :func:`mlm_mask`); the two
    cut points are drawn independently and sorted, giving the
    uniform-over-ordered-pairs split of the paper. Zero shuffle, no
    Python in the plan; the oracle replays every cut."""
    from docling_eval_spark.functions import let_col
    from docling_eval_spark.operators.text_analysis import (
        portable_char_hash,
        tokens_col,
    )

    if not 0 <= fim_pct <= 100:
        raise ValueError("fim_pct must be in [0, 100]")
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2")
    idc = F.col(id_col)
    mod = (1 << 31) - 1

    def h(k: str) -> Column:
        h0 = portable_char_hash(
            F.concat(idc.cast("string"), F.lit(":fim" + k))
        )
        return F.pmod(h0 * h0, F.lit(mod))

    def over_toks(tk: Column) -> Column:
        n = F.size(tk)
        apply_fim = (F.pmod(h("apply"), F.lit(100)) < fim_pct) & (
            n >= min_tokens
        )
        # two independent cut points in [1, n-1] (token-boundary
        # indices: prefix = tokens[1..a], middle = (a..b], suffix =
        # (b..n]), sorted so a <= b
        c1 = (F.pmod(h("c1"), (n - 1).cast("long")) + 1).cast("int")
        c2 = (F.pmod(h("c2"), (n - 1).cast("long")) + 1).cast("int")
        a, b = F.least(c1, c2), F.greatest(c1, c2)
        joined = F.concat(
            F.lit("<fim_prefix> "),
            F.array_join(F.slice(tk, 1, a), " "),
            F.lit(" <fim_suffix> "),
            F.array_join(F.slice(tk, b + 1, F.greatest(n - b, F.lit(0))), " "),
            F.lit(" <fim_middle> "),
            F.array_join(F.slice(tk, a + 1, b - a), " "),
        )
        return F.struct(
            n.cast("long").alias("n_tokens"),
            apply_fim.alias("fim_applied"),
            F.when(apply_fim, joined)
            .otherwise(F.array_join(tk, " "))
            .alias("output_text"),
        )

    out = df.select(
        idc.alias("id"), let_col(tokens_col(text_col), over_toks).alias("r")
    )
    return out.select(
        "id",
        F.col("r.n_tokens").alias("n_tokens"),
        F.col("r.fim_applied").alias("fim_applied"),
        F.col("r.output_text").alias("output_text"),
    )
