"""Character-trigram language-model quality scoring (CCNet-style
perplexity filtering, Wenzek et al. 2020 — public paper; their KenLM
5-gram word model is re-expressed as a self-trained char-trigram model,
the Spark-native shape: the "model" is one aggregation over the corpus
and scoring is one broadcast join, no external model artifact).

Score: mean conditional log-probability of each character given its
2-char context, ln(c3(abc) / c2(ab)), averaged over the document's
trigrams. Low (very negative) scores mark texts whose character
statistics diverge from the corpus — mojibake, binary spew, exotic
boilerplate — exactly what perplexity filters drop.

Scale shape:
- model build = ONE explode + hash agg over trigrams (map-side
  combining; vocab is bounded by charset³ and in practice tiny
  relative to the corpus), bigram context counts derived FROM the
  trigram table (second tiny agg — no second pass over the corpus);
- scoring = explode + broadcast join against the model (vocab ≪
  corpus → broadcast, zero shuffle on the big side) + per-doc avg.

Engine-exact parity: counts are exact integers; each trigram's
log-prob is quantized to 6 decimals and summed as BIGINT micro-units
(order-independent — the memory-bank convention for cross-engine
float sums), so the DuckDB oracle reproduces scores bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

_WS = r"[ \t\n\r\f\v]+"


def _norm(text_col: str) -> Column:
    return F.trim(F.regexp_replace(F.col(text_col), _WS, " "))


def _grams_of(norm: Column, k: int) -> Column:
    """All k-char windows (with repeats — counts need multiplicity;
    unlike dedup shingles, NOT distinct)."""
    from docling_eval_spark.functions import let_col

    def body(nrm: Column) -> Column:
        n = F.length(nrm)
        idxs = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idxs, lambda i: F.substr(nrm, i, F.lit(k)))

    return let_col(norm, body)


def trigram_model_from_grams(grams: DataFrame) -> DataFrame:
    """The trigram model ``(gram, logp)``, built from an already-exploded
    ``gram`` column — lets the scoring path reuse ONE persisted gram
    frame for both the model aggregation and the scoring join instead
    of exploding the corpus twice."""
    tri = grams.groupBy("gram").agg(F.count("*").alias("c3"))
    ctx = (
        tri.groupBy(F.substring("gram", 1, 2).alias("ctx"))
        .agg(F.sum("c3").alias("c2"))
    )
    return (
        tri.withColumn("ctx", F.substring("gram", 1, 2))
        .join(ctx, "ctx")
        .select(
            "gram",
            F.round(
                F.log(F.col("c3").cast("double") / F.col("c2").cast("double")), 6
            ).alias("logp"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    floor_logp: float = -20.0,
) -> DataFrame:
    """(id, n_grams, lm_micro_sum, lm_score): trigram conditional
    log-prob stats per document under a model trained on ``df``
    itself — the CCNet in-domain setup. Trigrams absent from the model
    score ``floor_logp`` (unseen-event floor; every trigram of ``df``
    is in its own model, so it never fires). Docs shorter than 3
    normalized chars have no trigrams → lm_score NULL, n_grams 0.

    ``lm_micro_sum`` is the BIGINT sum of the 6-decimal-quantized
    logps in micro-nats — exact integer arithmetic, associative, so
    neither partition order nor engine can shift it by an ulp (this is
    the column cross-engine oracles should compare). ``lm_score`` =
    lm_micro_sum / (1e6 · n_grams) is the human-readable mean
    log-prob (raw double; final-digit rounding of a .5-tie quotient is
    engine-dependent, so it stays unrounded).

    The model is force-broadcast — right whenever the trigram vocab is
    small relative to the corpus (ASCII-dominant text: ≤ a few million
    rows); CJK-heavy crawls approach charset³ distinct trigrams."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(_grams_of(_norm(text_col), 3)).alias("gram"),
    )
    # ONE persisted explode feeds both the model aggregation and the
    # scoring join, so the corpus is exploded once
    grams = grams.persist()
    model = F.broadcast(trigram_model_from_grams(grams))
    scored = grams.join(model, "gram", "left").select(
        "id",
        F.coalesce(
            F.col("logp"), F.lit(round(floor_logp, 6))
        ).alias("logp"),
    )
    per_doc = scored.groupBy("id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.round(F.col("logp") * 1e6).cast("long")).alias("lm_micro_sum"),
    )
    spine = df.select(F.col(id_col).alias("id")).distinct()
    return (
        spine.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("lm_micro_sum"), F.lit(0)).cast("long").alias(
                "lm_micro_sum"
            ),
            F.when(
                F.col("n_grams") > 0,
                F.col("lm_micro_sum").cast("double")
                / (F.lit(1e6) * F.col("n_grams")),
            ).alias("lm_score"),
        )
    )
