"""Distributed BPE merge induction (Sennrich et al. 2016, public).

Byte-pair-encoding tokenizer training is the classic two-scale job:
the CORPUS is huge but is touched exactly once (a word-frequency
count — one shuffle with map-side combine); every merge iteration
after that runs over the WORD table (unique words × frequency), which
is orders of magnitude smaller than the corpus (Heaps' law), so the
sequential part of the algorithm never re-reads the data.

Per merge iteration:

- adjacent symbol pairs are exploded from each word's current symbol
  sequence, weighted by word frequency, and summed (one small shuffle
  with partial aggregation);
- the argmax pair is collected to the driver (ONE row per iteration —
  the merge decision is inherently sequential, exactly as in
  single-node trainers);
- the merge is applied to every word with a greedy leftmost
  non-overlapping pass over its symbol list (an Arrow kernel), and the
  word table is re-persisted so plans never nest across iterations.

Symbols are kept as a single ``\\x1f``-separated string column (the
separator is a control char that the whitespace tokenizer can never
emit inside a token), which makes the merge reproducible bit-for-bit
in any engine — the DuckDB oracle replays every iteration as a string
fold, including the tie-break (freq DESC, then pair lexicographic) and
the ``</w>`` end-of-word marker. Tier-1 checks ``bpe_train`` and
``bpe_encode`` against it on the sf0.001 corpus plus edge rows.

Reference scope: DS4SD/docling-eval contains no tokenizer code (its
tokenization is NLTK word_tokenize inside evaluators, e.g.
docling_eval/evaluators/markdown_text_evaluator.py); tokenizer
training is pipeline capability beyond the reference surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from docling_eval_spark.operators.text_analysis import tokens_col
from docling_eval_spark.session import coalesce_to_rows, local_frame

SEP = "\x1f"
EOW = "</w>"


def word_symbol_table(
    df: DataFrame,
    text_col: str = "text",
    min_freq: int = 1,
) -> DataFrame:
    """(word, freq, s): the lowercased word-frequency table with each
    word's initial symbol string — its characters joined by SEP, with the
    ``</w>`` end-of-word marker as the final symbol.

    This is the only corpus-scale pass: explode + one counting shuffle
    (map-side combine). ``min_freq`` prunes hapax noise at scale
    (documented deviation from classic BPE when > 1)."""
    tok = F.explode(tokens_col(text_col)).alias("word")
    words = df.select(tok).select(F.lower(F.col("word")).alias("word"))
    words = words.groupBy("word").agg(F.count("*").cast("long").alias("freq"))
    if min_freq > 1:
        words = words.filter(F.col("freq") >= min_freq)
    s = F.concat(
        F.lit(SEP),
        F.array_join(F.split(F.col("word"), ""), SEP),
        F.lit(SEP + EOW),
    )
    return words.withColumn("s", s)


def _pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, freq): adjacent-pair frequencies over the word table.

    The per-word pair expansion happens in an Arrow kernel that emits
    PRE-COMBINED per-batch partial counts (a dict per batch — the
    map-side combine an explode shape pays a full exchange of raw
    pairs for); the keyed sum over partials is exact integer
    arithmetic. Python's ``s.split(SEP)`` with empties dropped matches
    the oracle's symbol split — SEP is a regex-inert control char."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("l", T.StringType(), False),
            T.StructField("r", T.StringType(), False),
            T.StructField("freq", T.LongType(), False),
        ]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            acc: dict[tuple[str, str], int] = {}
            for s, freq in zip(pdf["s"], pdf["freq"]):
                sy = [x for x in s.split(SEP) if x != ""]
                f = int(freq)
                for i in range(len(sy) - 1):
                    key = (sy[i], sy[i + 1])
                    acc[key] = acc.get(key, 0) + f
            if acc:
                ks = list(acc.keys())
                yield pd.DataFrame(
                    {
                        "l": [k[0] for k in ks],
                        "r": [k[1] for k in ks],
                        "freq": [acc[k] for k in ks],
                    }
                )

    partial = words.select("s", "freq").mapInPandas(kernel, out_schema)
    return partial.groupBy("l", "r").agg(
        F.sum("freq").cast("long").alias("freq")
    )


def _merge_syms(sy: list[str], left: str, right: str) -> list[str]:
    """Greedy leftmost non-overlapping (left, right) merge over a
    symbol list — the list form of the oracle's string fold, which
    appends the right symbol WITHOUT a separator when the accumulator
    ends in SEP+left. A just-merged symbol never re-merges within the
    pass, exactly like the fold's SEP+left suffix test (the
    accumulator then ends in SEP+left+right)."""
    out: list[str] = []
    i, m = 0, len(sy)
    merged = left + right
    while i < m:
        if i + 1 < m and sy[i] == left and sy[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(sy[i])
            i += 1
    return out


def _apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy leftmost non-overlapping merge of (left, right) in every
    word's symbol string — the exact single-node BPE apply step, run
    over symbol lists in a kernel (:func:`_merge_syms`). The rebuilt
    column is ``SEP + SEP.join(syms)``, the same string the oracle's
    fold builds: a just-merged symbol never re-merges within the
    iteration."""
    import pyspark.sql.types as T

    schema = words.schema

    def kernel(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["s"] = [
                SEP
                + SEP.join(
                    _merge_syms(
                        [x for x in s.split(SEP) if x != ""], left, right
                    )
                )
                for s in pdf["s"]
            ]
            yield pdf

    return words.mapInPandas(kernel, schema)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    merges: int = 8,
    min_freq: int = 1,
) -> DataFrame:
    """(rank, left, right, merged, freq): the first ``merges`` BPE
    merge rules learned from the lowercased corpus, in order. Ties broken
    deterministically: highest freq, then (left, right) lexicographic
    — identical under any partitioning and replayable by the oracle.

    Stops early (fewer rows) if the word table runs out of adjacent
    pairs. The returned merge table IS the tokenizer artifact: apply
    the rules in rank order to encode new text."""
    if merges < 1:
        raise ValueError("merges must be >= 1")
    spark = df.sparkSession
    # the per-iteration frames stay persisted until the END: each
    # nxt's lineage is one _apply_merge over its cached parent, so the
    # parent must outlive nxt's first materialization — which happens
    # inside the NEXT iteration's pair-count collect (ONE job per
    # merge; the old eager count-then-unpersist spent two). The chain
    # holds `merges` vocab-sized frames — small next to any corpus.
    chain = [word_symbol_table(df, text_col, min_freq).persist()]
    # The corpus-scale count leaves the vocab-sized word table spread
    # over corpus-scale shuffle partitions; every one of the `merges`
    # iterations then pays that task count twice (pair-count kernel +
    # merge kernel) on a table that is orders of magnitude smaller
    # (Heaps' law). Size the iteration parallelism from the MEASURED
    # vocabulary.
    words = coalesce_to_rows(chain[0])
    learned: list[tuple[int, str, str, str, int]] = []
    try:
        for rank in range(1, merges + 1):
            top = (
                _pair_counts(words)
                .orderBy(F.desc("freq"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, freq = top[0].l, top[0].r, top[0].freq
            learned.append((rank, l, r, l + r, freq))
            words = _apply_merge(words, l, r).persist()
            chain.append(words)
    finally:
        for fr in chain:
            fr.unpersist()
    return local_frame(
        spark,
        learned,
        "rank int, left string, right string, merged string, freq long",
    )


def bpe_encode(
    df: DataFrame,
    merge_rules: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply learned merge rules (in rank order) to every document,
    adding ``out_col`` as the array of BPE symbols per whitespace
    token (with ``</w>`` markers), flattened across the document.

    Tokenization + lowercasing stay JVM-side; one Arrow-batched kernel
    replays the greedy leftmost non-overlapping merge per rule over
    symbol LISTS, memoized per DISTINCT word within each batch — the
    classic encode trick: a batch's vocabulary is far smaller than its
    token count, so each distinct word pays the rule chain once
    instead of per occurrence. Python list iteration is per code point
    exactly like Spark's ``split('')``, and symbol equality and
    concatenation are locale-free. The ``bpe_fertility`` DuckDB oracle
    replays the encode fold per word; tier-1 checks it value-exact on
    the sf0.001 corpus plus edge rows. The rule list rides as a
    closure constant (tokenizers are a few thousand rules)."""
    import pyspark.sql.types as T

    toks = F.transform(tokens_col(text_col), lambda x: F.lower(x))
    schema = T.StructType(
        list(df.schema.fields)
        # nullable: NULL text → NULL bpe_tokens
        + [T.StructField(out_col, T.ArrayType(T.StringType()), True)]
    )
    cols = list(df.columns)
    rules = list(merge_rules)

    def encode_word(word: str) -> list[str]:
        sy: list[str] = list(word)
        sy.append(EOW)
        for left, right in rules:
            out: list[str] = []
            i, m = 0, len(sy)
            merged = left + right
            while i < m:
                if i + 1 < m and sy[i] == left and sy[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sy[i])
                    i += 1
            sy = out
        return sy

    def kernel(batches):
        for pdf in batches:
            memo: dict[str, list[str]] = {}
            out_rows: list[list[str]] = []
            for words in pdf["__toks"]:
                if words is None:
                    out_rows.append(None)
                    continue
                flat: list[str] = []
                for w in words:
                    enc = memo.get(w)
                    if enc is None:
                        enc = encode_word(w)
                        memo[w] = enc
                    flat.extend(enc)
                out_rows.append(flat)
            out = pdf[cols].copy()
            out[out_col] = out_rows
            yield out

    return df.withColumn("__toks", toks).mapInPandas(
        kernel, schema
    )
