"""Differential tests: each Arrow kernel against its DuckDB oracle,
and the prod-vs-portable hash paths against each other.

The kernel tests run the registry query that exercises a kernel on
Spark and its ``oracle_sql()`` entry on DuckDB over the sf0.001 tables
plus hand edge rows (``conftest.assert_matches_oracle``), then pin the
kernel's edge semantics with literal assertions.

``simhash`` and ``token_ngram_hash_table``/``contamination_check`` each
ship two token-hash modes: the PRODUCTION default (JVM ``xxhash64``)
and a PORTABLE polynomial twin the DuckDB oracle can recompute
bit-for-bit. The oracle gate only ever exercises the portable path;
these tests close the asymmetry by running BOTH paths over the real
sf0.01 documents corpus and asserting the *decisions* agree.

What "agree" means differs by operator:

- contamination: hash-set MEMBERSHIP of exact n-gram matches — a true
  8-gram hit collides in both fields by construction and false hits
  are ~|bench|/field (≤2⁻³¹ per window); the full (id, n_grams,
  n_hits) row set must be identical.
- simhash: an APPROXIMATE sketch — different token-hash functions
  legitimately disagree on borderline Hamming-2/3 pairs (measured at
  sf0.01: 14 pairs common, 3 prod-only, 9 portable-only, every
  disagreement at distance ≥2). The invariants that must hold under
  ANY hash choice: (a) identical normalized text ⇒ Hamming 0 under
  both paths (the converse fails — unrelated docs can coincide on all
  64 majority signs under one hash), and (b) documents that ARE
  near-duplicates by construction (one appended token) pair under
  both paths.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from conftest import EDGE_ID0, assert_matches_oracle

SF_DIR = "/root/testdata/sf0.01"


def test_contamination_prod_portable_same_decisions(spark):
    from docling_eval_spark.operators.text_analysis import contamination_check

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0)

    def run(portable):
        return sorted(
            (r["id"], r["n_grams"], r["n_hits"])
            for r in contamination_check(
                docs, bench, "doc_id", n=8, portable=portable
            ).collect()
        )

    prod, portable = run(False), run(True)
    assert prod == portable
    # the decision is non-trivial on this corpus: the planted benchmark
    # docs are fully covered, others are not all zero or all hit
    full = [r for r in prod if r[1] > 0 and r[1] == r[2]]
    assert len(full) >= len([r for r in prod if r[0] % 50 == 0]) // 2
    assert any(r[2] == 0 for r in prod)


def test_simhash_prod_portable_decision_invariants(spark):
    from docling_eval_spark.operators.dedup import simhash, simhash_near_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    # plant ground-truth near-dups: 20 docs re-issued under new ids
    # with ONE extra token — a one-token edit flips few simhash bits,
    # so BOTH paths must pair each copy with its original
    planted = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zqxj")).alias("text"),
        )
    )
    # and 10 VERBATIM copies — exact duplicates for the d=0 invariant
    exact_copies = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(planted).unionByName(exact_copies)

    def pairs_at(portable, max_hamming):
        sh = simhash(corpus, "doc_id", portable=portable)
        p = simhash_near_pairs(sh, max_hamming=max_hamming)
        return {
            tuple(sorted((r["id_l"], r["id_r"]))) for r in p.collect()
        }

    # one appended token flips |margin|<=1 bits; on the corpus's short
    # docs (11-87 tokens) the measured planted distances reach 8 under
    # both paths, so the ground-truth check runs at d<=10 — the point
    # is BOTH paths make the same "these are near-dups" call, not the
    # web-production d<=3 cutoff (which needs longer documents)
    prod10, port10 = pairs_at(False, 10), pairs_at(True, 10)
    wanted = {(i, i + 1_000_000) for i in range(20)}
    assert wanted <= prod10, sorted(wanted - prod10)
    assert wanted <= port10, sorted(wanted - port10)

    # exact token-sequence duplicates ⇒ Hamming 0 under ANY token
    # hash, so they must appear in BOTH paths' d=0 pair sets. (The d=0
    # sets themselves are NOT hash-invariant: unrelated docs whose 64
    # majority votes happen to share signs collide under one hash but
    # not the other — sign coincidence, not duplication.)
    from docling_eval_spark.operators.dedup import _norm

    by_digest = (
        corpus.select("doc_id", F.md5(_norm("text")).alias("d"))
        .groupBy("d")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .collect()
    )
    exact_pairs = {
        tuple(sorted((a, b)))
        for r in by_digest
        for i, a in enumerate(r["ids"])
        for b in r["ids"][i + 1 :]
    }
    assert exact_pairs, "fixture lost its exact duplicates"
    prod0, port0 = pairs_at(False, 0), pairs_at(True, 0)
    assert exact_pairs <= prod0, sorted(exact_pairs - prod0)[:5]
    assert exact_pairs <= port0, sorted(exact_pairs - port0)[:5]


def test_dup_ngram_prod_portable_same_decisions(spark):
    """dup_ngram_stats decisions are exact-match semantics like
    contamination: a shared 8-gram collides in both hash fields by
    construction, and cross-field false collisions are ~N/field per
    gram — so the full (id, n_grams, n_dup, dup_micro) row set must
    be identical between the prod xxhash64 path and the portable
    polynomial path on the sf0.01 corpus."""
    from docling_eval_spark.operators.text_analysis import dup_ngram_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = lambda p: {  # noqa: E731
        tuple(r) for r in dup_ngram_stats(docs, "doc_id", portable=p).collect()
    }
    prod, port = rows(False), rows(True)
    assert prod == port
    assert any(r[2] > 0 for r in prod), "fixture has no duplicated 8-grams"


def test_shingle_sig_arrow_sql_bit_identical(spark, oracle_dir):
    """The Arrow minhash front half must reproduce the DuckDB oracle's
    SQL bit-for-bit through both minhash queries — same window fold
    ``(acc·B + c) mod p``, same first-occurrence shingle dedup, same
    permutation minima — over sf0.001 plus the edge rows (empty,
    whitespace-only, shorter than k, non-BMP code points)."""
    from docling_eval_spark.operators.dedup import shingle_sig_table

    assert_matches_oracle(spark, oracle_dir, "minhash_pairs")
    assert_matches_oracle(spark, oracle_dir, "minhash_incremental")
    edge = spark.createDataFrame(
        [(90001, ""), (90002, "ab"), (90003, "   "), (90004, "é漢xé漢x test")],
        ["doc_id", "text"],
    )
    by_id = {r.id: r for r in shingle_sig_table(edge, "doc_id").collect()}
    assert by_id[90001].shingles == [] and by_id[90003].shingles == []
    assert len(by_id[90002].shingles) == 1  # one clamped window
    p = (1 << 31) - 1
    assert by_id[90001].signature == [p] * 30  # empty → all-p signature
    assert len(by_id[90004].shingles) > 1


def test_bucket_assign_arrow_sql_bit_identical(spark):
    """The Arrow LSH bucket kernel must agree with the unrolled
    ``bucket_col`` expression twin on every row: the cumsum fold
    reproduces the expression's left-to-right float addition order, so
    the sign bits (and hence bucket ids) are identical."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.similarity import (
        bucket_assign,
        bucket_col,
        hyperplanes,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dim = len(e.select("embedding").first()[0])
    nullrow = spark.createDataFrame(
        [(990002, None)], schema=e.schema
    )  # NULL vector: every twin sign test fails -> bucket 0
    e = e.unionByName(nullrow)
    planes = hyperplanes(dim, 12, seed=7)
    arrow = bucket_assign(e, "embedding", planes).select("vec_id", "bucket")
    sql = e.withColumn("bucket", bucket_col("embedding", planes)).select(
        "vec_id", "bucket"
    )
    a = {r.vec_id: r.bucket for r in arrow.collect()}
    s = {r.vec_id: r.bucket for r in sql.collect()}
    assert a == s and len(a) > 0
    assert len(set(a.values())) > 1  # buckets actually split the corpus


def test_token_ngram_table_arrow_sql_bit_identical(spark, oracle_dir):
    """The Arrow token-n-gram kernel, portable mode, must reproduce the
    DuckDB oracle's SQL through ``dup_ngram_frac`` (per-code-point
    folds including non-BMP code points: Spark's split('')/ascii are
    code-point semantics matching Python ord, probed 𝄞→119070). Prod
    mode (JVM xxhash64 token hashes) has no oracle, so its window fold
    is replayed in Python over Spark's own token hashes. Short-doc
    (< n tokens), empty and NULL texts have no windows."""
    from docling_eval_spark.operators.text_analysis import (
        _FP_BASE,
        _NGRAM_PROD_MOD,
        token_ngram_hash_table,
        tokens_col,
    )

    assert_matches_oracle(spark, oracle_dir, "dup_ngram_frac")
    docs = spark.read.parquet(f"{oracle_dir}/documents.parquet")
    low = F.transform(tokens_col("text"), lambda x: F.lower(x))
    th = F.transform(low, lambda t: F.pmod(F.xxhash64(t), F.lit(_NGRAM_PROD_MOD)))
    want, n = {}, 8
    for r in docs.select("doc_id", th.alias("th")).collect():
        hs, grams = r.th or [], []
        for i in range(len(hs) - n + 1):
            g = 0
            for x in hs[i : i + n]:
                g = (g * _FP_BASE + x) % _NGRAM_PROD_MOD
            grams.append(g)
        want[r.doc_id] = (len(grams), grams)
    prod = token_ngram_hash_table(docs, "doc_id").collect()
    assert {r.id: (r.n_grams, list(r.grams)) for r in prod} == want
    by_id = {r.id: r for r in prod}
    for i in (0, 1, 2, 3):  # "", "ab", whitespace-only, NULL
        assert by_id[EDGE_ID0 + i].n_grams == 0
        assert by_id[EDGE_ID0 + i].grams == []
    assert by_id[EDGE_ID0 + 4].n_grams > 0  # the non-BMP row


def test_cosine_assign_arrow_sql_bit_identical(spark):
    """The Arrow pairwise-cosine kernel must agree bit-for-bit with the
    cosine_col expression twin (cumsum == the expression's left-fold
    addition order; sqrt/divide are single IEEE ops), including the
    zero-norm guard."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.similarity import cosine_assign, cosine_col

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dim = len(e.select("embedding").first()[0])
    zero = spark.createDataFrame(
        [(990001, [0.0] * dim)], ["vec_id", "embedding"]
    )
    e = e.unionByName(zero).unionByName(
        spark.createDataFrame([(990003, None)], schema=e.schema)
    )
    pairs = (
        e.select(F.col("vec_id").alias("id_l"), F.col("embedding").alias("v_l"))
        .crossJoin(
            e.select(
                F.col("vec_id").alias("id_r"), F.col("embedding").alias("v_r")
            ).filter(F.col("id_r") % 7 == 0)
        )
    )
    a = {
        (r.id_l, r.id_r): r.cosine
        for r in cosine_assign(
            pairs, "v_l", "v_r", keep=["id_l", "id_r"]
        ).collect()
    }
    s = {
        (r.id_l, r.id_r): r.cosine
        for r in pairs.select(
            "id_l", "id_r", cosine_col("v_l", "v_r").alias("cosine")
        ).collect()
    }
    assert len(a) == len(s) > 0
    diffs = [k for k in a if a[k] != s[k]]
    assert diffs == []
    zero_pairs = [v for (l_, r_), v in a.items() if l_ == 990001]
    assert zero_pairs and all(v == 0.0 for v in zero_pairs)


def test_bpe_encode_arrow_sql_bit_identical(spark, oracle_dir):
    """The memoized Arrow BPE encoder must reproduce the DuckDB oracle's
    SQL encode fold through ``bpe_fertility`` over sf0.001 plus the
    edge rows; and on hand rows, a left==right rule over a
    repeated-char run (non-overlapping leftmost semantics), multi-rule
    chains where an earlier merge feeds a later rule, and NULL text."""
    from docling_eval_spark.operators.bpe import bpe_encode

    assert_matches_oracle(spark, oracle_dir, "bpe_fertility")
    edge = spark.createDataFrame(
        [
            (90001, "aaa aaaa baaab"),      # left==right runs
            (90002, "the the theology"),    # merged symbol prefix reuse
            (90003, ""),
            (90004, None),
        ],
        ["doc_id", "text"],
    )
    rules = [("a", "a"), ("t", "h"), ("th", "e"), ("e", "</w>")]
    by_id = {
        r.doc_id: r.bpe_tokens
        for r in bpe_encode(edge, rules).select("doc_id", "bpe_tokens").collect()
    }
    assert by_id[90001] == [
        "aa", "a", "</w>", "aa", "aa", "</w>", "b", "aa", "a", "b", "</w>"
    ]
    assert by_id[90002][:2] == ["the", "</w>"]
    assert by_id[90003] == [] and by_id[90004] is None


def test_bpe_train_arrow_sql_identical_rules(spark, oracle_dir):
    """BPE training must learn the IDENTICAL rule sequence (rank, pair,
    merged symbol, frequency) as the DuckDB oracle's unrolled SQL
    iterations — the frequencies are exact integers and the tie-break
    is total, so any divergence is a kernel bug."""
    rules = assert_matches_oracle(spark, oracle_dir, "bpe_merges")
    assert [r[0] for r in rules] == list(range(1, 9))


def test_mlm_mask_arrow_sql_bit_identical(spark, oracle_dir):
    """The Arrow MLM-mask kernel must reproduce every deterministic
    hash decision the DuckDB oracle's SQL replays — selection, 80/10/10
    branch, replacement vocab pick, label positions — byte-for-byte
    across sf0.001 plus the empty/NULL/edge rows."""
    rows = assert_matches_oracle(spark, oracle_dir, "mlm_mask")
    # the masking is non-trivial on this corpus
    assert any(r[2] > 0 for r in rows)
    assert any("[MASK]" in r[3] for r in rows)
