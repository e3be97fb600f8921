"""Product quantization, SemDeDup, hard negatives, diversity stats."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from conftest import assert_matches_oracle

from docling_eval_spark.operators.pq import (
    pq_codebooks,
    pq_encode,
    pq_topk,
)
from docling_eval_spark.operators.similarity import hyperplanes, semantic_dedup


def _embeddings(spark, sf="/root/testdata/sf0.001"):
    return spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )


def test_pq_codebook_shape_and_determinism():
    a = pq_codebooks(64, m=8, n_codes=16, seed=13)
    b = pq_codebooks(64, m=8, n_codes=16, seed=13)
    assert a.shape == (8, 16, 8)
    assert np.array_equal(a, b)
    # subspace codebooks differ (independent seeds)
    assert not np.array_equal(a[0], a[1])


def test_pq_encode_codes_and_recon(spark):
    e = _embeddings(spark)
    cb = pq_codebooks(64, m=8, n_codes=16, seed=13)
    enc = pq_encode(e, cb).collect()
    assert len(enc) == e.count()
    for r in enc[:20]:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
        assert len(r["recon"]) == 64
        # recon is exactly the concatenation of the coded codewords
        want = np.concatenate([cb[j, c] for j, c in enumerate(r["codes"])])
        assert np.array_equal(np.array(r["recon"]), want)
    # encode argmin matches a driver-side recomputation on one row
    row = enc[0]
    vec = np.array(
        e.filter(F.col("vec_id") == row["vec_id"]).first()["embedding"]
    )
    segs = vec.reshape(8, 8)
    for j in range(8):
        d = ((cb[j] - segs[j][None, :]) ** 2).sum(axis=1)
        assert row["codes"][j] == int(np.argmin(d))


def test_pq_adc_matches_fold_path(spark):
    """ADC (asymmetric distance computation) reference: a per-query
    table of segment-codeword inner products, summed over each row's
    codes, must rank the corpus as pq_topk's fold over the
    reconstruction does; scores agree to float-sum-reorder tolerance."""
    e = _embeddings(spark)
    cb = pq_codebooks(64, m=8, n_codes=16, seed=13)
    q = e.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fold = pq_topk(e, q, cb, k=5).collect()
    enc = {r["vec_id"]: r["codes"] for r in pq_encode(e, cb).collect()}
    ids = sorted(enc)
    codes = np.array([enc[i] for i in ids])
    for qr in q.collect():
        lut = np.einsum("ms,mcs->mc", np.array(qr["query_vec"]).reshape(8, 8), cb)
        scores = lut[np.arange(8)[None, :], codes].sum(axis=1)
        adc = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))[:5]
        got = sorted(
            (r["rank"], r["neighbor_id"], r["score"])
            for r in fold
            if r["query_id"] == qr["query_id"]
        )
        assert [n for _, n, _ in got] == [ids[i] for i in adc]
        for (_, _, score), i in zip(got, adc):
            assert abs(score - scores[i]) < 1e-9


def test_semantic_dedup_flags_planted_twins(spark):
    e = _embeddings(spark)
    twins = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    cents = hyperplanes(64, 8, seed=11)
    out = semantic_dedup(e.unionByName(twins), cents, threshold=0.999)
    rows = {r["vec_id"]: r for r in out.collect()}
    n = e.count()
    assert len(rows) == 2 * n
    # every twin has a lower-id near-identical partner -> flagged
    for vid, r in rows.items():
        if vid >= 100000:
            assert r["is_dup"], vid
            # twin lands in the original's cluster (scale invariance)
            assert r["centroid"] == rows[vid - 100000]["centroid"]
    # originals: a row is flagged only if some lower-id original is
    # cosine-close; with gaussian test vectors none reach 0.999
    assert not any(r["is_dup"] for v, r in rows.items() if v < 100000)


def test_semantic_dedup_overflow_cluster_kept_unflagged(spark):
    e = _embeddings(spark).limit(50)
    cents = hyperplanes(64, 8, seed=11)
    # max_cluster=1 -> every cluster overflows -> nothing joined
    out = semantic_dedup(e, cents, threshold=0.0, max_cluster=1)
    rows = out.collect()
    assert len(rows) == 50
    assert not any(r["is_dup"] for r in rows)


def test_hard_negatives_excludes_positives(spark):
    from docling_eval_spark.operators.retrieval import bm25_topk, hard_negatives

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    q = spark.createDataFrame(
        [("q1", "hash join"), ("q2", "slow table scan")],
        ["query_id", "qtext"],
    )
    pos = q.select("query_id").crossJoin(
        d.select(F.col("doc_id").alias("id")).filter(F.col("id") % 5 == 2)
    )
    out = hard_negatives(d, q, pos, "doc_id", k_retrieve=20, n_neg=10).collect()
    assert out
    assert all(r["id"] % 5 != 2 for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    cand = bm25_topk(d, q, "doc_id", k=20).collect()
    cand_rank = {(r["query_id"], r["id"]): r["rank"] for r in cand}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["neg_rank"])
        assert [r["neg_rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 10
        # negatives preserve candidate order after the anti-join
        orig = [cand_rank[(qid, r["id"])] for r in rs]
        assert orig == sorted(orig)


def test_distinct_ngram_stats_hand_case(spark):
    from docling_eval_spark.operators.text_analysis import distinct_ngram_stats

    df = spark.createDataFrame(
        [
            ("en", "a b a"),
            ("en", "a B"),
            ("de", "x"),
            ("de", ""),
            ("fr", None),
        ],
        ["lang", "text"],
    )
    rows = {r["lang"]: r for r in distinct_ngram_stats(df).collect()}
    # en: tokens a,b,a,a,b -> 5 total, 2 distinct; bigrams a^b, b^a, a^b
    en = rows["en"]
    assert en["n_tokens"] == 5
    assert en["distinct_unigrams"] == 2
    assert en["n_bigrams"] == 3
    assert en["distinct_bigrams"] == 2
    assert en["distinct1_micro"] == (1_000_000 * 2) // 5
    assert en["distinct2_micro"] == (1_000_000 * 2) // 3
    # de: one single-token doc + one empty doc -> no bigrams
    de = rows["de"]
    assert de["n_tokens"] == 1 and de["distinct_unigrams"] == 1
    assert de["n_bigrams"] == 0 and de["distinct2_micro"] == 0
    # fr: only NULL text -> no token rows at all -> lang absent
    assert "fr" not in rows


def test_data_card_hand_case(spark):
    from docling_eval_spark.pipelines import data_card

    good = " ".join(
        ["the quick brown fox jumps over the lazy dog to be of and that"]
        * 5
    )
    df = spark.createDataFrame(
        [
            ("en", "web", good),
            ("en", "web", good),          # exact dup
            ("en", "web", "short junk"),  # fails gopher (too few words)
            ("de", "web", good),
        ],
        ["lang", "source", "text"],
    )
    rows = {(r["lang"], r["source"]): r for r in data_card(df).collect()}
    en = rows[("en", "web")]
    assert en["n_docs"] == 3
    assert en["distinct_texts"] == 2
    assert en["dup_rate_micro"] == (1_000_000 * 1) // 3
    assert en["gopher_pass"] == 2
    assert en["gopher_pass_micro"] == (1_000_000 * 2) // 3
    assert en["n_tokens"] == 2 * (14 * 5) + 2
    de = rows[("de", "web")]
    assert de["n_docs"] == 1 and de["dup_rate_micro"] == 0
    assert de["gopher_pass"] == 1


def test_semantic_dedup_grouped_matches_join_engine(spark, oracle_dir):
    """The per-cluster pairwise kernel must be row-identical to the
    DuckDB oracle's centroid-keyed self-join SQL — same clusters, same
    flags — including borderline cosines (the query's ×2-scaled twins
    sit exactly at 1.0, so every twin flags)."""
    rows = assert_matches_oracle(spark, oracle_dir, "semantic_dedup")
    assert all(r[2] for r in rows if r[0] >= 100000)


def test_semantic_dedup_grouped_block_boundaries(spark):
    """The blocked pairwise sweep must be flag-identical across block
    sizes that split clusters mid-row (incl. block=1)."""
    import pyspark.sql.functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = hyperplanes(64, 4, seed=3)
    ref = sorted(
        tuple(r)
        for r in semantic_dedup(
            e, cents, threshold=0.9, pair_block=2048
        ).collect()
    )
    for blk in (1, 3, 7):
        got = sorted(
            tuple(r)
            for r in semantic_dedup(
                e, cents, threshold=0.9, pair_block=blk
            ).collect()
        )
        assert got == ref, blk
