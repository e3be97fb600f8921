"""chrF metric: hand values, textbook cross-check, Spark parity."""

from __future__ import annotations

import math

from conftest import EDGE_ID0, assert_matches_oracle

from docling_eval_spark.evaluators.chrf import (
    chrf_pairs,
    chrf_py,
    chrf_reference_py,
)


def test_chrf_identical_is_one():
    s = "the quick brown fox jumps over the lazy dog"
    assert chrf_py(s, s) == 1_000_000
    # effective_order: identical SHORT texts (< max_n chars) still 1.0
    assert chrf_py("abcd", "abcd") == 1_000_000


def test_chrf_disjoint_is_zero():
    assert chrf_py("aaaa", "zzzz") == 0
    assert chrf_py("", "anything") == 0
    assert chrf_py("anything", "") == 0
    assert chrf_py("", "") == 0


def test_chrf_whitespace_insensitive():
    # whitespace is stripped before n-gram extraction (sacrebleu default)
    assert chrf_py("ab cd", "abcd") == 1_000_000
    assert chrf_py("a\tb\nc d", "abcd") == 1_000_000


def test_chrf_matches_textbook_formula():
    """The micro-int quantized twin tracks the unquantized textbook
    value to ~5e-6 on realistic pairs (per-order quantization error
    < 5e-7 across 12 quantities + the final truncating division)."""
    cases = [
        ("the cat sat on the mat", "the cat sat on a mat"),
        ("hello world", "hello there world"),
        ("abcdef", "abcxef"),
        ("machine translation evaluation", "evaluation of machine translation"),
        ("short", "a much longer reference sentence here"),
    ]
    for hyp, ref in cases:
        q = chrf_py(hyp, ref) / 1_000_000.0
        t = chrf_reference_py(hyp, ref)
        assert math.isclose(q, t, abs_tol=5e-6), (hyp, ref, q, t)
        assert 0.0 < q < 1.0


def test_chrf_hand_value_single_order():
    """max_n=1, beta=1: hyp 'aabc' grams {a:2,b:1,c:1}, ref 'aabbc'
    {a:2,b:2,c:1} → tp=4, h=4, r=5 → P=1.0, R=0.8,
    F(β=1) = 2PR/(P+R) = 1.6/1.8 → micro 2·10⁶·8·10⁵ // 1.8·10⁶."""
    got = chrf_py("aabc", "aabbc", max_n=1, beta=1.0)
    assert got == (2 * 1_000_000 * 800_000) // (1_000_000 + 800_000)
    assert got == 888_888  # 0.888889 truncated


def test_chrf_asymmetry_precision_vs_recall():
    # β=2 weights recall 4×: hyp⊂ref (P=1, low R) scores LOWER than
    # ref⊂hyp (low P, R=1)
    contained = chrf_py("the cat", "the cat sat on the mat")
    reverse = chrf_py("the cat sat on the mat", "the cat")
    assert contained < reverse


def test_chrf_spark_matches_python_twin(spark):
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    left = docs.select(F.col("doc_id").alias("id_l"), F.col("text").alias("t_l"))
    right = docs.select(
        (F.col("doc_id") - 1).alias("id_l"), F.col("text").alias("t_r")
    )
    pairs = left.join(right, "id_l").limit(40)
    rows = {r["id_l"]: r for r in chrf_pairs(pairs).collect()}
    src = {r["id_l"]: r for r in pairs.collect()}
    assert rows, "fixture pairs empty"
    for id_l, row in rows.items():
        expect = chrf_py(src[id_l]["t_l"], src[id_l]["t_r"])
        assert row["chrf_micro"] == expect, id_l
        assert 0 <= row["chrf_prec_micro"] <= 1_000_000
        assert 0 <= row["chrf_rec_micro"] <= 1_000_000


def test_chrf_spark_empty_pair_emits_zero_row(spark):
    pairs = spark.createDataFrame(
        [(1, "   ", "some reference"), (2, "same text", "same text")],
        "id_l long, t_l string, t_r string",
    )
    got = {r["id_l"]: r["chrf_micro"] for r in chrf_pairs(pairs).collect()}
    assert got == {1: 0, 2: 1_000_000}


def test_chrf_arrow_engine_matches_sql_engine(spark, oracle_dir):
    """The Arrow per-(pair, order) count kernel must be bit-identical
    to the DuckDB oracle's exploded count SQL on every column, over
    adjacent sf0.001 pairs plus the edge rows: empty-after-strip,
    shorter than max_n, unicode, one-side-empty, past the 2000-char
    cap, repeated-gram multisets."""
    rows = assert_matches_oracle(spark, oracle_dir, "chrf_pairs")
    by_id = {r[0]: r for r in rows}
    assert by_id[EDGE_ID0][1:] == (0, 0, 0)  # "" vs "ab"


def test_chrf_py_rounds_half_up_like_spark(spark):
    """1e6 · tp/h = 1e6 · 1/128 = 7812.5 exactly at order 1: Spark's
    HALF_UP F.round (and the oracle's half-away-from-zero) give 7813
    where builtin round() gives 7812."""
    hyp, ref = "a" + "b" * 127, "a"
    pairs = spark.createDataFrame([(1, hyp, ref)], "id_l long, t_l string, t_r string")
    got = chrf_pairs(pairs).collect()[0]["chrf_micro"]
    assert chrf_py(hyp, ref) == got == 6313
