"""Training-data pipeline operators: dedup, similarity, text analysis,
media codecs and hashes."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from docling_eval_spark.operators.dedup import (
    char_shingles,
    exact_dedup,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
    simhash_near_pairs,
)
from docling_eval_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from docling_eval_spark.operators.text_analysis import (
    fingerprint_py,
    lang_id,
    quality_score,
    rolling_fingerprint_col,
    token_count_col,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),  # near dup
    (3, "completely unrelated text about spark engines and shuffles"),
    (4, "Der schnelle braune Fuchs springt über den faulen Hund und läuft"),
    (5, "le rapide renard brun saute par dessus le chien paresseux et la"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    out = exact_dedup(docs_df, "doc_id").orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert 0 in ids and 1 not in ids
    assert {r["doc_id"]: r["dup_count"] for r in out}[0] == 2
    assert len(out) == len(DOCS) - 1


def test_exact_dedup_skew_hash_agg_plan(spark):
    """One digest holding >= half the corpus (the viral-boilerplate hot
    case) must go through a partial-aggregating hash agg, never a
    per-digest window sort that concentrates every copy on one
    reducer."""
    hot = [(i, "the same viral boilerplate page body") for i in range(300)]
    cold = [(1000 + i, f"unique page number {i} content") for i in range(100)]
    df = spark.createDataFrame(hot + cold, "doc_id long, text string")
    out = exact_dedup(df, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no window operator anywhere; winner selection is a hash aggregate
    assert "Window" not in plan
    assert "HashAggregate" in plan
    # partial (map-side) aggregation present: two-phase agg shows up as
    # partial_min / partial_count function calls in the physical plan
    assert "partial_" in plan
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows[0] == 300 and len(rows) == 101
    assert all(rows[1000 + i] == 1 for i in range(100))


def test_ngram_jaccard_hand_value(spark):
    df = spark.createDataFrame([("abcd", "abcd"), ("abcd", "wxyz")], "a string, b string")
    pairs = df.select(
        char_shingles("a", 2).alias("shingles_l"),
        char_shingles("b", 2).alias("shingles_r"),
    )
    got = [r["jaccard"] for r in ngram_jaccard(pairs).collect()]
    assert got[0] == 1.0
    assert got[1] == 0.0


def test_minhash_similarity_ordering(spark, docs_df):
    sigs = {r["id"]: r["signature"] for r in minhash_signatures(docs_df, "doc_id", num_perm=64).collect()}
    est = lambda a, b: sum(x == y for x, y in zip(sigs[a], sigs[b])) / 64  # noqa: E731
    assert est(0, 1) == 1.0  # identical docs → identical signatures
    assert est(0, 2) > est(0, 3)  # near dup ≫ unrelated


def test_minhash_dedup_pairs_end_to_end(spark, docs_df):
    pairs = minhash_dedup_pairs(docs_df, "doc_id", threshold=0.5)
    got = {(r["id_l"], r["id_r"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert all(p not in got for p in [(0, 3), (1, 3), (2, 3)])


def test_simhash_near_pairs(spark, docs_df):
    sh = simhash(docs_df, "doc_id")
    pairs = simhash_near_pairs(sh, max_hamming=16)
    got = {(r["id_l"], r["id_r"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0  # identical
    assert (0, 2) in got  # near dup within 16 bits
    assert (0, 3) not in got


def test_brute_force_topk_vs_numpy(spark):
    rng = np.random.RandomState(0)
    vecs = rng.standard_normal((50, 8)).astype(float)
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, vecs[7].tolist())], "query_id long, query_vec array<double>"
    )
    got = [
        r["neighbor_id"]
        for r in brute_force_topk(corpus, queries, k=5).orderBy("rank").collect()
    ]
    sims = vecs @ vecs[7] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[7]))
    expected = np.argsort(-sims, kind="stable")[:5].tolist()
    assert got == expected
    assert got[0] == 7  # self is its own nearest neighbor


def test_lsh_topk_recall(spark):
    rng = np.random.RandomState(1)
    vecs = rng.standard_normal((200, 16)).astype(float)
    corpus = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(q, vecs[q].tolist()) for q in [3, 50, 99]],
        "query_id long, query_vec array<double>",
    )
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(corpus, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_topk(corpus, queries, k=3, n_planes=6).collect()
    }
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5  # multiprobe 6-plane LSH on random data
    assert all((q, q) in approx for q in [3, 50, 99])  # self always found


def test_embedding_near_dup(spark):
    rng = np.random.RandomState(2)
    base = rng.standard_normal(16)
    rows = [(0, base.tolist()), (1, (base + 1e-4 * rng.standard_normal(16)).tolist()),
            (2, rng.standard_normal(16).tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_l"], r["id_r"]) for r in embedding_near_dup_pairs(df, threshold=0.99).collect()}
    assert got == {(0, 1)}


def test_embedding_near_dup_bucket_cap(spark):
    """A degenerate all-identical corpus lands in one bucket; the cap
    must refuse the quadratic join and report the overflow."""
    vec = [1.0] * 8
    df = spark.createDataFrame(
        [(i, vec) for i in range(50)], "vec_id long, embedding array<double>"
    )
    pairs = embedding_near_dup_pairs(df, threshold=0.5, max_bucket=10)
    assert pairs.count() == 0
    # with the cap relaxed the same corpus yields all C(50,2) pairs
    assert embedding_near_dup_pairs(df, threshold=0.5, max_bucket=100).count() == 1225


def test_lang_id(spark, docs_df):
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs_df).collect()}
    assert got[0] == "en" and got[3] == "en"
    assert got[4] == "de"
    assert got[5] == "fr"


def test_quality_and_token_count(spark, docs_df):
    rows = {r["doc_id"]: r for r in quality_score(docs_df).collect()}
    assert rows[0]["q_n_tokens"] == 9
    assert 0.0 <= rows[0]["quality_score"] <= 1.0
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    assert quality_score(empty).collect()[0]["q_n_tokens"] == 0
    assert empty.select(token_count_col("text").alias("n")).collect()[0]["n"] == 0


def test_fingerprint_spark_matches_python(spark, docs_df):
    got = {
        r["doc_id"]: r["fp"]
        for r in docs_df.select(
            "doc_id", rolling_fingerprint_col("text").alias("fp")
        ).collect()
    }
    for doc_id, text in DOCS:
        assert got[doc_id] == fingerprint_py(text), doc_id
    # short text (< k chars) path
    short = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    assert (
        short.select(rolling_fingerprint_col("text").alias("fp")).collect()[0]["fp"]
        == fingerprint_py("abc")
    )


def test_gopher_rules(spark):
    from docling_eval_spark.operators.quality_rules import gopher_flags

    good = "the data set will be of good size and that we have built with care " + \
        "word " * 40  # >50 words, stopwords present, alpha-heavy
    short = "too short"
    symbolic = ("the be to of and that have with " + "### ... " * 30)
    df = spark.createDataFrame(
        [(0, good), (1, short), (2, symbolic)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_flags(df).collect()}
    assert rows[0]["passes_gopher"]
    assert not rows[1]["passes_gopher"]  # < 50 words
    assert not rows[2]["passes_gopher"]  # symbol ratio > 0.1
    assert rows[2]["g_symbol_ratio"] > 0.1
    assert rows[0]["g_stopword_hits"] >= 2


def test_top_bigram_fraction(spark):
    from docling_eval_spark.operators.quality_rules import top_bigram_fraction

    df = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "x y z w")], "doc_id long, text string"
    )
    got = {r["id"]: r for r in top_bigram_fraction(df, "doc_id").collect()}
    # "a b a b a b": bigrams [ab, ba, ab, ba, ab] → top 'a b' 3/5
    assert got[0]["n_bigrams"] == 5 and got[0]["top_count"] == 3
    assert got[0]["top_fraction"] == 0.6
    assert got[1]["top_count"] == 1 and got[1]["n_bigrams"] == 3


def test_png_real_pixel_path(spark):
    """K11: a Paeth-filtered PNG decodes to its exact pixels and hashes
    through the Spark dHash stage as its unfiltered encoding does; a
    payload that is no image hashes NULL, never a task failure."""
    from docling_eval_spark.operators.multimodal import (
        decode_pixels,
        image_dhash,
        image_dhash_stage,
    )
    from docling_eval_spark.operators.png_codec import png_encode

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (96, 128, 3), dtype=np.uint8)
    png = png_encode(img, filter_type=4)  # exercises Paeth unfiltering
    assert np.array_equal(decode_pixels(png), img)
    df = spark.createDataFrame(
        [("u1", bytearray(png)), ("u2", bytearray(b"not an image"))],
        "url string, media binary",
    )
    rows = {r["url"]: r["dhash"] for r in image_dhash_stage(df).collect()}
    want = image_dhash(png_encode(img))
    assert want is not None and rows["u1"] == want
    assert rows["u2"] is None


def test_canonical_url_and_host(spark):
    from docling_eval_spark.operators.web_ops import canonical_url_col, host_col

    rows = [
        ("HTTPS://WWW.Example.COM:443/Path/A?b=2&a=1#frag",
         "https://www.example.com/Path/A?a=1&b=2"),
        ("http://Host.Net:80", "http://host.net/"),
        ("http://host.net:8080/x", "http://host.net:8080/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    got = [r["c"] for r in df.select(canonical_url_col("url").alias("c")).collect()]
    assert got == [c for _, c in rows]
    hosts = [r["h"] for r in df.select(host_col("url").alias("h")).collect()]
    assert hosts == ["www.example.com", "host.net", "host.net"]


def test_line_dedup_first_occurrence_wins(spark):
    from docling_eval_spark.operators.web_ops import line_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha\nbeta\ngamma"),
            (2, "beta\ndelta"),        # beta seen in doc 1 → dropped here
            (3, "alpha\nbeta"),        # fully duplicate → no surviving lines
        ],
        "doc_id long, text string",
    )
    got = {r["id"]: r["text"] for r in line_dedup(df, "doc_id").collect()}
    assert got == {1: "alpha\nbeta\ngamma", 2: "delta"}


def test_minhash_incremental_pairs(spark, docs_df):
    from docling_eval_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    store = minhash_signatures(docs_df, "doc_id")
    new_docs = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # dup of 0/1
            (11, "entirely fresh content with novel material inside"),
            (12, "entirely fresh content with novel material inside"),  # dup of 11
        ],
        "doc_id long, text string",
    )
    new_sigs = minhash_signatures(new_docs, "doc_id")
    pairs = {
        (r["id_l"], r["id_r"])
        for r in minhash_incremental_pairs(new_sigs, store).collect()
    }
    assert (0, 10) in pairs and (1, 10) in pairs  # new vs store
    assert (11, 12) in pairs                      # new vs new
    assert (0, 1) not in pairs                    # old x old never re-emitted


def test_winnowing_matches_python_reference(spark, docs_df):
    from docling_eval_spark.operators.text_analysis import (
        winnow_fingerprints,
        winnow_py,
    )

    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs_df, "doc_id").collect():
        got.setdefault(r["id"], set()).add(r["fp"])
    for doc_id, text in DOCS:
        assert got[doc_id] == winnow_py(text), doc_id
    # near-dup docs share most fingerprints; unrelated docs share few
    j = lambda a, b: len(got[a] & got[b]) / len(got[a] | got[b])  # noqa: E731
    assert j(0, 1) == 1.0
    assert j(0, 2) > j(0, 3)
    # short text (< k) path
    short = spark.createDataFrame([(9, "abc")], "doc_id long, text string")
    rows = winnow_fingerprints(short, "doc_id").collect()
    assert {r["fp"] for r in rows} == winnow_py("abc")


def test_gif_real_pixel_path():
    """K11: GIF payloads decode through the real LZW codec on the image
    hash's pixel path."""
    import numpy as np

    from docling_eval_spark.operators.multimodal import decode_pixels
    from media_fixtures import gif_encode

    rng = np.random.RandomState(7)
    img = (rng.randint(0, 5, (40, 64, 3)) * 50).astype(np.uint8)
    assert np.array_equal(decode_pixels(gif_encode(img)), img)


def test_jpeg_real_pixel_path():
    """K11: baseline JPEG decodes through the real codec (huffman +
    IDCT) on the image hash's pixel path; roundtrip error bounded by
    the flat quantization table."""
    import numpy as np

    from docling_eval_spark.operators.jpeg_codec import jpeg_decode, jpeg_encode
    from docling_eval_spark.operators.multimodal import decode_pixels

    x = np.linspace(0, 255, 64)
    img = np.stack(
        [np.tile(x, (48, 1)), np.tile(x[::-1], (48, 1)), np.full((48, 64), 99.0)],
        axis=2,
    ).astype(np.uint8)
    jb = jpeg_encode(img)
    err = np.abs(jpeg_decode(jb).astype(int) - img.astype(int))
    assert err.max() <= 24 and err.mean() < 6
    assert np.array_equal(decode_pixels(jb), jpeg_decode(jb))


def test_jpeg_420_and_restart_markers():
    """VERDICT-r2 next-round #5: the dominant wild format — 4:2:0
    chroma subsampling — and DRI/RSTn restart markers decode through
    the REAL pixel path (fake=False), luma preserved within the flat-q
    bound; chroma within the 2×2-averaging bound on smooth gradients."""
    import numpy as np

    from docling_eval_spark.operators.jpeg_codec import jpeg_decode, jpeg_encode
    from docling_eval_spark.operators.multimodal import image_dhash

    x = np.linspace(0, 255, 64)
    img = np.stack(
        [np.tile(x, (48, 1)), np.tile(x[::-1], (48, 1)), np.full((48, 64), 99.0)],
        axis=2,
    ).astype(np.uint8)

    def luma(a):
        return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]

    for kwargs in (
        {"subsample": "420"},
        {"restart_interval": 2},
        {"subsample": "420", "restart_interval": 1},
    ):
        jb = jpeg_encode(img, **kwargs)
        dec = jpeg_decode(jb)
        assert dec.shape == img.shape
        lerr = np.abs(luma(dec) - luma(img))
        assert lerr.max() <= 30 and lerr.mean() < 8, kwargs
        # luma histogram round-trips: 8-bin distributions stay close
        hg = np.histogram(luma(img), bins=8, range=(0, 256))[0]
        hd = np.histogram(luma(dec), bins=8, range=(0, 256))[0]
        assert np.abs(hg - hd).sum() <= 0.1 * hg.sum(), kwargs
        cerr = np.abs(dec.astype(int) - img.astype(int))
        assert cerr.max() <= 40 and cerr.mean() < 8, kwargs

    # the image hash takes the real-pixel path on 4:2:0+RST
    jb = jpeg_encode(img, subsample="420", restart_interval=2)
    assert image_dhash(jb) is not None

    # restart stream is bit-identical to the no-restart stream when
    # decoded: same image content, independent of interval choice
    a = jpeg_decode(jpeg_encode(img, restart_interval=3))
    b = jpeg_decode(jpeg_encode(img))
    assert np.array_equal(a, b)

    # progressive still degrades honestly
    import pytest

    prog = bytearray(jpeg_encode(img))
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with pytest.raises(ValueError):
        jpeg_decode(bytes(prog))


def test_jpeg_multi_scan_degrades_honestly(spark):
    """A baseline multi-scan (non-interleaved) JPEG must raise, never
    silently return one plane as wrong pixels."""
    import numpy as np
    import pytest

    from docling_eval_spark.operators.jpeg_codec import jpeg_decode, jpeg_encode

    img = np.full((16, 16, 3), 128, dtype=np.uint8)
    data = bytearray(jpeg_encode(img))
    i = data.find(b"\xff\xda")
    assert i > 0
    # replace the 3-component SOS with a 1-component one (Y only):
    # spec-legal shape for a non-interleaved first scan
    one_comp_sos = b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    data = data[:i] + one_comp_sos + data[i + 2 + 12 :]
    with pytest.raises(ValueError):
        jpeg_decode(bytes(data))


def test_jpeg_progressive_decodes_identically():
    """Progressive (SOF2) decode: spectral selection + DC successive
    approximation reconstruct EXACTLY the same coefficients as the
    baseline encoding, so the decoded pixels must be bit-identical to
    the baseline decode. Restart markers reset DC predictors across
    scans."""
    import numpy as np

    from docling_eval_spark.operators.jpeg_codec import jpeg_decode, jpeg_encode
    from docling_eval_spark.operators.multimodal import image_dhash
    from media_fixtures import jpeg_encode_progressive

    x = np.linspace(0, 255, 64)
    img = np.stack(
        [np.tile(x, (48, 1)), np.tile(x[::-1], (48, 1)), np.full((48, 64), 99.0)],
        axis=2,
    ).astype(np.uint8)
    base = jpeg_decode(jpeg_encode(img))
    prog = jpeg_decode(jpeg_encode_progressive(img))
    assert np.array_equal(base, prog)
    prog_rst = jpeg_decode(jpeg_encode_progressive(img, restart_interval=3))
    assert np.array_equal(base, prog_rst)
    # grayscale path too
    g = img[..., 0]
    assert np.array_equal(
        jpeg_decode(jpeg_encode(g)), jpeg_decode(jpeg_encode_progressive(g))
    )
    # the image hash takes the real-pixel path on SOF2
    assert image_dhash(jpeg_encode_progressive(img)) == image_dhash(jpeg_encode(img))


def test_jpeg_progressive_ac_refinement_exact():
    """AC successive-approximation refinement (T.81 G.1.2.3): a
    hand-assembled two-pass AC stream (first pass at Al=1, refinement
    at Ah=1/Al=0 with correction bits, a newly-visible coefficient,
    and an EOB-run correction tail) must reconstruct the exact target
    coefficients."""
    import numpy as np

    from docling_eval_spark.operators.jpeg_codec import (
        _AC_SPEC,
        _D,
        _DC_SPEC,
        _Q_FLAT,
        _ZZ,
        _BitWriter,
        _canonical,
        jpeg_decode,
    )
    import struct

    dc_bits, dc_syms, dc_codes = _canonical(_DC_SPEC)
    ac_bits, ac_syms, ac_codes = _canonical(_AC_SPEC)

    # target zigzag coefficients: dc=4, k1=5, k2=1 (invisible at Al=1),
    # k3=-3; everything else 0
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(
        int(v) for v in _Q_FLAT
    )
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes([1, 0x11, 0])
    for cls, (bits, syms) in ((0, (dc_bits, dc_syms)), (1, (ac_bits, ac_syms))):
        body = bytes([cls << 4]) + bytes(bits) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    def sos(ss, se, ah, al):
        return (
            b"\xff\xda"
            + struct.pack(">HB", 8, 1)
            + bytes([1, 0x00, ss, se, (ah << 4) | al])
        )

    # scan 1: DC first, Al=0, value 4 (category 3, bits '100')
    out += sos(0, 0, 0, 0)
    bw = _BitWriter()
    c, ln = dc_codes[3]
    bw.write(c, ln)
    bw.write(4, 3)
    bw.flush()
    out += bw.out
    # scan 2: AC first pass Al=1 over 1..63: values v>>1 -> k1: 2, k3: -1
    out += sos(1, 63, 0, 1)
    bw = _BitWriter()
    c, ln = ac_codes[0x02]  # run 0, size 2
    bw.write(c, ln)
    bw.write(2, 2)  # +2
    c, ln = ac_codes[0x11]  # run 1 (skip k2), size 1
    bw.write(c, ln)
    bw.write(0, 1)  # -1 encodes as 0
    c, ln = ac_codes[0x00]  # EOB
    bw.write(c, ln)
    bw.flush()
    out += bw.out
    # scan 3: AC refinement Ah=1, Al=0:
    #   sym(r=0,s=1) + sign(+) -> new coefficient at first zero-history
    #   slot (k2); correction bit for k1 (5 & 1 = 1) rides before the
    #   placement; EOB then carries k3's correction bit (|−3| & 1 = 1)
    out += sos(1, 63, 1, 0)
    bw = _BitWriter()
    c, ln = ac_codes[0x01]
    bw.write(c, ln)
    bw.write(1, 1)  # sign: positive
    bw.write(1, 1)  # correction bit for k1: 4 -> 5
    c, ln = ac_codes[0x00]  # EOB (eobrun = 1)
    bw.write(c, ln)
    bw.write(1, 1)  # correction bit for k3: -2 -> -3
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"

    got = jpeg_decode(bytes(out)).astype(np.float64)
    # expected: IDCT of dequantized target coefficients
    zz = np.zeros(64)
    zz[0], zz[1], zz[2], zz[3] = 4, 5, 1, -3
    block = np.zeros((8, 8))
    for k, (r, cc) in enumerate(_ZZ):
        block[r, cc] = zz[k] * 16
    want = np.clip((_D.T @ block @ _D + 128.0).round(), 0, 255)
    assert np.array_equal(got, want)


def test_kv_link_metrics_arrays_null_is_empty_set(spark):
    """NULL link arrays are empty sets, never size -1 corrupt rows."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.kv_graph import kv_link_metrics_arrays

    df = spark.createDataFrame(
        [("d1",)], "key string"
    ).select(
        "key",
        F.expr("array(struct(1L as src, 2L as dst))").alias("gt_links"),
        F.lit(None)
        .cast("array<struct<src:bigint,dst:bigint>>")
        .alias("pred_links"),
    )
    r = kv_link_metrics_arrays(df).collect()[0]
    assert (r["n_gt"], r["n_pred"], r["n_inter"]) == (1, 0, 0)
    assert r["precision"] == 0.0 and r["recall"] == 0.0 and r["f1"] == 0.0


def test_ivf_assign_tie_breaks_to_lowest_centroid(spark):
    """Exact cosine ties (all-zero vector → every sim 0.0) must assign
    to the LOWEST centroid index — the tiebreak the oracle encodes."""
    import numpy as np

    from docling_eval_spark.operators.ivf import assign_centroids

    cents = np.ones((4, 8))
    df = spark.createDataFrame(
        [(1, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    got = assign_centroids(df, cents).collect()
    assert got[0]["centroid"] == 0


def test_web_ops_idempotent(spark):
    """Canonicalization and line-dedup are idempotent — applying them
    twice must be a no-op (the property a re-run pipeline relies on)."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.web_ops import canonical_url_col, line_dedup

    urls = spark.createDataFrame(
        [
            ("HTTPS://A.B:443/p?z=1&a=2#f",),
            ("http://x.y:80",),
            ("http://x.y/path?b=2&a=1",),
        ],
        "url string",
    )
    once = urls.select(canonical_url_col("url").alias("u"))
    twice = once.select(canonical_url_col("u").alias("u"))
    assert [r["u"] for r in once.collect()] == [r["u"] for r in twice.collect()]

    docs = spark.createDataFrame(
        [(1, "a\nb\nc"), (2, "b\nd"), (3, "x\na")], "doc_id long, text string"
    )
    d1 = line_dedup(docs, "doc_id")
    d2 = line_dedup(d1.withColumnRenamed("id", "doc_id"), "doc_id")
    got1 = {r["id"]: r["text"] for r in d1.collect()}
    got2 = {r["id"]: r["text"] for r in d2.collect()}
    assert got1 == got2


def test_wav_audio_features():
    """Audio modality: real PCM decode (RIFF/WAVE is stdlib-parsable);
    non-audio payloads raise."""
    import numpy as np

    from docling_eval_spark.operators.multimodal import wav_decode
    from media_fixtures import wav_encode

    t = np.arange(16000) / 16000.0
    tone = np.sin(2 * np.pi * 440 * t)  # 1s 440 Hz
    wav = wav_encode(tone, rate=16000)
    dec, rate = wav_decode(wav)
    assert rate == 16000 and dec.shape == (16000, 1)
    assert np.allclose(dec[:, 0], tone, atol=1e-3)
    with pytest.raises(ValueError):
        wav_decode(b"not audio at all")


def test_asof_join_semantics(spark):
    from docling_eval_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b"), (1, 5.0, "c"), (2, 10.0, "d")],
        "k long, ts double, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10.0, 100.0), (1, 15.0, 150.0), (2, 99.0, 990.0)],
        "k long, ts double, v double",
    )
    got = {
        r["tag"]: (r["v_asof"], r["ts_asof"])
        for r in asof_join(left, right, key="k", ts="ts", right_cols=["v"]).collect()
    }
    assert got["a"] == (100.0, 10.0)   # tie at ts=10 matches
    assert got["b"] == (150.0, 15.0)   # latest at-or-before 20
    assert got["c"] == (None, None)    # nothing at-or-before 5
    assert got["d"] == (None, None)    # right row is in the future


def test_sessionize_batch_matches_stream_oracle(spark):
    from docling_eval_spark.operators.temporal import sessionize_batch

    rows = [
        (1, 0.0), (1, 100.0), (1, 4000.0), (1, 4100.0), (2, 50.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts double").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_sec"])
        for r in sessionize_batch(df, gap_sec=1800).collect()
    }
    assert got[(1, 1)] == (2, 100.0)
    assert got[(1, 2)] == (2, 100.0)
    assert got[(2, 1)] == (1, 0.0)


def test_asof_join_null_payload_not_stitched(spark):
    """The matched right row is carried atomically: a NULL field in the
    latest right row must come back NULL, never backfilled from an
    older right row."""
    from docling_eval_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 12.0)], "k long, ts double")
    right = spark.createDataFrame(
        [(1, 5.0, 5.0), (1, 10.0, None)], "k long, ts double, v double"
    )
    r = asof_join(left, right, key="k", ts="ts", right_cols=["v"]).collect()[0]
    assert r["ts_asof"] == 10.0 and r["v_asof"] is None


def test_asof_join_duplicate_right_ts_deterministic(spark):
    """Duplicate right rows at the same (key, ts): the greatest payload
    struct (lexicographic over right_cols) must win, identically across
    partitionings."""
    from docling_eval_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 30.0, "b"), (2, 10.0, "c")],
        "k long, ts double, tag string",
    )
    # k=1 has THREE right rows at ts=10: (code, v) lexicographic max is
    # (2, 1.0) — code dominates even though its v is smallest.
    right_rows = [
        (1, 10.0, 1, 100.0),
        (1, 10.0, 2, 1.0),
        (1, 10.0, 1, 999.0),
        (1, 25.0, 1, 7.0),
        (1, 25.0, 1, 9.0),
        (2, 10.0, 5, 5.0),
    ]
    for nparts in (1, 64):
        right = spark.createDataFrame(
            right_rows, "k long, ts double, code long, v double"
        ).repartition(nparts)
        got = {
            r["tag"]: (r["code_asof"], r["v_asof"])
            for r in asof_join(
                left.repartition(nparts), right, key="k", ts="ts",
                right_cols=["code", "v"],
            ).collect()
        }
        assert got["a"] == (2, 1.0), got
        assert got["b"] == (1, 9.0), got   # dup at ts=25: max v wins
        assert got["c"] == (5, 5.0), got


def test_jpeg_zigzag_is_spec_order():
    from docling_eval_spark.operators.jpeg_codec import _ZZ

    assert _ZZ[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert _ZZ[-3:] == [(6, 7), (7, 6), (7, 7)]


def test_duplicate_spans(spark):
    from docling_eval_spark.operators.text_analysis import duplicate_spans

    shared = "this exact sentence is repeated verbatim across documents"
    rows = [
        (0, f"unique prefix alpha. {shared} unique suffix omega."),
        (1, f"different opening words here. {shared} different close."),
        (2, "totally unrelated content with no overlap whatsoever in it."),
        (3, "ab"),  # shorter than k: no k-gram, no span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_spans(df, "doc_id", "text", k=20).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
    assert set(by_id) == {0, 1}  # docs 2 and 3 emit nothing
    for doc_id, spans in by_id.items():
        assert len(spans) == 1
        s, e = spans[0]
        text = rows[doc_id][1]
        # the shared sentence is inside the span; span edges extend at
        # most k-1 chars into unique context (k-gram boundary fuzz)
        assert shared in text[s:e]
        assert e - s < len(shared) + 2 * 20
    # determinism across partitionings
    a = sorted(map(tuple, duplicate_spans(
        df.repartition(1), "doc_id", "text", k=20).collect()))
    b = sorted(map(tuple, duplicate_spans(
        df.repartition(7), "doc_id", "text", k=20).collect()))
    assert a == b


def test_bloom_prefilter(spark):
    from docling_eval_spark.operators.bloom import (
        bloom_prefilter,
        bloom_semi_join,
    )

    big = spark.range(0, 20000).selectExpr(
        "concat('u', id) AS url", "id AS payload"
    )
    small = spark.range(0, 20000, 100).selectExpr("concat('u', id) AS url")
    filtered = bloom_prefilter(big, small, "url")
    n_filtered = filtered.count()
    # no false negatives: every true match survives
    true_sem = big.join(small, "url", "left_semi")
    n_true = true_sem.count()
    assert n_true == 200
    survived = {r["url"] for r in filtered.collect()}
    assert {r["url"] for r in true_sem.collect()} <= survived
    # the filter actually filters (fpp ~6% of 19800 non-matches)
    assert n_filtered < 200 + 0.25 * 19800
    # exact semi join through the bloom path
    exact = bloom_semi_join(big, small, "url")
    assert sorted(r["url"] for r in exact.collect()) == sorted(
        r["url"] for r in true_sem.collect()
    )
    # plan shape: probe side is broadcast-joined, not shuffled
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_kgram_arrow_sql_parity(spark, oracle_dir):
    """The Arrow k-gram hash kernel must reproduce the DuckDB oracle's
    SQL k-gram hashes and positions through ``duplicate_spans`` over
    sf0.001 plus the edge rows (whitespace runs, non-BMP code points,
    an NBSP-edged text present twice)."""
    from conftest import EDGE_ID0, assert_matches_oracle

    rows = assert_matches_oracle(spark, oracle_dir, "duplicate_spans")
    assert {EDGE_ID0 + 7, EDGE_ID0 + 8} <= {r[0] for r in rows}


def test_bloom_prefilter_word_column_collision(spark):
    from docling_eval_spark.operators.bloom import bloom_prefilter

    big = spark.range(0, 500).selectExpr(
        "concat('u', id) AS url", "id AS word", "id * 2 AS word_idx"
    )
    small = spark.range(0, 500, 50).selectExpr("concat('u', id) AS url")
    out = bloom_prefilter(big, small, "url")
    assert set(out.columns) == {"url", "word", "word_idx"}
    matches = {r["url"] for r in out.collect()}
    assert {f"u{i}" for i in range(0, 500, 50)} <= matches
    # caller columns survive untouched
    r = out.filter("url = 'u100'").collect()[0]
    assert r["word"] == 100 and r["word_idx"] == 200


def test_kgram_nbsp_edge_parity(spark):
    """Normalization strips ASCII spaces only, like Spark's and
    DuckDB's trim: NBSPs at either end stay, so every k-gram position
    of the text is kept."""
    from docling_eval_spark.operators.text_analysis import (
        _FP_BASE,
        _FP_MOD,
        kgram_hash_positions,
    )

    nbsp = "\u00a0leading NBSP stays; interior\u00a0too and trailing\u00a0"
    df = spark.createDataFrame([(0, nbsp)], "doc_id long, text string")
    hs = {r.pos: r.h for r in kgram_hash_positions(df, "doc_id", k=20).collect()}
    assert sorted(hs) == list(range(len(nbsp) - 19))
    h = 0
    for ch in nbsp[:20]:
        h = (h * _FP_BASE + ord(ch)) % _FP_MOD
    assert hs[0] == h


def test_duplicate_spans_auto_materialize_with_checkpoint_dir(spark, tmp_path):
    """With a session checkpoint dir configured (the scratch-space
    signal), duplicate_spans materializes postings there; without one
    it recomputes. Results identical either way."""
    import os

    from docling_eval_spark.operators.text_analysis import duplicate_spans

    shared = "this exact sentence is repeated verbatim across documents"
    df = spark.createDataFrame(
        [(0, f"aa bb. {shared} cc."), (1, f"xx yy. {shared} zz.")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    old = sc.getCheckpointDir()
    lazy = sorted(map(tuple, duplicate_spans(df, "doc_id", k=20).collect()))
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        auto = sorted(map(tuple, duplicate_spans(df, "doc_id", k=20).collect()))
        assert auto == lazy and len(auto) == 2
        # the postings parquet actually landed under the checkpoint dir
        # (getCheckpointDir returns file:<base>/<context-uuid>, so walk)
        hits = [
            os.path.join(root, d)
            for root, dirs, _ in os.walk(tmp_path / "ckpt")
            for d in dirs
            if d == "duplicate_spans_postings"
        ]
        assert hits and os.listdir(hits[0])
        # a second call gets its OWN uuid dir and must NOT delete the
        # first call's dump — an unconsumed frame from call 1 stays
        # readable after call 2 (both dumps are cleaned at interpreter
        # exit via the module's atexit hook)
        from docling_eval_spark.operators import text_analysis as ta

        first_frame = duplicate_spans(df, "doc_id", k=20)  # unconsumed
        duplicate_spans(df, "doc_id", k=20).collect()
        assert len(os.listdir(hits[0])) >= 3
        assert sorted(map(tuple, first_frame.collect())) == auto
        # exit hook is registered and removes exactly this process's
        # dumps when invoked
        n_dumps = len([p for p in ta._SCRATCH_DUMPS if str(tmp_path) in p])
        assert n_dumps == 3
        ta._clean_scratch_dumps()
        assert not ta._SCRATCH_DUMPS
        assert len(os.listdir(hits[0])) == 0
    finally:
        if old:
            sc.setCheckpointDir(old)


def test_cut_spans(spark):
    from docling_eval_spark.operators.text_analysis import (
        cut_spans,
        duplicate_spans,
    )

    shared = "this exact sentence is repeated verbatim across documents"
    rows = [
        (0, f"alpha prefix here. {shared} omega suffix."),
        (1, f"beta doc opening. {shared} beta ending."),
        (2, "untouched document with no duplicated content at all."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = duplicate_spans(df, "doc_id", "text", k=20)
    out = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(df, spans, "doc_id", "text").collect()
    }
    # the shared sentence is gone from both carriers
    assert shared not in out[0] and shared not in out[1]
    # unique prefixes/suffixes survive (up to k-1 chars of boundary fuzz)
    assert out[0].startswith("alpha") and out[0].endswith("suffix.")
    assert out[1].startswith("beta") and out[1].endswith("ending.")
    # doc without spans passes through normalized-intact
    assert out[2] == rows[2][1]
    # hand-built spans: cut at exact offsets incl. edge spans
    docs2 = spark.createDataFrame(
        [(10, "0123456789abcdefghij")], "doc_id long, text string"
    )
    spans2 = spark.createDataFrame(
        [(10, 0, 3), (10, 8, 12), (10, 18, 20)],
        "id long, span_start int, span_end int",
    )
    got = cut_spans(docs2, spans2, "doc_id", "text").collect()[0]["clean_text"]
    # keep [3,8)="34567", [12,18)="cdefgh"; spans at both edges cut
    assert got == "34567cdefgh"


def test_cap_per_key(spark):
    from docling_eval_spark.operators.web_ops import cap_per_key

    df = spark.range(0, 1000).selectExpr(
        "id AS event_id", "CAST(id % 7 AS STRING) AS host"
    )
    exact = cap_per_key(df, "host", "event_id", 20)
    per_key = {
        r["host"]: r["count"]
        for r in exact.groupBy("host").count().collect()
    }
    assert all(c == 20 for c in per_key.values()) and len(per_key) == 7
    # deterministic across partitionings
    a = sorted(r["event_id"] for r in exact.collect())
    b = sorted(
        r["event_id"]
        for r in cap_per_key(df.repartition(13), "host", "event_id", 20).collect()
    )
    assert a == b
    # small keys unaffected
    small = spark.range(0, 30).selectExpr(
        "id AS event_id", "CAST(id % 10 AS STRING) AS host"
    )
    assert cap_per_key(small, "host", "event_id", 5).count() == 30


def _robots_allowed(spark, cases, agent="*"):
    """robots_filter_stage's verdict for each (robots_txt, path) case,
    one host per distinct robots.txt."""
    from docling_eval_spark.operators.web_ops import robots_filter_stage

    host = {t: f"h{i}.example" for i, t in enumerate(sorted({t for t, _ in cases}))}
    pages = spark.createDataFrame(
        [(f"http://{host[t]}{p}", i) for i, (t, p) in enumerate(cases)],
        "url string, case int",
    )
    robots = spark.createDataFrame(
        [(h, t) for t, h in host.items()], "host string, robots_txt string"
    )
    got = {
        r["case"]: r["robots_allowed"]
        for r in robots_filter_stage(pages, robots, agent=agent).collect()
    }
    return [got[i] for i in range(len(cases))]


def test_robots_rules_rfc9309(spark):
    txt = """
# comment
User-agent: googlebot
Disallow: /private/
Allow: /private/public$

User-agent: *
Disallow: /tmp/
Disallow: /fish*.php
Allow: /tmp/ok/
"""
    tie = "User-agent: *\nDisallow: /page\nAllow: /page"
    assert _robots_allowed(spark, [
        # fallback group for unknown agents
        (txt, "/anything"),
        (txt, "/tmp/x"),
        # longest match wins: /tmp/ok/ allow beats /tmp/ disallow
        (txt, "/tmp/ok/page"),
        # wildcard
        (txt, "/fishheads/catfish.php?p=1"),
        (txt, "/fish.html"),
        # empty Disallow = allow all
        ("User-agent: *\nDisallow:", "/x"),
        # allow wins ties at equal pattern length
        (tie, "/page"),
    ]) == [True, False, True, False, True, True, True]
    # specific agent group: most-specific UA token wins
    assert _robots_allowed(spark, [
        (txt, "/private/x"),
        (txt, "/private/public"),
        (txt, "/private/publicity"),
        # $ anchor: exact end only
        (txt, "/tmp/x"),
    ], agent="googlebot") == [False, True, False, True]


def test_robots_filter_stage(spark):
    from docling_eval_spark.operators.web_ops import robots_filter_stage

    pages = spark.createDataFrame(
        [
            ("http://a.example/tmp/x", 1),
            ("http://a.example/ok", 2),
            ("http://b.example/tmp/x", 3),  # no robots row → allowed
        ],
        "url string, payload int",
    )
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /tmp/")],
        "host string, robots_txt string",
    )
    rows = {r["payload"]: r["robots_allowed"]
            for r in robots_filter_stage(pages, robots).collect()}
    assert rows == {1: False, 2: True, 3: True}


def test_robots_fast_path_skips_python(spark):
    """Null-robots and no-rules hosts must short-circuit in SQL: the
    MapInPandas subtree's input filter requires a non-null, rule-
    bearing robots text, so those rows never enter Python."""
    from docling_eval_spark.operators.web_ops import robots_filter_stage

    pages = spark.createDataFrame(
        [
            ("http://a.example/tmp/x", 1),
            ("http://norules.example/x", 2),   # robots with no rules
            ("http://norobots.example/x", 3),  # no robots row at all
        ],
        "url string, payload int",
    )
    robots = spark.createDataFrame(
        [
            ("a.example", "User-agent: *\nDisallow: /tmp/"),
            ("norules.example", "# comments only\nUser-agent: *\nDisallow:"),
        ],
        "host string, robots_txt string",
    )
    out = robots_filter_stage(pages, robots)
    rows = {r["payload"]: r["robots_allowed"] for r in out.collect()}
    assert rows == {1: False, 2: True, 3: True}
    plan = out._jdf.queryExecution().executedPlan().toString()
    # children print below the node: the MapInPandas branch's join is
    # INNER (Catalyst converts the left-outer once the filter demands
    # non-null robots — nulls are structurally excluded), and the dim
    # side is pre-filtered to non-null, rule-bearing robots texts
    below = plan.split("MapInPandas", 1)[1]
    assert "Inner" in below
    assert "isnotnull(robots_txt" in below
    assert "Filter pythonUDF" in below  # has_rules gate on the dim
    # and the SQL fast path exists: isnull(__robots) → allowed w/o Python
    assert "isnull(__robots" in plan.split("MapInPandas", 1)[0]


def test_robots_rfc9309_group_merge_and_orphans(spark):
    # RFC 9309 §2.2.1: multiple matching groups COMBINE
    two_star = "User-agent: *\nDisallow: /a\n\nUser-agent: *\nDisallow: /b"
    # rules before any User-agent line are invalid → ignored
    orphan = "Disallow: /secret\nUser-agent: *\nAllow: /"
    assert _robots_allowed(spark, [
        (two_star, "/a"),
        (two_star, "/b"),
        (two_star, "/c"),
        (orphan, "/secret/x"),
    ]) == [False, False, True, True]
    # equal-length specific tokens also merge
    dup_agent = (
        "User-agent: bot\nDisallow: /x\n\nUser-agent: bot\nDisallow: /y"
    )
    assert _robots_allowed(
        spark, [(dup_agent, "/x"), (dup_agent, "/y")], agent="bot"
    ) == [False, False]


def test_robots_filter_query_only_url(spark):
    from docling_eval_spark.operators.web_ops import robots_filter_stage

    pages = spark.createDataFrame(
        [
            ("http://a.example?q=/x", 1),   # query, no path
            ("http://a.example/x", 2),      # real /x path
            ("http://a.example/p?q=1", 3),  # path + query
        ],
        "url string, payload int",
    )
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /x\nDisallow: /p?q=")],
        "host string, robots_txt string",
    )
    rows = {r["payload"]: r["robots_allowed"]
            for r in robots_filter_stage(pages, robots).collect()}
    # query-only url is path '/', not '/x' — must stay allowed
    assert rows == {1: True, 2: False, 3: False}


def test_script_profile(spark):
    from docling_eval_spark.operators.text_analysis import script_profile

    rows = [
        (0, "hello latin world entirely ascii"),
        (1, "русский текст на кириллице"),
        (2, "한국어 텍스트 문서"),
        (3, "نص عربي للاختبار"),
        (4, "1234 ... !!!"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: (r["script"], r["script_frac"])
           for r in script_profile(df, "doc_id").collect()}
    assert got[0] == ("latin", 1.0)
    assert got[1] == ("cyrillic", 1.0)
    assert got[2] == ("hangul", 1.0)
    assert got[3] == ("arabic", 1.0)
    assert got[4] == ("none", 0.0)
    assert got[5] == ("none", 0.0)


def test_nfc_normalize_stage(spark):
    from docling_eval_spark.operators.text_analysis import nfc_normalize_stage

    decomposed = "cafe\u0301 and \u212b angstrom"  # e+combining, ANGSTROM SIGN
    composed = "caf\u00e9 and \u00c5 angstrom"
    df = spark.createDataFrame(
        [(0, decomposed), (1, composed), (2, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in nfc_normalize_stage(df).collect()}
    # NFC composes e+combining-acute and maps ANGSTROM SIGN to A-ring
    assert out[0] == composed
    assert out[1] == composed
    assert out[2] is None
    # out_col variant appends instead of replacing
    with_col = nfc_normalize_stage(df, out_col="nfc").collect()
    by_id = {r["doc_id"]: r for r in with_col}
    assert by_id[0]["text"] == decomposed and by_id[0]["nfc"] == composed


def test_page_rank(spark):
    from docling_eval_spark.operators.web_ops import page_rank

    # star: everyone links to 'hub'; hub links to 'a'
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")],
        "src string, dst string",
    )
    # the a<->hub 2-cycle oscillates, so run to convergence
    ranks = {r["node"]: r["rank"] for r in page_rank(edges, 30).collect()}
    # fixed point: hub ~0.4797, a ~0.4452, b = c = base 0.0375
    assert abs(ranks["hub"] - 0.4797) < 5e-3
    assert abs(ranks["a"] - 0.4452) < 5e-3
    assert ranks["hub"] > ranks["a"] > ranks["b"]
    assert abs(ranks["b"] - ranks["c"]) < 1e-12
    # deterministic across partitionings up to float summation order
    # (groupBy-sum over doubles is partition-order dependent in the
    # last ulp — compare rounded, as the oracle does)
    r2 = {r["node"]: r["rank"]
          for r in page_rank(edges.repartition(5), 30).collect()}
    assert {k: round(v, 9) for k, v in ranks.items()} == {
        k: round(v, 9) for k, v in r2.items()
    }


def test_page_rank_tolerance_stop(spark):
    """tol early-stop converges to the same fixed point as a long
    fixed run, and a tight tol on an already-converged graph stops
    without burning the full iteration budget (observable via the
    rank values matching far earlier than the cap)."""
    from docling_eval_spark.operators.web_ops import page_rank

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")],
        "src string, dst string",
    )
    fixed = {r["node"]: r["rank"] for r in page_rank(edges, 60).collect()}
    tolled = {
        r["node"]: r["rank"]
        for r in page_rank(edges, 60, tol=1e-10).collect()
    }
    for k in fixed:
        assert abs(fixed[k] - tolled[k]) < 1e-8
    # a no-edge-change rerun with a loose tol must stop after ~1-2
    # iterations yet still produce sane ranks (sum ≈ ranks of nodes)
    loose = {r["node"]: r["rank"] for r in page_rank(edges, 60, tol=0.5).collect()}
    assert set(loose) == set(fixed)


@pytest.mark.parametrize("tol", [None, 1e-12])
def test_rank_loops_release_their_checkpoints(spark, tol):
    """After an iterative loop (page_rank, trust_rank, and without a
    tolerance stop connected_components, hits, crawl_depth,
    funnel_steps and bpe_train) returns, the only new persistent RDD is
    the returned frame's own checkpoint, if it is one: every loop
    checkpoint and every cached input is released."""
    from datetime import datetime

    from docling_eval_spark.operators.bpe import bpe_train
    from docling_eval_spark.operators.temporal import funnel_steps
    from docling_eval_spark.operators.web_ops import (
        connected_components,
        crawl_depth,
        hits,
        page_rank,
        trust_rank,
    )
    from docling_eval_spark.session import release_checkpoint

    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    events = spark.createDataFrame(
        [(1, "view", datetime(2026, 1, 1)), (1, "click", datetime(2026, 1, 2))],
        "user_id long, event_type string, ts timestamp",
    )
    # a word table spread over more partitions than its rows need, so
    # bpe_train coalesces it
    docs = spark.createDataFrame(
        [(f"low lower newest {i % 7}",) for i in range(300)], "text string"
    ).repartition(6)
    jsc = spark.sparkContext._jsc
    runs = [
        (lambda: page_rank(edges, 7, tol=tol), 4),
        (lambda: trust_rank(edges, seeds, 7, tol=tol), 4),
    ]
    if tol is None:
        runs += [
            (lambda: connected_components(edges), 4),
            (lambda: hits(edges), 4),
            (lambda: crawl_depth(edges, seeds), 2),  # a, hub
            (lambda: funnel_steps(events, ["view", "click"]), 2),
            (lambda: bpe_train(docs, merges=2), 2),
        ]
    for run, rows in runs:
        before = set(jsc.getPersistentRDDs().keySet())
        out = run()
        new = set(jsc.getPersistentRDDs().keySet()) - before
        plan = out._jdf.queryExecution().analyzed()
        own = {plan.rdd().id()} if plan.nodeName() == "LogicalRDD" else set()
        assert new <= own
        assert out.count() == rows
        if own:
            release_checkpoint(out)


def test_loop_calls_run_few_jobs(spark):
    """Jobs per graph-loop call, and per funnel_steps call with its
    collect, on a 6-edge graph: each bound is the count measured before
    the loops shared one fixpoint driver, so the driver adds no job."""
    from datetime import datetime

    from conftest import jobs_in

    from docling_eval_spark.operators.temporal import funnel_steps
    from docling_eval_spark.operators.web_ops import (
        connected_components,
        crawl_depth,
        hits,
        page_rank,
        trust_rank,
    )
    from docling_eval_spark.session import release_checkpoint

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e"), ("e", "f")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    runs = [
        (lambda: page_rank(edges, 5), 27),
        (lambda: page_rank(edges, 10, tol=0.0), 96),
        (lambda: trust_rank(edges, seeds, 5), 30),
        (lambda: trust_rank(edges, seeds, 8, tol=0.0), 77),
        (lambda: hits(edges, 4), 40),
        (lambda: connected_components(edges, iterations=8), 28),
        (lambda: crawl_depth(edges, seeds, max_hops=6), 23),
    ]
    for run, bound in runs:
        out = []
        assert jobs_in(spark, lambda: out.append(run())) <= bound
        release_checkpoint(out[0])
    events = spark.createDataFrame(
        [
            (u, t, datetime(2026, 1, 1, 0, 0, s))
            for u, t, s in [
                (1, "view", 1), (1, "click", 2), (1, "purchase", 3),
                (2, "view", 2), (2, "click", 1), (3, "view", 1), (3, "click", 5),
            ]
        ],
        "user_id long, event_type string, ts timestamp",
    )
    steps = ["view", "click", "purchase"]
    assert jobs_in(spark, lambda: funnel_steps(events, steps).collect()) <= 16


def test_ngram_lm_score_hand_computed(spark):
    """Char-trigram LM score vs a hand-rolled Python twin on a tiny
    corpus (model self-trained on the same docs)."""
    import math

    from docling_eval_spark.operators.ngram_lm import ngram_lm_score

    rows = [(0, "abcabc"), (1, "abcd"), (2, "zz")]  # doc 2: no trigram
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in ngram_lm_score(df, "doc_id").collect()}

    # python twin
    texts = {i: t for i, t in rows}
    tri: dict = {}
    for t in texts.values():
        for i in range(len(t) - 2):
            g = t[i : i + 3]
            tri[g] = tri.get(g, 0) + 1
    ctx: dict = {}
    for g, c in tri.items():
        ctx[g[:2]] = ctx.get(g[:2], 0) + c
    logp = {g: round(math.log(c / ctx[g[:2]]), 6) for g, c in tri.items()}
    for i, t in texts.items():
        grams = [t[j : j + 3] for j in range(len(t) - 2)]
        assert got[i]["n_grams"] == len(grams)
        if grams:
            micro = sum(int(round(logp[g] * 1e6)) for g in grams)
            assert got[i]["lm_micro_sum"] == micro
            assert abs(got[i]["lm_score"] - micro / (1e6 * len(grams))) < 1e-9
        else:
            assert got[i]["lm_micro_sum"] == 0
            assert got[i]["lm_score"] is None
    # the mojibake-detector property: a doc whose trigrams are corpus-
    # typical scores higher than one full of corpus-rare trigrams
    corpus = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(20)]
    corpus += [(100, "the quick brown fox jumps over the lazy dog again"),
               (101, "zq xv kj wq pf zx qq vv jj kk pp zz xx qv")]
    df2 = spark.createDataFrame(corpus, "doc_id long, text string")
    s = {r["id"]: r["lm_score"] for r in ngram_lm_score(df2, "doc_id").collect()}
    assert s[100] > s[101]


def test_exact_dedup_duplicate_and_null_ids(spark):
    """Ids are NOT assumed unique (re-fetched URLs): a duplicated
    winning id must not fan out, and a winner of one digest must not
    resurrect same-id rows of OTHER digests. A digest group whose ids
    are ALL null survives (null-safe winner join); null ids never beat
    a non-null id."""
    rows = [
        ("u1", "text A"), ("u1", "text B"),  # same id, two digests
        ("u2", "text A"),                     # loses digest A to u1
        ("u3", "text C"), ("u3", "text C"),  # dup id INSIDE one digest
        (None, "text D"),                     # all-null group → kept
        (None, "text A"),                     # null loses to u1
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    out = exact_dedup(df, "url").collect()
    got = sorted(
        ((r["url"] or ""), r["text"], r["dup_count"]) for r in out
    )
    assert got == [
        ("", "text D", 1),
        ("u1", "text A", 3),
        ("u1", "text B", 1),
        ("u3", "text C", 2),
    ]
    # idempotent re-run over already-deduped output (dup_count present)
    out_df = exact_dedup(df, "url")
    again = sorted(
        ((r["url"] or ""), r["text"], r["dup_count"])
        for r in exact_dedup(out_df, "url").collect()
    )
    assert again == [
        ("", "text D", 1),
        ("u1", "text A", 1),
        ("u1", "text B", 1),
        ("u3", "text C", 1),
    ]


def test_exact_dedup_survivor_row_deterministic(spark):
    """When the winning id is duplicated and the sibling columns
    differ (same text, different warc_ts — the re-fetched-URL case),
    the surviving row must be the same total-order pick on every run
    regardless of input partitioning."""
    rows = [
        ("u1", "same page text", f"2024-01-{d:02d}", f"w{d}")
        for d in (9, 3, 27, 3, 14)
    ] + [("u2", "same page text", "2024-02-01", "w99")]
    schema = "url string, text string, warc_ts string, shard string"

    def run(nparts):
        df = spark.createDataFrame(rows, schema).repartition(nparts)
        return sorted(
            (r["url"], r["warc_ts"], r["shard"], r["dup_count"])
            for r in exact_dedup(df, "url").collect()
        )

    a, b, c = run(1), run(7), run(32)
    assert a == b == c
    # the pick is the struct-min: earliest warc_ts, then shard
    assert a == [("u1", "2024-01-03", "w3", 6)]


def test_connected_components(spark):
    from docling_eval_spark.operators.web_ops import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain → component 1
         (10, 11), (11, 12), (10, 12),    # clique → component 10
         (20, 21), (21, 20)],             # dup/reversed edges → 20
        "src long, dst long",
    )
    got = {r["node"]: r["component"]
           for r in connected_components(edges, iterations=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}
    # partitioning invariance
    got2 = {r["node"]: r["component"]
            for r in connected_components(
                edges.repartition(7), iterations=4).collect()}
    assert got2 == got
    # a long chain needs iterations >= diameter: 6 hops, 2 iterations
    # is NOT enough (documented contract), 6 is
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    partial = {r["node"]: r["component"]
               for r in connected_components(chain, iterations=2).collect()}
    assert partial[6] != 0  # not yet converged
    full = {r["node"]: r["component"]
            for r in connected_components(chain, iterations=6).collect()}
    assert set(full.values()) == {0}


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from docling_eval_spark.operators.text_analysis import tfidf_top_terms

    rows = [
        (0, "apple apple banana common common common"),
        (1, "banana cherry common common"),
        (2, "cherry cherry cherry common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df, "doc_id", k=2).collect()
    got = {(r["id"], r["rank"]): (r["term"], r["score_micro"]) for r in out}
    idf = lambda dfreq: int(round(math.log(3 / dfreq) * 1e6))  # noqa: E731
    # doc 0: apple tf2×idf(1) beats banana tf1×idf(2); common idf=0
    assert got[(0, 1)] == ("apple", 2 * idf(1))
    assert got[(0, 2)] == ("banana", idf(2))
    # doc 2: cherry tf3×idf(2) top; 'common' scores 0 (idf ln(1)=0)
    assert got[(2, 1)] == ("cherry", 3 * idf(2))
    assert got[(2, 2)] == ("common", 0)
    # deterministic tie-break: doc 1 banana vs cherry same tf and df →
    # same score; 'banana' < 'cherry' alphabetically
    assert got[(1, 1)] == ("banana", idf(2))
    assert got[(1, 2)] == ("cherry", idf(2))


def test_contamination_check(spark):
    from docling_eval_spark.operators.text_analysis import contamination_check

    docs = spark.createDataFrame([
        (0, "a b c d e f g h i j"),   # 3 windows, first = bench doc
        (1, "a b c d e f g h"),       # identical to the bench doc
        (2, "q w e r t y u i o p"),   # disjoint
        (3, "too short"),             # < 8 tokens → no windows
        (4, "A B C D E F G H"),       # case-folded duplicate of bench
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h")], "doc_id long, text string"
    )
    got = {r["id"]: (r["n_grams"], r["n_hits"])
           for r in contamination_check(docs, bench, "doc_id").collect()}
    assert got == {0: (3, 1), 1: (1, 1), 2: (3, 0), 3: (0, 0), 4: (1, 1)}


def test_chunk_documents(spark):
    from docling_eval_spark.operators.text_analysis import chunk_documents

    toks = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(0, toks), (1, "a b c"), (2, "")], "doc_id long, text string"
    )
    out = chunk_documents(df, "doc_id", chunk_tokens=4, overlap=1)
    got = {(r["id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
           for r in out.collect()}
    # stride 3: windows @1(4) @4(4) @7(4) @10(1<=overlap → dropped)
    assert got[(0, 0)] == (4, "t0 t1 t2 t3")
    assert got[(0, 1)] == (4, "t3 t4 t5 t6")
    assert got[(0, 2)] == (4, "t6 t7 t8 t9")
    assert (0, 3) not in got
    # short doc → one chunk = itself; empty doc → no chunks
    assert got[(1, 0)] == (3, "a b c")
    assert not any(k[0] == 2 for k in got)
    # overlap invariant: consecutive chunks share `overlap` tokens
    assert got[(0, 0)][1].split()[-1:] == got[(0, 1)][1].split()[:1]
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_documents(df, "doc_id", chunk_tokens=4, overlap=4)


def test_stratified_sample(spark):
    from docling_eval_spark.operators.web_ops import stratified_sample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = stratified_sample(df, "src", "doc_id", {"a": 0.25, "b": 1.0})
    got = out.groupBy("src").count().collect()
    counts = {r["src"]: r["count"] for r in got}
    assert counts["b"] == 1000                  # fraction 1.0 keeps all
    assert 180 <= counts["a"] <= 320            # ~25% of 1000
    # deterministic: same rows independent of partitioning
    a1 = sorted(r["doc_id"] for r in out.collect())
    a2 = sorted(
        r["doc_id"]
        for r in stratified_sample(
            df.repartition(13), "src", "doc_id", {"a": 0.25, "b": 1.0}
        ).collect()
    )
    assert a1 == a2
    # fraction 0 drops the stratum; default_fraction governs others
    z = stratified_sample(df, "src", "doc_id", {"a": 0.0},
                          default_fraction=0.0)
    assert z.count() == 0


def test_quality_lr_score(spark):
    """Hashed-BoW linear classifier: hand-computed integer scores,
    custom weights/bias/threshold, empty-doc fail, zero-shuffle plan."""
    from docling_eval_spark.operators.text_analysis import (
        lr_weights,
        quality_lr_score,
    )

    # dim=1: every token maps to bucket 0, so the score is just
    # w0 * n_tokens + bias — hand-checkable
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["n_tokens"], r["score_milli"], r["keep"])
        for r in quality_lr_score(
            df, "doc_id", weights=[5], bias_milli=-7, thresh_milli=2
        ).collect()
    }
    assert out == {
        1: (3, 8, True),    # 3*5-7=8 >= 2*3=6
        2: (1, -2, False),  # 5-7=-2 < 2
        3: (0, -7, False),  # empty doc always fails
        4: (0, -7, False),  # whitespace-only == empty
    }
    # default weights are deterministic and milli-bounded
    w = lr_weights()
    assert len(w) == 256 and all(-1000 <= x <= 1000 for x in w)
    assert w == lr_weights()
    # case-folding: tokens hash lowercased
    d2 = spark.createDataFrame([(1, "Word"), (2, "word")], "doc_id long, text string")
    s = {r["id"]: r["score_milli"] for r in quality_lr_score(d2, "doc_id").collect()}
    assert s[1] == s[2]
    # zero shuffle: one narrow map
    plan = (
        quality_lr_score(df, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_snapshot_delta_hand_case(spark):
    from docling_eval_spark.operators.temporal import snapshot_delta

    rows = [
        ("u1", 1, "a"),   # NEW
        ("u1", 2, "a"),   # UNCHANGED
        ("u1", 3, "b"),   # CHANGED
        ("u1", 4, "b"),   # UNCHANGED
        ("u2", 1, "x"),   # NEW
        ("u2", 5, "y"),   # CHANGED
    ]
    df = spark.createDataFrame(rows, "url string, crawl_ts int, digest string")
    out = {
        (r.url, r.crawl_ts): r.change_status
        for r in snapshot_delta(df).collect()
    }
    assert out == {
        ("u1", 1): "NEW",
        ("u1", 2): "UNCHANGED",
        ("u1", 3): "CHANGED",
        ("u1", 4): "UNCHANGED",
        ("u2", 1): "NEW",
        ("u2", 5): "CHANGED",
    }


def test_snapshot_delta_deterministic_across_partitionings(spark):
    """Duplicate (url, ts) fetches with differing digests: the window
    orders by (ts, digest), so the multiset of output rows must be
    identical however the input is partitioned."""
    from docling_eval_spark.operators.temporal import snapshot_delta

    rows = [("u", 1, "b"), ("u", 1, "a"), ("u", 2, "a"), ("u", 2, "a")]
    df = spark.createDataFrame(rows, "url string, crawl_ts int, digest string")

    def run(d):
        return sorted(
            (r.url, r.crawl_ts, r.digest, r.prev_digest, r.change_status)
            for r in snapshot_delta(d).collect()
        )

    assert run(df.repartition(1)) == run(df.repartition(7, "digest"))
    # at ts=1 the 'a' copy leads (digest order): a=NEW, b=CHANGED;
    # first ts=2 'a' follows 'b' → CHANGED, second → UNCHANGED
    statuses = sorted(s for (_, _, _, _, s) in run(df))
    assert statuses == ["CHANGED", "CHANGED", "NEW", "UNCHANGED"]


def test_snapshot_churn_hand_case(spark):
    from docling_eval_spark.operators.temporal import snapshot_churn

    rows = [
        ("h1", "u1", 1, "a"),
        ("h1", "u1", 2, "b"),
        ("h1", "u1", 3, "b"),
        ("h1", "u2", 1, "x"),
        ("h2", "u3", 1, "p"),
    ]
    df = spark.createDataFrame(
        rows, "host string, url string, crawl_ts int, digest string"
    )
    out = {r.host: r for r in snapshot_churn(df, host="host").collect()}
    h1 = out["h1"]
    assert (h1.n_fetches, h1.n_new, h1.n_changed, h1.n_unchanged) == (4, 2, 1, 1)
    assert h1.change_rate == 0.5
    h2 = out["h2"]
    assert (h2.n_fetches, h2.n_new, h2.n_changed, h2.n_unchanged) == (1, 1, 0, 0)
    assert h2.change_rate is None  # no refetches → rate undefined, not 0


def test_vocab_stats_hand_case(spark):
    from docling_eval_spark.operators.text_analysis import vocab_stats

    df = spark.createDataFrame(
        [("en", "the cat The  dog"), ("en", "the fish"), ("de", "")],
        "lang string, text string",
    )
    out = {r.lang: r for r in vocab_stats(df, group_col="lang").collect()}
    en = out["en"]
    # tokens: the, cat, the, dog, the, fish (lowercased) → 6 tokens,
    # 4 types, hapax = cat/dog/fish = 3, top freq = the ×3
    assert (en.n_tokens, en.n_types, en.n_hapax, en.top_freq) == (6, 4, 3, 3)
    assert en.ttr == round(4 / 6, 6)
    assert en.hapax_ratio == 0.75
    assert "de" not in out  # empty text → zero tokens → no group row


def test_vocab_stats_corpus_wide(spark):
    from docling_eval_spark.operators.text_analysis import vocab_stats

    df = spark.createDataFrame([("a b a",), ("b c",)], "text string")
    r = vocab_stats(df).collect()[0]
    assert (r.n_tokens, r.n_types, r.n_hapax, r.top_freq) == (5, 3, 1, 2)


def test_vocab_growth_invariants(spark):
    """Curve invariants on a 40-doc corpus: epochs are md5-uniform in
    0..15, cumulative columns are monotone, the final cum_types equals
    the corpus-wide distinct-type count, and per-epoch totals tie out
    to the doc-level truth."""
    import hashlib

    from docling_eval_spark.operators.text_analysis import vocab_growth

    docs = [(i, f"tok{i % 7} tok{i % 3} shared word{i}") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    rows = vocab_growth(df).orderBy("epoch").collect()

    assert all(0 <= r.epoch <= 15 for r in rows)
    # epoch must be the first md5 hex digit of str(doc_id)
    expected_epochs = {
        int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) for i, _ in docs
    }
    assert {r.epoch for r in rows} == expected_epochs

    assert sum(r.n_docs for r in rows) == 40
    all_types = {t.lower() for _, txt in docs for t in txt.split()}
    assert rows[-1].cum_types == len(all_types)
    assert rows[-1].cum_tokens == sum(len(txt.split()) for _, txt in docs)

    for prev, cur in zip(rows, rows[1:]):
        assert cur.cum_docs == prev.cum_docs + cur.n_docs
        assert cur.cum_tokens == prev.cum_tokens + cur.n_tokens
        assert cur.cum_types == prev.cum_types + cur.new_types
        assert cur.cum_types >= prev.cum_types
    assert rows[0].cum_ttr == round(rows[0].new_types / rows[0].n_tokens, 6)


def test_pii_scrub_hand_case(spark):
    from docling_eval_spark.operators.text_analysis import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@sub.example.co.uk and carol@ex.io end"),
            (2, "from 192.168.0.1 to 10.0.0.255, version 1.2 unchanged"),
            (3, "call +1 (415) 555-0134 or +44 20.7946.0958 today"),
            (4, "no pii here, just 12345 and a.b"),
            (5, None),
        ],
        "id int, text string",
    )
    out = {r.id: r for r in pii_scrub(df).collect()}
    assert out[1].scrubbed_text == "mail <EMAIL> and <EMAIL> end"
    assert out[1].n_emails == 2 and out[1].n_ips == 0 and out[1].n_phones == 0
    assert out[2].scrubbed_text == "from <IP> to <IP>, version 1.2 unchanged"
    assert out[2].n_ips == 2
    assert out[3].scrubbed_text == "call <PHONE> or <PHONE> today"
    assert out[3].n_phones == 2
    assert out[4].scrubbed_text == out[4].text
    assert (out[4].n_emails, out[4].n_ips, out[4].n_phones) == (0, 0, 0)
    assert out[5].scrubbed_text is None  # null text passes through


def test_pii_counts_on_original_text(spark):
    """An email whose local part looks phone-ish is masked ONCE (as
    email, the earlier pattern) but counted in both categories — counts
    are per-pattern over the raw text by contract."""
    from docling_eval_spark.operators.text_analysis import pii_scrub

    df = spark.createDataFrame([("x +14155550134@relay.example.com y",)], "text string")
    r = pii_scrub(df).collect()[0]
    assert r.scrubbed_text == "x +<EMAIL> y" or r.scrubbed_text == "x <EMAIL> y"
    assert r.n_emails == 1


def test_blocklist_filter_flags_registered_domain(spark):
    from docling_eval_spark.operators.web_ops import blocklist_filter

    pages = spark.createDataFrame(
        [
            (1, "https://www.bad.com/x"),
            (2, "https://evil.bad.com/y"),       # subdomain → same eTLD+1
            (3, "https://bad.com.example.org/z"),  # NOT bad.com
            (4, "https://good.org/"),
        ],
        "id int, url string",
    )
    blocked = spark.createDataFrame([("bad.com",)], "domain string")
    out = blocklist_filter(pages, blocked)
    flags = {r.id: r.blocked for r in out.collect()}
    assert flags == {1: True, 2: True, 3: False, 4: False}
    assert out.columns == ["id", "url", "blocked"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_cms_never_underestimates(spark):
    """The count-min guarantee: est >= true count for every term, and
    the sketch total per depth row equals the token count."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.sketch import cms_build, cms_estimate
    from docling_eval_spark.operators.text_analysis import tokens_col

    docs = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog ate the cat food",), ("mat cat",)],
        "text string",
    )
    depth, width = 3, 64
    sketch = cms_build(docs, depth=depth, width=width)
    per_depth = {r.d: r.s for r in sketch.groupBy("d").agg(F.sum("c").alias("s")).collect()}
    assert per_depth == {0: 14, 1: 14, 2: 14}  # 14 tokens total, every row sees all

    exact = {
        r.tok: r.c
        for r in docs.select(F.explode(tokens_col("text")).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("c")).collect()
    }
    terms = spark.createDataFrame([(t,) for t in exact] + [("unseen_zz",)], "term string")
    est = {r.term: r.est for r in cms_estimate(sketch, terms, depth=depth, width=width).collect()}
    for t, c in exact.items():
        assert est[t] >= c, (t, est[t], c)
    # width 64 >> 9 distinct tokens: whp no collision → exact
    assert est["the"] == 4 and est["cat"] == 3 and est["unseen_zz"] == 0


def test_cms_depth_guard(spark):
    import pytest
    from docling_eval_spark.operators.sketch import cms_build

    docs = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError):
        cms_build(docs, depth=99)


def test_char_entropy_hand_cases(spark):
    import math

    import pyspark.sql.functions as F
    from docling_eval_spark.operators.text_analysis import char_entropy_col

    df = spark.createDataFrame(
        [
            (1, "aaaa"),        # one symbol -> 0
            (2, "abab"),        # two equiprobable -> ln 2
            (3, "abcd"),        # four equiprobable -> ln 4
            (4, ""),            # empty -> 0
        ],
        "id int, text string",
    )
    out = {r.id: r.entropy for r in df.select("id", char_entropy_col("text").alias("entropy")).collect()}
    assert out[1] == 0.0
    assert abs(out[2] - math.log(2)) < 1e-5
    assert abs(out[3] - math.log(4)) < 1e-5
    assert out[4] == 0.0
    # prose sits between boilerplate-low and base64-high
    probe = spark.createDataFrame(
        [
            ("prose", "the quick brown fox jumps over the lazy dog again and again"),
            ("repeat", "xyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxyxy"),
            ("blob", "Qk9vYjhiN3pGdUxXcDlNa1RjU2QxZ0g0eEFqNnJFa1lQMnZDbTVuRHE3aFV3"),
        ],
        "kind string, text string",
    )
    e = {r.kind: r.e for r in probe.select("kind", char_entropy_col("text").alias("e")).collect()}
    assert e["repeat"] < e["prose"] < e["blob"]


def test_char_entropy_zero_shuffle_plan(spark):
    from docling_eval_spark.operators.text_analysis import char_entropy_col

    df = spark.createDataFrame([("abc",)], "text string")
    plan = df.select(char_entropy_col("text")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_embedding_outliers_flags_planted_outlier(spark):
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.similarity import embedding_outliers

    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(40):
        v = (rng.randn(8) * 0.05 + 1.0).tolist()  # tight cluster at 1
        rows.append((i, [float(x) for x in v], 0))
    rows.append((99, [float(9.0)] * 8, 0))  # planted far point
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.vec_id: r for r in embedding_outliers(df, quant=1000).collect()}
    assert out[99].is_outlier
    flagged = [i for i, r in out.items() if r.is_outlier]
    assert flagged == [99]
    # determinism across partitionings: identical rows either way
    a = sorted(map(tuple, embedding_outliers(df.repartition(1), quant=1000).collect()))
    b = sorted(map(tuple, embedding_outliers(df.repartition(13, "vec_id"), quant=1000).collect()))
    assert a == b


def test_embedding_outliers_vectors_never_shuffle(spark):
    """The full-width embedding column must not cross an exchange —
    only slim (grp,dim)/(grp) aggregates and broadcasts shuffle."""
    from docling_eval_spark.operators.similarity import embedding_outliers

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [1.1, 2.1], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    plan = embedding_outliers(df)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 2


def test_latest_snapshot_argmax_and_determinism(spark):
    from docling_eval_spark.operators.temporal import latest_snapshot

    rows = [
        ("u1", 1, "a", "x"),
        ("u1", 3, "c", "y"),   # latest
        ("u1", 2, "b", "z"),
        ("u2", 5, "p", "q"),
        ("u3", 7, "t1", "m"),  # tie at ts=7: greatest payload wins
        ("u3", 7, "t2", "k"),
    ]
    df = spark.createDataFrame(rows, "url string, crawl_ts int, digest string, meta string")
    out = {r.url: (r.crawl_ts, r.digest, r.meta) for r in latest_snapshot(df).collect()}
    assert out == {"u1": (3, "c", "y"), "u2": (5, "p", "q"), "u3": (7, "t2", "k")}
    assert latest_snapshot(df).columns == df.columns
    a = sorted(map(tuple, latest_snapshot(df.repartition(1)).collect()))
    b = sorted(map(tuple, latest_snapshot(df.repartition(9, "digest")).collect()))
    assert a == b
    plan = latest_snapshot(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and plan.count("Exchange") == 1


def test_dedup_sentences_keeps_first_in_order(spark):
    from docling_eval_spark.operators.text_analysis import dedup_sentences_col

    df = spark.createDataFrame(
        [
            (1, "Buy now. Great offer! Buy now. The end."),
            (2, "One sentence only"),
            (3, "Same. Same. Same."),
            (4, ""),
        ],
        "id int, text string",
    )
    out = {r.id: r.d for r in df.select("id", dedup_sentences_col("text").alias("d")).collect()}
    assert out[1] == "Buy now. Great offer! The end."
    assert out[2] == "One sentence only"
    assert out[3] == "Same."
    assert out[4] == ""


def test_dedup_sentences_min_len_exemption(spark):
    from docling_eval_spark.operators.text_analysis import dedup_sentences_col

    df = spark.createDataFrame([("No. 1 is fine. No. 2 also fine. No. 3 ends.",)], "text string")
    # 'No.' repeats but is shorter than min_len -> exempt, all kept
    kept = df.select(dedup_sentences_col("text", min_len=4).alias("d")).collect()[0].d
    assert kept.count("No.") == 3
    plan = df.select(dedup_sentences_col("text"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_crawl_rate_daily_buckets(spark):
    from datetime import datetime

    from docling_eval_spark.operators.temporal import crawl_rate

    rows = [
        ("h1", datetime(2024, 1, 1, 3, 0), "u1"),
        ("h1", datetime(2024, 1, 1, 22, 59), "u1"),
        ("h1", datetime(2024, 1, 2, 0, 0), "u2"),   # next bucket, boundary
        ("h2", datetime(2024, 1, 1, 12, 0), "u3"),
    ]
    df = spark.createDataFrame(rows, "host string, crawl_ts timestamp, url string")
    out = {(r.host, str(r.window_start)): (r.n_fetches, r.n_urls)
           for r in crawl_rate(df).collect()}
    assert out[("h1", "2024-01-01 00:00:00")] == (2, 1)
    assert out[("h1", "2024-01-02 00:00:00")] == (1, 1)
    assert out[("h2", "2024-01-01 00:00:00")] == (1, 1)


def test_token_budget_sample_exact_mode(spark):
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.web_ops import token_budget_sample

    rows = [(i, "a" if i < 10 else "b", 100) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = token_budget_sample(df, {"a": 350, "b": 10_000})
    got = out.groupBy("source").agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("c")
    ).collect()
    by = {r.source: (r.t, r.c) for r in got}
    assert by["a"] == (300, 3)      # 3x100 fits in 350, 4th would exceed
    assert by["b"] == (1000, 10)    # budget covers everything
    # unlisted sources dropped entirely
    df2 = df.withColumn("source", F.lit("zz"))
    assert token_budget_sample(df2, {"a": 100}).count() == 0
    # determinism across partitionings
    a = sorted(map(tuple, token_budget_sample(df.repartition(1), {"a": 350, "b": 999}).collect()))
    b = sorted(map(tuple, token_budget_sample(df.repartition(7, "doc_id"), {"a": 350, "b": 999}).collect()))
    assert a == b


def test_hll_registers_merge_and_estimate(spark):
    """Registers are a mergeable sketch: sketching two halves and
    re-aggregating max(max_rank) equals sketching the whole."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.sketch import hll_registers

    n = 5000
    df = spark.range(n).select(
        F.lit("k").alias("grp"), F.col("id").alias("v")
    )
    regs = hll_registers(df, ["grp"], "v", b=9)

    lo = hll_registers(df.filter(F.col("v") < n // 2), ["grp"], "v", b=9)
    hi = hll_registers(df.filter(F.col("v") >= n // 2), ["grp"], "v", b=9)
    merged = (
        lo.unionByName(hi)
        .groupBy("grp", "reg")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    whole = {(r.grp, r.reg): r.max_rank for r in regs.collect()}
    via_merge = {(r.grp, r.reg): r.max_rank for r in merged.collect()}
    assert whole == via_merge


def test_hll_small_range_linear_counting(spark):
    """20 distinct values in 64 registers sit in HLL's small range
    (raw harmonic-mean estimate <= 2.5·m), where linear counting
    m·ln(m/zeros) over the register table's occupancy applies. The
    deterministic Lehmer-mixed hash spreads sequential ids nearly
    collision-free, so the estimate lands within ±30% of truth."""
    import math

    import pyspark.sql.functions as F
    from docling_eval_spark.operators.sketch import hll_registers

    df = spark.range(20).select(F.lit("k").alias("grp"), F.col("id").alias("v"))
    ranks = [r.max_rank for r in hll_registers(df, ["grp"], "v", b=6).collect()]
    touched = len(ranks)
    assert touched <= 20  # at most one register per value
    m = 64
    zeros = m - touched
    raw = (0.7213 / (1.0 + 1.079 / m)) * m * m / (sum(2.0**-r for r in ranks) + zeros)
    assert raw <= 2.5 * m and zeros > 0  # the linear-counting branch
    est = round(m * math.log(m / zeros))
    assert abs(est - 20) <= 6, est  # ±30% at 31% occupancy


def test_hll_register_table_is_one_bounded_shuffle(spark):
    """Plan shape: exactly one Exchange, keyed on (grp, reg) — the
    exchange carries at most |keys|·2^b register rows, never values."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.sketch import hll_registers

    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("grp"), F.col("id").alias("v")
    )
    plan = hll_registers(df, ["grp"], "v", b=6)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_qsketch_encoding_bounds(spark):
    """Every value lands in a bucket whose decoded lower bound is <= v
    and whose width is at most lo >> k (relative error <= 2^-k);
    values below 2^k are exact singletons."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.sketch import (
        qsketch_idx_col,
        qsketch_lo_col,
    )

    vals = list(range(0, 70)) + [
        255, 256, 257, 1023, 1024, 4095, 1 << 20, (1 << 20) + 12345,
        (1 << 39) - 1, 7777777,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    k = 4
    out = df.select(
        "v",
        qsketch_idx_col(F.col("v"), k).alias("idx"),
    ).select("v", "idx", qsketch_lo_col(F.col("idx"), k).alias("lo"))
    for r in out.collect():
        assert r.lo <= r.v, r
        width = max(r.lo >> k, 1)
        assert r.v < r.lo + width or r.v < (1 << k), r
        if r.v < (1 << k):
            assert r.lo == r.v == r.idx, r


def test_qsketch_merge_and_quantile_accuracy(spark):
    """Summing two halves' bucket tables equals sketching the whole;
    each reported q_lo brackets the exact nearest-rank percentile
    within one bucket width."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.sketch import (
        qsketch_buckets,
        qsketch_quantiles,
    )

    # skewed lengths: quadratic growth, two key groups
    rows = [("a", (i * i) % 50021 + 1) for i in range(3000)] + [
        ("b", i * 7 + 3) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "grp string, v long")
    whole = qsketch_buckets(df, ["grp"], "v")
    lo_half = qsketch_buckets(df.filter(F.col("v") % 2 == 0), ["grp"], "v")
    hi_half = qsketch_buckets(df.filter(F.col("v") % 2 == 1), ["grp"], "v")
    merged = (
        lo_half.unionByName(hi_half)
        .groupBy("grp", "idx")
        .agg(F.sum("c").alias("c"))
    )
    a = {(r.grp, r.idx): r.c for r in whole.collect()}
    b = {(r.grp, r.idx): r.c for r in merged.collect()}
    assert a == b

    got = {
        (r.grp, r.pct): r.q_lo
        for r in qsketch_quantiles(whole, ["grp"]).collect()
    }
    import math

    by_grp = {"a": sorted(v for g, v in rows if g == "a"),
              "b": sorted(v for g, v in rows if g == "b")}
    for (grp, pct), q_lo in got.items():
        vs = by_grp[grp]
        exact = vs[max(0, math.ceil(pct * len(vs) / 100) - 1)]
        width = max(q_lo >> 4, 1)
        assert q_lo <= exact < q_lo + width or exact < 16, (
            grp, pct, q_lo, exact)


def test_qsketch_bucket_table_is_one_bounded_shuffle(spark):
    """Plan shape: exactly one Exchange keyed on (grp, idx) — the
    exchange carries at most |keys| x ~600 counter rows."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.sketch import qsketch_buckets

    df = spark.range(5000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 37 % 10007).alias("v"),
    )
    plan = (
        qsketch_buckets(df, ["grp"], "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan


def test_epoch_shuffle_order_deterministic_and_epochs_differ(spark):
    """Same (id, epoch) always produces the same shard + order across
    partitionings; different epochs permute differently."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.training import epoch_shard_stats

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    s1 = {r.shard: r for r in epoch_shard_stats(df, "doc_id", 1, 8).collect()}
    s1b = {
        r.shard: r
        for r in epoch_shard_stats(
            df.repartition(13), "doc_id", 1, 8
        ).collect()
    }
    assert {k: tuple(v) for k, v in s1.items()} == {
        k: tuple(v) for k, v in s1b.items()
    }
    s2 = {r.shard: r for r in epoch_shard_stats(df, "doc_id", 2, 8).collect()}
    assert sum(r.n_docs for r in s1.values()) == 2000
    # membership moves between shards and order digests change
    assert any(
        s1[k].order_digest != s2.get(k, s1[k]).order_digest for k in s1
    )


def test_change_rate_estimate_semantics(spark):
    """Hand-checkable Cho/Garcia-Molina cases: never-changing url ->
    rate 0; always-changing url -> the bias-stabilized cap; a url seen
    once -> NULL rate; and the exact formula reproduces."""
    import math

    import pyspark.sql.functions as F
    from docling_eval_spark.operators.temporal import change_rate_estimate

    day = 86_400_000
    rows = []
    # url A: 5 fetches daily, never changes
    rows += [("a", i * day, "same") for i in range(5)]
    # url B: 5 fetches daily, changes every time
    rows += [("b", i * day, f"v{i}") for i in range(5)]
    # url C: 5 fetches daily, changes twice
    rows += [("c", i * day, d) for i, d in enumerate("xxyyz")]
    # url D: single fetch
    rows += [("d", 2 * day, "solo")]
    df = spark.createDataFrame(
        [(u, ms, d) for u, ms, d in rows], "url string, ms long, digest string"
    ).select("url", F.timestamp_millis(F.col("ms")).alias("crawl_ts"), "digest")
    out = {r.url: r for r in change_rate_estimate(df).collect()}

    assert out["a"].n_intervals == 4 and out["a"].n_changed == 0
    assert out["a"].lambda_per_day == 0.0
    assert out["b"].n_changed == 4
    lam_b = -math.log(0.5 / 4.5) / 1.0  # avg interval exactly 1 day
    assert abs(out["b"].lambda_per_day - lam_b) < 1e-6
    lam_c = -math.log((4 - 2 + 0.5) / 4.5) / 1.0
    assert abs(out["c"].lambda_per_day - lam_c) < 1e-6
    assert out["d"].n_intervals == 0 and out["d"].lambda_per_day is None
    # staleness vs corpus-latest (day 4): url D last fetched day 2
    assert out["d"].stale_ms == 2 * day
    assert abs(out["c"].expected_changes - 0.0) < 1e-9  # fetched at 'now'


def test_change_rate_single_keyed_exchange(spark):
    """The lag window and the per-url rollup share ONE hash exchange
    on the url; the corpus 'now' arrives by broadcast."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.temporal import change_rate_estimate

    df = spark.range(1000).select(
        (F.col("id") % 50).cast("string").alias("url"),
        F.timestamp_millis(F.col("id") * 1000).alias("crawl_ts"),
        (F.col("id") % 3).cast("string").alias("digest"),
    )
    plan = (
        change_rate_estimate(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sitemap_parse_fields_and_defaults(spark):
    """Loc/lastmod/priority extraction, protocol default priority 0.5
    for missing tags, tag order inside <url> blocks irrelevant; the
    parse plan is a zero-shuffle narrow map."""
    from docling_eval_spark.operators.frontier import sitemap_parse

    xml = (  # pretty-printed: blocks span lines, like real sitemaps
        '<?xml version="1.0"?>\n<urlset>\n'
        "  <url>\n    <loc>https://h.ex/a</loc>\n"
        "    <lastmod>2026-01-02</lastmod>\n"
        "    <priority>0.8</priority>\n  </url>\n"
        "  <url><priority>0.3</priority><loc>https://h.ex/b</loc></url>\n"
        "  <url>\n    <loc>https://h.ex/c</loc>\n  </url>\n"
        "</urlset>"
    )
    df = spark.createDataFrame([("h", xml)], "host string, xml string")
    out = {r.loc: r for r in sitemap_parse(df).collect()}
    assert len(out) == 3
    assert out["https://h.ex/a"].lastmod == "2026-01-02"
    assert out["https://h.ex/a"].priority_pct == 80
    assert out["https://h.ex/b"].lastmod is None
    assert out["https://h.ex/b"].priority_pct == 30
    assert out["https://h.ex/c"].priority_pct == 50  # protocol default
    plan = (
        sitemap_parse(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_frontier_merge_new_first_and_cap(spark):
    """Never-crawled urls outrank seen ones regardless of priority;
    per-host cap holds; ties break on the url."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.frontier import frontier_merge

    ann = spark.createDataFrame(
        [
            ("h", "u/seen-high", None, 90),
            ("h", "u/new-low", None, 10),
            ("h", "u/new-also", None, 10),
            ("h", "u/seen-low", None, 20),
        ],
        "host string, loc string, lastmod string, priority_pct int",
    )
    seen = spark.createDataFrame(
        [("u/seen-high",), ("u/seen-low",)], "url string"
    )
    fr = frontier_merge(ann, seen, per_host_k=3)
    rows = sorted(fr.collect(), key=lambda r: r.fetch_rank)
    assert [r.loc for r in rows] == ["u/new-also", "u/new-low", "u/seen-high"]
    assert [bool(r.is_new) for r in rows] == [True, True, False]


def test_politeness_schedule_pins_hosts_and_spaces_slots(spark):
    """Each host maps to exactly one worker; slots are (rank-1)*delay."""
    from docling_eval_spark.operators.frontier import politeness_schedule

    fr = spark.createDataFrame(
        [("a", "u1", 1), ("a", "u2", 2), ("b", "v1", 1), ("b", "v2", 2)],
        "host string, loc string, fetch_rank int",
    )
    out = politeness_schedule(fr, delay_ms=500, num_workers=4).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r.host, set()).add(r.worker)
        assert 0 <= r.worker < 4
    assert all(len(ws) == 1 for ws in by_host.values())
    slots = {(r.host, r.loc): r.slot_ms for r in out}
    assert slots[("a", "u1")] == 0 and slots[("a", "u2")] == 500


def test_lsh_quality_eval_hand_corpus(spark):
    """Exact duplicates must be both true pairs and candidates
    (recall 1); disjoint texts must be neither; counts reconcile."""
    from docling_eval_spark.operators.dedup import (
        exact_jaccard_pairs,
        lsh_quality_eval,
        shingle_sig_table,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest where nobody ever goes at night"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("quick", "slow").replace("lazy", "busy")),
        (4, "completely different content about spark query planning "
            "and shuffle partitioning strategies for large clusters"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    [m] = lsh_quality_eval(df, "doc_id", threshold=0.7).collect()
    truth = exact_jaccard_pairs(
        shingle_sig_table(df, "doc_id").select("id", "shingles"), 0.7
    ).collect()
    true_set = {(r.id_l, r.id_r) for r in truth}
    assert (1, 2) in true_set
    assert all(4 not in p for p in true_set)
    assert m.n_true == len(true_set)
    assert m.n_tp == m.n_true  # near-identical pairs always collide
    assert m.recall == 1.0
    assert m.n_candidates >= m.n_tp


def test_salted_equi_join_matches_plain_join(spark):
    """Salted join is result-identical to the plain inner join, with
    the join keyed on (key, salt) in the plan and no salt column in the
    output."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.skew import salted_equi_join

    # one hot key (900 rows), two cold keys, one key missing from small
    big = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit("hot"))
        .when(F.col("id") < 950, F.lit("cold"))
        .when(F.col("id") < 990, F.lit("cool"))
        .otherwise(F.lit("orphan"))
        .alias("k"),
        F.col("id").alias("rid"),
    )
    small = spark.createDataFrame(
        [("hot", 1), ("cold", 2), ("cool", 3), ("unused", 9)],
        "k string, v int",
    )
    plain = big.join(small, "k")
    salted = salted_equi_join(big, small, "k", "rid", 16)
    assert salted.columns == plain.columns
    a = sorted(tuple(r) for r in plain.collect())
    b = sorted(tuple(r) for r in salted.collect())
    assert a == b
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # join really keys on (k, __salt)


def test_skew_report_hand_case(spark):
    """Exact counts, integer ppm shares, deterministic ties."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.skew import skew_report

    df = spark.range(100).select(
        F.when(F.col("id") < 70, F.lit("a"))
        .when(F.col("id") < 90, F.lit("b"))
        .otherwise(F.lit("c"))
        .alias("k")
    )
    rows = {r.k: r for r in skew_report(df, ["k"], top_n=2).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"].n_rows == 70 and rows["a"].share_ppm == 700000
    assert rows["b"].rank == 2 and rows["b"].share_ppm == 200000


def test_crawl_bursts_integer_z_test(spark):
    """A 5x spike day on an otherwise-steady host flags; the steady
    host never does; min_fetches suppresses near-idle keys."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.temporal import crawl_bursts

    day = 86_400_000
    rows = []
    # NOTE a single outlier among W windows is bounded at
    # z = sqrt(W-1) — with 10 windows z=3 is unreachable no matter the
    # spike size — so the baseline needs 30 days for the test to bite
    for d in range(30):
        n = 120 if d == 7 else 20
        rows += [("spiky", f"u{i}", d * day + i) for i in range(n)]
    rows += [("steady", f"u{i}", d * day + i) for d in range(30) for i in range(20)]
    # near-idle: 1 fetch/day, one day with 3 (relative spike, tiny n)
    rows += [("idle", "u0", d * day) for d in range(30)]
    rows += [("idle", f"u{i}", 3 * day + i) for i in range(1, 3)]
    df = spark.createDataFrame(
        rows, "host string, url string, ms long"
    ).select("host", "url", F.timestamp_millis("ms").alias("crawl_ts"))
    out = crawl_bursts(df, z=3, min_fetches=10)
    flagged = {(r.host, r.window_start.day) for r in out.collect() if r.is_burst}
    assert ("spiky", 8) in flagged  # epoch day 7 = Jan 8 1970
    assert all(h == "spiky" for h, _ in flagged)


def test_robots_sitemaps_directive_cases(spark):
    """Case-insensitive key, leading whitespace, multiple directives,
    none -> no rows; other directives never match."""
    from docling_eval_spark.operators.frontier import robots_sitemaps

    rows = [
        ("a", "User-agent: *\nSitemap: https://a/sm.xml\nDisallow: /x"),
        ("b", "  sitemap: https://b/1.xml\nSITEMAP: https://b/2.xml"),
        ("c", "User-agent: *\nDisallow: /\nCrawl-delay: 5"),
        ("d", "notsitemap: https://d/no.xml"),
    ]
    df = spark.createDataFrame(rows, "host string, robots_txt string")
    got = sorted(
        (r.host, r.sitemap_url) for r in robots_sitemaps(df).collect()
    )
    assert got == [
        ("a", "https://a/sm.xml"),
        ("b", "https://b/1.xml"),
        ("b", "https://b/2.xml"),
    ]
    plan = robots_sitemaps(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_template_fingerprint_copy_invariant_order_sensitive(spark):
    """Same skeleton + different copy -> same fp; tag order change or
    attribute-only change -> attrs ignored, order matters."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.web_ops import template_fp_col

    rows = [
        (1, "<html><body><div><p>alpha beta</p></div></body></html>"),
        (2, "<html><body><div><p>totally different words</p></div></body></html>"),
        (3, '<html><body><div class="x"><p id="y">alpha</p></div></body></html>'),
        (4, "<html><body><p><div>alpha</div></p></body></html>"),
    ]
    df = spark.createDataFrame(rows, "id int, html string")
    fp = {r.id: r.f for r in df.select("id", template_fp_col(F.col("html")).alias("f")).collect()}
    assert fp[1] == fp[2] == fp[3]  # copy and attributes ignored
    assert fp[1] != fp[4]  # <div><p> != <p><div>


def test_frontier_merge_duplicate_announcement_deterministic(spark):
    """A url announced twice with different priorities collapses to one
    row with the HIGHEST priority, identically across partitionings."""
    from docling_eval_spark.operators.frontier import frontier_merge

    ann = spark.createDataFrame(
        [
            ("h", "u/x", None, 30),
            ("h", "u/x", "2026-01-01", 90),
            ("h", "u/y", None, 50),
        ],
        "host string, loc string, lastmod string, priority_pct int",
    )
    seen = spark.createDataFrame([("u/none",)], "url string")
    for parts in (1, 7):
        rows = {
            r.loc: r
            for r in frontier_merge(
                ann.repartition(parts), seen, per_host_k=10
            ).collect()
        }
        assert len(rows) == 2
        assert rows["u/x"].priority_pct == 90
        assert rows["u/x"].lastmod == "2026-01-01"
        assert rows["u/x"].fetch_rank == 1


def test_morton_key_hand_values_and_locality(spark):
    """Hand-checked interleavings plus the pruning property: all
    points of one quadrant share the key's top bits, so a quadrant
    maps to ONE contiguous key range."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.layout_maintenance import morton_key

    df = spark.createDataFrame(
        [(3, 1), (1, 3), (0, 0), (65535, 65535), (5, 0)], "x long, y long"
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", morton_key(F.col("x"), F.col("y"), 16).alias("z")
        ).collect()
    }
    assert got[(3, 1)] == 0b0111  # x bits at even, y bits at odd
    assert got[(1, 3)] == 0b1011
    assert got[(0, 0)] == 0
    assert got[(65535, 65535)] == (1 << 32) - 1
    assert got[(5, 0)] == 0b010001

    grid = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x long, y long"
    ).select("x", "y", morton_key(F.col("x"), F.col("y"), 6).alias("z"))
    q = grid.filter((F.col("x") < 32) & (F.col("y") < 32))
    [r] = q.agg(F.min("z").alias("lo"), F.max("z").alias("hi")).collect()
    # the 32x32 low quadrant is exactly the first 1024 keys
    assert (r.lo, r.hi) == (0, 1023)


def test_compaction_plan_binning(spark):
    """Smallest-first cumsum binning: group totals stay under
    target + last file; singleton tail groups are dropped; ties
    deterministic on file name."""
    from docling_eval_spark.operators.layout_maintenance import (
        compaction_plan,
    )

    rows = [
        ("p", "a", 10), ("p", "b", 20), ("p", "c", 30), ("p", "d", 40),
        ("p", "e", 95),  # near-target file -> singleton group, dropped
        ("q", "f", 50), ("q", "g", 50),
    ]
    df = spark.createDataFrame(rows, "part string, file string, size_bytes long")
    plan = compaction_plan(
        df, ["part"], target_bytes=100, min_group_files=2
    ).collect()
    by_grp = {}
    for r in plan:
        by_grp.setdefault((r.part, r.grp), []).append((r.file, r.size_bytes))
    assert ("p", 0) in by_grp and sorted(f for f, _ in by_grp[("p", 0)]) == [
        "a", "b", "c", "d",
    ]
    assert all("e" != f for fs in by_grp.values() for f, _ in fs)
    assert sorted(f for f, _ in by_grp[("q", 0)]) == ["f", "g"]
    for (part, grp), fs in by_grp.items():
        total = sum(s for _, s in fs)
        assert total < 100 + max(s for _, s in fs), (part, grp, total)


def test_qsketch_overflow_bucket_is_defined(spark):
    """Values >= 2^max_bits land in ONE overflow bucket whose decoded
    lower bound is exactly 2^max_bits — a defined clamp, never a
    corrupt mantissa (2^45 used to decode to q_lo=1584)."""
    import pyspark.sql.functions as F
    from docling_eval_spark.operators.sketch import (
        qsketch_idx_col,
        qsketch_lo_col,
    )

    df = spark.createDataFrame(
        [(1 << 45,), ((1 << 40) - 1,), (1 << 40,), (123,)], "v long"
    )
    out = {
        r.v: (r.idx, r.lo)
        for r in df.select(
            "v",
            qsketch_idx_col(F.col("v")).alias("idx"),
        )
        .select("v", "idx", qsketch_lo_col(F.col("idx")).alias("lo"))
        .collect()
    }
    overflow_idx = (40 - 4 + 1) << 4
    assert out[1 << 45] == (overflow_idx, 1 << 40)
    assert out[1 << 40] == (overflow_idx, 1 << 40)
    assert out[(1 << 40) - 1][1] <= (1 << 40) - 1  # top regular bucket
    assert out[123][1] <= 123 < out[123][1] + max(out[123][1] >> 4, 1)


def test_image_dhash_invariances():
    from docling_eval_spark.operators.multimodal import (
        cell_grid_image,
        image_dhash,
    )
    from docling_eval_spark.operators.png_codec import png_encode

    import numpy as np

    h = image_dhash(cell_grid_image(42))
    # brightness shift never changes difference signs
    assert image_dhash(cell_grid_image(42, brightness=10)) == h
    assert image_dhash(cell_grid_image(42, brightness=54)) == h
    # different seed → far in Hamming space
    h2 = image_dhash(cell_grid_image(43))
    assert bin((h ^ h2) & (2**64 - 1)).count("1") > 10
    # RGB image with equal channels hashes like its grayscale twin
    # (integer 601 luma of (v,v,v) is exactly v)
    cells = np.arange(72, dtype=np.uint8).reshape(8, 9) * 2
    gray = np.repeat(np.repeat(cells, 8, axis=0), 8, axis=1)
    rgb = np.stack([gray] * 3, axis=-1)
    assert image_dhash(png_encode(gray)) == image_dhash(png_encode(rgb))
    # undecodable / too-small payloads → None
    assert image_dhash(b"not an image") is None
    assert image_dhash(png_encode(np.zeros((4, 4), dtype=np.uint8))) is None


def test_image_near_dup_pairs(spark):
    from docling_eval_spark.operators.multimodal import (
        cell_grid_image,
        image_near_dup_pairs,
    )

    rows = []
    for i in range(20):
        rows.append((i, bytearray(cell_grid_image(i))))
    # twins for 3 images (brightness-shifted → Hamming 0)
    for i in (0, 5, 9):
        rows.append((100 + i, bytearray(cell_grid_image(i, brightness=7))))
    rows.append((999, bytearray(b"corrupt bytes")))  # must never pair
    df = spark.createDataFrame(rows, "id long, media binary")
    got = {
        (r.id_l, r.id_r, r.hamming)
        for r in image_near_dup_pairs(df, "id", "media", max_hamming=2).collect()
    }
    assert got == {(0, 100, 0), (5, 105, 0), (9, 109, 0)}


def test_audio_ehash_invariances():
    from docling_eval_spark.operators.multimodal import audio_ehash, tone_block_wav
    from media_fixtures import wav_encode

    import numpy as np

    h = audio_ehash(tone_block_wav(42))
    # uniform gain never changes the RMS ordering
    assert audio_ehash(tone_block_wav(42, gain=2)) == h
    # different seed → far in Hamming space
    h2 = audio_ehash(tone_block_wav(43))
    assert bin((h ^ h2) & (2**64 - 1)).count("1") > 10
    # stereo with identical channels hashes like its mono twin
    mono = np.linspace(-0.5, 0.5, 65 * 64)
    stereo = np.stack([mono, mono], axis=-1)
    assert audio_ehash(wav_encode(mono)) == audio_ehash(wav_encode(stereo))
    # undecodable / too-short payloads → None
    assert audio_ehash(b"not audio") is None
    assert audio_ehash(wav_encode(np.zeros(10))) is None


def test_audio_near_dup_pairs(spark):
    from docling_eval_spark.operators.multimodal import (
        audio_near_dup_pairs,
        tone_block_wav,
    )

    rows = [(i, bytearray(tone_block_wav(i))) for i in range(15)]
    for i in (1, 4):  # gain-doubled twins
        rows.append((100 + i, bytearray(tone_block_wav(i, gain=2))))
    rows.append((999, bytearray(b"corrupt")))
    df = spark.createDataFrame(rows, "id long, media binary")
    got = {
        (r.id_l, r.id_r, r.hamming)
        for r in audio_near_dup_pairs(df, "id", "media", max_hamming=2).collect()
    }
    assert got == {(1, 101, 0), (4, 104, 0)}


def test_video_thash_invariances():
    from docling_eval_spark.operators.multimodal import (
        tone_block_avi,
        video_thash,
    )

    h = video_thash(tone_block_avi(42))
    assert video_thash(tone_block_avi(42, brightness=10)) == h
    h2 = video_thash(tone_block_avi(43))
    assert bin((h ^ h2) & (2**64 - 1)).count("1") > 10
    # undecodable / too-short payloads → None
    assert video_thash(b"not a video") is None
    import numpy as np

    from docling_eval_spark.operators.avi_codec import avi_encode

    short = avi_encode(np.zeros((4, 8, 8, 3), dtype=np.uint8))
    assert video_thash(short) is None


def test_video_near_dup_pairs(spark):
    from docling_eval_spark.operators.multimodal import (
        tone_block_avi,
        video_near_dup_pairs,
    )

    rows = [(i, bytearray(tone_block_avi(i))) for i in range(10)]
    for i in (2, 7):  # brightness twins
        rows.append((100 + i, bytearray(tone_block_avi(i, brightness=5))))
    rows.append((999, bytearray(b"corrupt")))
    df = spark.createDataFrame(rows, "id long, media binary")
    got = {
        (r.id_l, r.id_r, r.hamming)
        for r in video_near_dup_pairs(df, "id", "media", max_hamming=2).collect()
    }
    assert got == {(2, 102, 0), (7, 107, 0)}


def test_pack_sequences_greedy_next_fit(spark):
    from docling_eval_spark.operators.text_analysis import pack_sequences

    rows = [
        # shard 0: 50+90 fit (140), 120 opens, +10 fits, 200 opens
        (0, 50, 0), (2, 90, 0), (4, 120, 0), (6, 10, 0), (8, 200, 0),
        # shard 1: oversize 300 gets its own bin even mid-stream
        (1, 80, 1), (3, 300, 1), (5, 10, 1),
        # shard 2: exact fit boundary 256 = capacity stays in-bin
        (7, 200, 2), (9, 56, 2), (11, 1, 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, n long, shard int")
    got = {
        (r.shard, r.id): (r.seq_id, r.seq_offset, r.n_tokens)
        for r in pack_sequences(df, "doc_id", "n", 256, "shard").collect()
    }
    assert got == {
        (0, 0): (0, 0, 50), (0, 2): (0, 50, 90),
        (0, 4): (1, 0, 120), (0, 6): (1, 120, 10), (0, 8): (2, 0, 200),
        (1, 1): (0, 0, 80), (1, 3): (1, 0, 300), (1, 5): (2, 0, 10),
        (2, 7): (0, 0, 200), (2, 9): (0, 200, 56), (2, 11): (1, 0, 1),
    }
    # determinism under different input partitioning
    got2 = {
        (r.shard, r.id): (r.seq_id, r.seq_offset, r.n_tokens)
        for r in pack_sequences(
            df.repartition(7), "doc_id", "n", 256, "shard"
        ).collect()
    }
    assert got2 == got


def test_dsir_weights_separate_target_vocab(spark):
    """Buckets dominated by target-only tokens get positive weight,
    raw-only buckets negative, and scoring ranks a target-like doc
    above a raw-like one."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.training import (
        dsir_bucket_weights,
        dsir_scores,
        dsir_topk,
    )

    rows = (
        # target docs: pure "alpha beta" vocabulary
        [(i, "alpha beta alpha beta", "en") for i in range(10)]
        # raw-only docs: pure "gamma delta"
        + [(100 + i, "gamma delta gamma delta", "zh") for i in range(10)]
        # mixed doc + empty doc
        + [(200, "alpha gamma", "zh"), (201, "", "zh")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = dsir_bucket_weights(df, "text", F.col("lang") == "en", buckets=64)
    s = dsir_scores(df, "doc_id", "text", w, buckets=64)
    by_id = {r.id: r for r in s.collect()}
    assert by_id[201].score_micro == 0 and by_id[201].n_tokens == 0
    assert by_id[0].score_micro > 0 > by_id[100].score_micro
    # mixed doc sits strictly between
    assert by_id[100].score_micro < by_id[200].score_micro < by_id[0].score_micro
    top = dsir_topk(
        df, "doc_id", "text", F.col("lang") == "en", k=10, buckets=64
    ).collect()
    assert [r.id for r in top] == list(range(10))  # ties broken by id asc


def test_hits_hand_graph_exact(spark):
    """Two hubs, two authorities, worked by hand for 2 iterations:
    h1→{a1,a2}, h2→{a1} ⇒ auth a1=5, a2=3; hub h1=8, h2=5 (exact
    integer mode) → normalized (1, .625) hubs and (1, .6) auths."""
    from docling_eval_spark.operators.web_ops import hits

    edges = spark.createDataFrame(
        [("h1", "a1"), ("h1", "a2"), ("h2", "a1")], "src string, dst string"
    )
    got = {r.node: (r.hub, r.auth) for r in hits(edges, iterations=2).collect()}
    assert got == {
        "h1": (1.0, 0.0),
        "h2": (0.625, 0.0),
        "a1": (0.0, 1.0),
        "a2": (0.0, 0.6),
    }


def test_hits_sparse_loop_matches_dense_reference(spark):
    """The sparse-state loop (zero-score nodes folded in only at the
    final output) must equal a dense pure-Python reference EXACTLY —
    integer-valued arithmetic, so no tolerance. Graph mixes only-out
    (d), only-in (e), both-side nodes and a parallel edge; 3
    iterations exercises the mid-loop checkpoint."""
    from docling_eval_spark.operators.web_ops import hits

    edge_list = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("a", "c"), ("a", "c"),  # parallel edge: multiplicity counts
        ("d", "c"), ("c", "e"),
    ]

    def dense_hits(edges, iters):
        nodes = {n for e in edges for n in e}
        hub = {n: 1.0 for n in nodes}
        auth = {n: 0.0 for n in nodes}
        for _ in range(iters):
            auth = {n: 0.0 for n in nodes}
            for s, t in edges:
                auth[t] += hub[s]
            hub = {n: 0.0 for n in nodes}
            for s, t in edges:
                hub[s] += auth[t]
        mh, ma = max(hub.values()), max(auth.values())
        return {
            n: (
                hub[n] / mh if mh > 0 else 0.0,
                auth[n] / ma if ma > 0 else 0.0,
            )
            for n in nodes
        }

    df = spark.createDataFrame(edge_list, "src string, dst string")
    for iters in (1, 3):
        got = {
            r.node: (r.hub, r.auth)
            for r in hits(df, iterations=iters).collect()
        }
        assert got == dense_hits(edge_list, iters), f"iters={iters}"
    # iterations=0 degenerate: init state scaled — hub 1 everywhere,
    # auth 0 everywhere
    got0 = {
        r.node: (r.hub, r.auth) for r in hits(df, iterations=0).collect()
    }
    assert got0 == {n: (1.0, 0.0) for n in "abcde"}


def test_temperature_mix_flattens_head_domain(spark):
    from docling_eval_spark.operators.web_ops import temperature_mix_sample

    # head domain 800 rows, tail 50 — alpha=0.5 keeps a LARGER share
    # of the tail than of the head
    rows = [(i, "head") for i in range(800)] + [
        (1000 + i, "tail") for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    out = temperature_mix_sample(df, "dom", "doc_id", budget=200, alpha=0.5)
    got = {r[0]: r[1] for r in out.groupBy("dom").count().collect()}
    n_head, n_tail = got.get("head", 0), got.get("tail", 0)
    # expected ~169 head (rate .21) and ~42 tail (rate .84)
    assert 120 <= n_head <= 220 and 25 <= n_tail <= 50
    assert n_tail / 50 > n_head / 800  # flattening
    assert abs((n_head + n_tail) - 200) < 60  # budget in expectation
    # deterministic under repartitioning
    out2 = temperature_mix_sample(
        df.repartition(5), "dom", "doc_id", budget=200, alpha=0.5
    )
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in out2.collect()
    )
    # rate >= 1 keeps every row (tiny corpus, big budget)
    tiny = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, dom string")
    assert temperature_mix_sample(tiny, "dom", "doc_id", budget=10).count() == 2


def test_span_corrupt_roundtrip_and_rate(spark):
    from docling_eval_spark.operators.training import span_corrupt

    rows = [
        (1, " ".join(f"w{i}" for i in range(100))),   # 5 full blocks
        (2, " ".join(f"w{i}" for i in range(37))),    # partial tail block
        (3, "only two"),                              # block shorter than span+off (maybe)
        (4, ""),                                      # empty
        (5, " ".join(f"w{i}" for i in range(20))),    # exactly one block
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in span_corrupt(df, "doc_id", "text").collect()}

    assert out[4].n_tokens == 0 and out[4].n_masked == 0
    assert out[4].input_text == "" and out[4].target_text == ""

    for did, text in rows:
        orig = text.split()
        r = out[did]
        assert r.n_tokens == len(orig)
        inp = r.input_text.split() if r.input_text else []
        tgt = r.target_text.split() if r.target_text else []
        # parse target into {sentinel: [tokens...]}
        spans, cur = {}, None
        for t in tgt:
            if t.startswith("<extra_id_"):
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        # every masked span is exactly `span` tokens
        assert all(len(v) == 3 for v in spans.values())
        assert r.n_masked == 3 * len(spans)
        # splice targets back into input -> original token stream
        rebuilt = []
        for t in inp:
            if t.startswith("<extra_id_"):
                rebuilt.extend(spans[t])
            else:
                rebuilt.append(t)
        assert rebuilt == orig
        # corruption rate: every FULL block is masked once
        assert len(spans) >= len(orig) // 20

    # deterministic under repartitioning (no RNG anywhere)
    out2 = {
        r.id: r
        for r in span_corrupt(df.repartition(7), "doc_id", "text").collect()
    }
    assert {k: (v.input_text, v.target_text) for k, v in out.items()} == {
        k: (v.input_text, v.target_text) for k, v in out2.items()
    }

    import pytest as _pt

    with _pt.raises(ValueError):
        span_corrupt(df, "doc_id", "text", block=3, span=3)


def test_term_filter_whole_token_case_insensitive(spark):
    from docling_eval_spark.operators.text_analysis import term_filter

    df = spark.createDataFrame(
        [
            (1, "the SLOW fox"),        # case-insensitive hit
            (2, "all good here"),       # clean
            (3, "slowly does it"),      # substring must NOT trip
            (4, None),                  # null text -> kept
            (5, "tab\tslow\nnewline"),  # any whitespace delimiter
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in term_filter(df, ["Slow", "bad"]).collect())
    assert kept == [2, 3, 4]
    flags = {
        r.doc_id: r.blocked
        for r in term_filter(df, ["slow"], keep=True).collect()
    }
    assert flags == {1: True, 2: False, 3: False, 4: False, 5: True}
    # blocklist rides as a literal: no shuffle, no Python in the plan
    plan = term_filter(df, ["slow"])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan

    import pytest as _pt

    with _pt.raises(ValueError):
        term_filter(df, [])


def test_bpe_train_sennrich_example(spark):
    from docling_eval_spark.operators.bpe import bpe_encode, bpe_train

    # the worked example from Sennrich et al. 2016 (public): vocab
    # low:5 lower:2 newest:6 widest:3 -> first merges build 'est</w>'
    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    m = bpe_train(df, merges=5).collect()
    got = [(r.rank, r.left, r.right, r.freq) for r in m]
    assert got == [
        (1, "e", "s", 9),
        (2, "es", "t", 9),
        (3, "est", "</w>", 9),
        (4, "l", "o", 7),
        (5, "lo", "w", 7),
    ]
    # encode with the learned rules: 'low' fully merges, 'lower' not
    rules = [(r.left, r.right) for r in m]
    enc = bpe_encode(
        spark.createDataFrame([(1, "low lower")], "doc_id long, text string"),
        rules,
    )
    assert enc.first().bpe_tokens == ["low", "</w>", "low", "e", "r", "</w>"]
    # deterministic under partitioning (tie-break is total)
    m2 = bpe_train(df.repartition(6), merges=5).collect()
    assert [(r.rank, r.left, r.right, r.freq) for r in m2] == got


def test_bpe_train_early_stop_and_greedy_fold(spark):
    from docling_eval_spark.operators.bpe import bpe_train

    # single 1-char word: chars + </w> give exactly one pair, then
    # the fully-merged symbol has no pairs left -> early stop
    df = spark.createDataFrame([(1, "a a a")], "doc_id long, text string")
    m = bpe_train(df, merges=10).collect()
    assert [(r.rank, r.merged) for r in m] == [(1, "a</w>")]

    # greedy leftmost non-overlap: 'aaaa' with merge (a,a) -> aa|aa,
    # never the regex-scan artifact aa|a|a
    df2 = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], "doc_id long, text string"
    )
    m2 = bpe_train(df2, merges=2).collect()
    assert (m2[0].left, m2[0].right, m2[0].freq) == ("a", "a", 9)
    # after merging (a,a) greedily, each word is [aa, aa, </w>]
    # (NOT the regex-scan artifact [aa, a, a]): rank-2 candidates are
    # (aa,aa) and (aa,</w>) both at freq 3 — the lexicographic
    # tie-break picks (aa,</w>) since '<' sorts before 'a'
    assert (m2[1].left, m2[1].right, m2[1].freq) == ("aa", "</w>", 3)

    import pytest as _pt

    with _pt.raises(ValueError):
        bpe_train(df, merges=0)


def test_mlm_mask_deterministic_801010(spark):
    from docling_eval_spark.operators.training import mlm_mask

    vocab = ["alpha", "beta", "gamma"]
    rows = [(i, " ".join(f"w{j}" for j in range(200))) for i in range(20)] + [
        (100, ""),
        (101, "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in mlm_mask(df, "doc_id", vocab).collect()}

    assert out[100].n_tokens == 0 and out[100].masked_text == ""
    big = [out[i] for i in range(20)]
    # selection rate ~15% corpus-wide
    rate = sum(r.n_selected for r in big) / sum(r.n_tokens for r in big)
    assert 0.12 < rate < 0.18, rate
    n_mask = n_rand = n_keep = 0
    for r in big:
        toks = r.masked_text.split()
        orig = [f"w{j}" for j in range(200)]
        assert len(toks) == 200
        labels = dict(
            p.split(":", 1) for p in (r.labels.split() if r.labels else [])
        )
        assert len(labels) == r.n_selected
        for pos, t in labels.items():
            assert t == orig[int(pos) - 1]  # label = original token
        for j, t in enumerate(toks, start=1):
            if str(j) in labels:
                if t == "[MASK]":
                    n_mask += 1
                elif t in vocab:
                    n_rand += 1
                else:
                    assert t == orig[j - 1]
                    n_keep += 1
            else:
                assert t == orig[j - 1]  # unselected tokens untouched
    tot = n_mask + n_rand + n_keep
    assert n_mask / tot > 0.7 and 0.03 < n_rand / tot < 0.2, (
        n_mask, n_rand, n_keep,
    )
    # no RNG: identical under repartitioning
    out2 = {
        r.id: r.masked_text
        for r in mlm_mask(df.repartition(9), "doc_id", vocab).collect()
    }
    assert out2 == {k: v.masked_text for k, v in out.items()}
    # zero shuffle, no Python
    plan = (
        mlm_mask(df, "doc_id", vocab)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan

    import pytest as _pt

    with _pt.raises(ValueError):
        mlm_mask(df, "doc_id", [])
    with _pt.raises(ValueError):
        mlm_mask(df, "doc_id", vocab, rate_pct=0)


def test_fim_transform_reconstruction(spark):
    from docling_eval_spark.operators.training import fim_transform

    rows = [(i, " ".join(f"w{j}" for j in range(30))) for i in range(30)] + [
        (100, "a b"),   # below min_tokens -> passthrough
        (101, ""),      # empty -> passthrough
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in fim_transform(df, "doc_id").collect()}

    assert not out[100].fim_applied and out[100].output_text == "a b"
    assert not out[101].fim_applied and out[101].output_text == ""

    applied = [out[i] for i in range(30) if out[i].fim_applied]
    passed = [out[i] for i in range(30) if not out[i].fim_applied]
    assert 5 <= len(applied) <= 25  # ~50% apply rate
    for r in passed:
        assert r.output_text == " ".join(f"w{j}" for j in range(30))
    for r in applied:
        toks = r.output_text.split()
        ip, isuf, imid = (
            toks.index("<fim_prefix>"),
            toks.index("<fim_suffix>"),
            toks.index("<fim_middle>"),
        )
        assert (ip, toks[0]) == (0, "<fim_prefix>")
        prefix, suffix, middle = (
            toks[1:isuf], toks[isuf + 1 : imid], toks[imid + 1 :],
        )
        # PSM reassembly reproduces the original token stream
        assert prefix + middle + suffix == [f"w{j}" for j in range(30)]
        assert len(prefix) >= 1 and len(suffix) >= 1  # middle may be empty

    # deterministic under repartitioning
    out2 = {
        r.id: r.output_text
        for r in fim_transform(df.repartition(7), "doc_id").collect()
    }
    assert out2 == {k: v.output_text for k, v in out.items()}
    # fim_pct=0 -> pure passthrough; 100 -> every eligible doc
    all_off = fim_transform(df, "doc_id", fim_pct=0).collect()
    assert not any(r.fim_applied for r in all_off)
    all_on = {
        r.id: r for r in fim_transform(df, "doc_id", fim_pct=100).collect()
    }
    assert all(all_on[i].fim_applied for i in range(30))
    assert not all_on[100].fim_applied  # still below min_tokens

    import pytest as _pt

    with _pt.raises(ValueError):
        fim_transform(df, "doc_id", fim_pct=101)
    with _pt.raises(ValueError):
        fim_transform(df, "doc_id", min_tokens=1)


def test_bitext_rare_token_blocking(spark):
    from docling_eval_spark.operators.alignment import (
        align_top1,
        bitext_candidates,
        rare_token_postings,
    )

    rows = [
        (1, "en", "rareA common common rareB uniq1"),
        (2, "en", "nothing shared here common"),
        (3, "zh", "rareA rareB common other stuff"),
        (4, "zh", "rareA common lone"),
        (5, "zh", "uniq1 rareB xx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    c = bitext_candidates(df, "doc_id", "en", "zh", max_df=3, min_shared=2)
    got = {(r.src_id, r.tgt_id): (r.n_shared, r.jaccard_micro)
           for r in c.collect()}
    # doc1 rare = {rareA, rareB, uniq1}; doc3 rare = {rareA, rareB,
    # other, stuff} -> shared 2, union 5; doc5 rare = {uniq1, rareB,
    # xx} -> shared 2, union 4. 'common' (df 4 > 3) never blocks.
    assert got == {(1, 3): (2, 400000), (1, 5): (2, 500000)}
    top = align_top1(c).collect()
    assert [(r.src_id, r.tgt_id) for r in top] == [(1, 5)]

    # hot tokens are excluded BEFORE the join: no posting for 'common'
    post = rare_token_postings(df, "doc_id", max_df=3)
    assert post.filter(post.tok == "common").count() == 0

    # n-gram blocking units
    p3 = rare_token_postings(df, "doc_id", max_df=3, ngram=3)
    assert p3.filter(p3.tok == "rarea common common").count() == 1
    # doc shorter than the gram width contributes nothing
    tiny = spark.createDataFrame(
        [(9, "en", "a b")], "doc_id long, lang string, text string"
    )
    assert rare_token_postings(tiny, "doc_id", max_df=9, ngram=3).count() == 0

    # deterministic top-1 under ties: equal score -> smallest tgt_id
    c2 = spark.createDataFrame(
        [(1, 7, 2, 500000), (1, 3, 2, 500000), (1, 9, 2, 400000)],
        "src_id long, tgt_id long, n_shared long, jaccard_micro long",
    )
    assert align_top1(c2).first().tgt_id == 3

    import pytest as _pt

    with _pt.raises(ValueError):
        rare_token_postings(df, "doc_id", max_df=0)
    with _pt.raises(ValueError):
        rare_token_postings(df, "doc_id", ngram=0)


def test_quality_percentile_gate_per_group_threshold(spark):
    import pyspark.sql.functions as F
    from docling_eval_spark.pipelines import quality_percentile_gate

    # two groups with DIFFERENT score regimes: weights put all mass on
    # one vocab bucket, so docs made of 'good' score high and docs of
    # 'bad' score low — group A mixes both, group B is all low
    w = [0] * 256
    from docling_eval_spark.operators.text_analysis import (
        portable_char_hash,
    )

    probe = spark.range(1).select(
        F.pmod(portable_char_hash(F.lit("good")), F.lit(256)).alias("g"),
        F.pmod(portable_char_hash(F.lit("bad")), F.lit(256)).alias("b"),
    ).first()
    w[probe.g] = 500
    w[probe.b] = -500
    rows = (
        [(i, "A", "good " * (i + 5)) for i in range(8)]
        + [(100 + i, "A", "bad " * (i + 5)) for i in range(8)]
        + [(200 + i, "B", "bad " * (i + 5)) for i in range(8)]
        + [(300, "B", "")]
    )
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    g = quality_percentile_gate(
        df, "doc_id", "src", pct=75, shift_milli=1024, weights=w
    )
    out = {r.id: r for r in g.collect()}
    # empty doc: never kept, excluded from the estimate
    assert not out[300].keep and out[300].mean_milli is None
    # group A: the 'good' half scores 1524/token, the 'bad' half 524;
    # nearest-rank p75 over the 50/50 mix lands in the high bucket ->
    # exactly the good docs survive
    for i in range(8):
        assert out[i].keep and out[i].mean_milli == 1524
        assert not out[100 + i].keep and out[100 + i].mean_milli == 524
    # group B is ALL 'bad' docs, same 524 score A rejected — but B's
    # OWN p75 keeps them: the threshold is per-group, not global
    assert all(out[200 + i].keep for i in range(8))
    # thresholds differ between groups
    assert out[0].thr > out[200].thr
    # deterministic under repartitioning
    g2 = quality_percentile_gate(
        df.repartition(5), "doc_id", "src", pct=75, shift_milli=1024, weights=w
    )
    assert {r.id: r.keep for r in g2.collect()} == {
        k: v.keep for k, v in out.items()
    }

    import pytest as _pt

    with _pt.raises(ValueError):
        quality_percentile_gate(df, "doc_id", "src", pct=0)
    with _pt.raises(ValueError):
        quality_percentile_gate(
            df, "doc_id", "src", shift_milli=400, weights=w
        )


def test_dup_ngram_stats_hand_case(spark):
    from docling_eval_spark.operators.text_analysis import dup_ngram_stats

    a = "w1 w2 w3 w4 w5 w6 w7 w8 tailA"  # windows: [1..8], [2..9]
    b = "w1 w2 w3 w4 w5 w6 w7 w8 tailB"  # shares window [1..8] with a
    c = "x x x x x x x x x x"            # self-repeats only: 3 windows, all same hash, ONE doc
    d = "too short"                      # < 8 tokens -> zero windows
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d), (5, None)],
        ["doc_id", "text"],
    )
    for portable in (False, True):
        rows = {
            r["id"]: r
            for r in dup_ngram_stats(df, "doc_id", portable=portable).collect()
        }
        assert set(rows) == {1, 2, 3, 4, 5}
        assert rows[1]["n_grams"] == 2 and rows[1]["n_dup"] == 1
        assert rows[1]["dup_micro"] == 500000
        assert rows[2]["n_grams"] == 2 and rows[2]["n_dup"] == 1
        # within-doc repetition alone never counts as duplication
        assert rows[3]["n_grams"] == 3 and rows[3]["n_dup"] == 0
        for short_id in (4, 5):
            r = rows[short_id]
            assert r["n_grams"] == 0 and r["n_dup"] == 0
            assert r["dup_micro"] == 0


def test_trust_rank_seed_bias(spark):
    from docling_eval_spark.operators.web_ops import trust_rank

    # spam <-> spam2 form their own 2-cycle; good/hub/a form the
    # trusted neighborhood. Seeding only 'good' must leave the spam
    # island at exactly 0 (unreachable from any seed — the property
    # that separates TrustRank from uniform-teleport PageRank).
    edges = spark.createDataFrame(
        [
            ("good", "hub"),
            ("hub", "a"),
            ("a", "good"),
            ("spam", "spam2"),
            ("spam2", "spam"),
        ],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("good",)], "node string")
    ranks = {
        r["node"]: r["rank"] for r in trust_rank(edges, seeds, 20).collect()
    }
    assert ranks["spam"] == 0.0 and ranks["spam2"] == 0.0
    assert ranks["good"] > 0 and ranks["hub"] > 0 and ranks["a"] > 0
    # trust decays along the chain from the seed
    assert ranks["good"] > ranks["hub"] > ranks["a"]
    # deterministic across partitionings up to summation-order ulps
    r2 = {
        r["node"]: r["rank"]
        for r in trust_rank(edges.repartition(5), seeds, 20).collect()
    }
    assert {k: round(v, 9) for k, v in ranks.items()} == {
        k: round(v, 9) for k, v in r2.items()
    }


def test_trust_rank_seeds_outside_graph(spark):
    from docling_eval_spark.operators.web_ops import trust_rank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    # ghost seed is dropped before |S| is counted: teleport mass all
    # lands on 'a', so ranks match the seeds=['a'] run exactly
    seeds_with_ghost = spark.createDataFrame(
        [("a",), ("ghost",)], "node string"
    )
    seeds_clean = spark.createDataFrame([("a",)], "node string")
    r1 = {r["node"]: r["rank"]
          for r in trust_rank(edges, seeds_with_ghost, 5).collect()}
    r2 = {r["node"]: r["rank"]
          for r in trust_rank(edges, seeds_clean, 5).collect()}
    assert r1 == r2
    # all-ghost seed set is an error, not a silent zero vector
    import pytest as _pytest

    with _pytest.raises(ValueError):
        trust_rank(
            edges, spark.createDataFrame([("ghost",)], "node string"), 2
        )


def test_host_boilerplate_strip(spark):
    from docling_eval_spark.operators.web_ops import host_boilerplate_strip

    rows = [
        # host h1: MENU on all 3 pages (template), 'shared quote' on
        # 2 pages (below min_pages=3 — survives)
        (1, "h1", "MENU\nalpha one\nshared quote"),
        (2, "h1", "MENU\nbeta two\nshared quote"),
        (3, "h1", "MENU\ngamma three"),
        # host h2 also has a MENU line — but only on ONE page, so
        # host-scoping must keep it (a corpus-wide rule would not)
        (4, "h2", "MENU\ndelta four"),
    ]
    df = spark.createDataFrame(rows, "id long, host string, text string")
    out = {
        r["id"]: r["text"]
        for r in host_boilerplate_strip(df, "id", "host").collect()
    }
    assert out[1] == "alpha one\nshared quote"
    assert out[2] == "beta two\nshared quote"
    assert out[3] == "gamma three"
    assert out[4] == "MENU\ndelta four"


def test_host_boilerplate_all_template_page_absent(spark):
    from docling_eval_spark.operators.web_ops import host_boilerplate_strip

    rows = [
        (1, "h", "FOOT"),
        (2, "h", "FOOT"),
        (3, "h", "FOOT"),
        (4, "h", "FOOT\nreal content"),
    ]
    df = spark.createDataFrame(rows, "id long, host string, text string")
    out = {
        r["id"]: r["text"]
        for r in host_boilerplate_strip(df, "id", "host").collect()
    }
    # pages 1-3 were pure template -> absent (line_dedup convention)
    assert set(out) == {4}
    assert out[4] == "real content"


def test_crawl_trap_score(spark):
    from docling_eval_spark.operators.web_ops import crawl_trap_score

    urls = (
        # trap.example: 30 urls, ALL one skeleton (/cal?d=N -> '/cal?d')
        [(f"https://trap.example/cal?d={i}",) for i in range(30)]
        # ok.example: 30 urls, 30 distinct static paths
        + [(f"https://ok.example/{'p' * (i + 1)}",) for i in range(30)]
    )
    df = spark.createDataFrame(urls, "url string")
    out = {r["host"]: r for r in crawl_trap_score(
        df, min_urls=20, ratio=5.0).collect()}
    t = out["trap.example"]
    assert t["n_urls"] == 30 and t["n_skeletons"] == 1 and t["trap"]
    o = out["ok.example"]
    assert o["n_urls"] == 30 and o["n_skeletons"] == 30 and not o["trap"]


def test_crawl_trap_skeleton_collapse(spark):
    from docling_eval_spark.operators.web_ops import crawl_trap_score

    # digit runs, param VALUES, param ORDER and fragments all fold
    # into one skeleton; a different param NAME does not
    df = spark.createDataFrame(
        [
            ("https://h.example/a/1/b?x=1&y=2",),
            ("https://h.example/a/22/b?y=9&x=8#frag",),
            ("https://h.example/a/333/b?x=0&y=0",),
            ("https://h.example/a/1/b?z=1",),
        ],
        "url string",
    )
    r = crawl_trap_score(df, min_urls=1, ratio=1.0).collect()[0]
    assert r["n_urls"] == 4 and r["n_skeletons"] == 2


def test_link_reciprocity(spark):
    from docling_eval_spark.operators.web_ops import link_reciprocity

    edges = spark.createDataFrame(
        [
            ("a", "b"),
            ("b", "a"),  # reciprocal pair
            ("a", "c"),  # one-way
            ("d", "d"),  # self-loop: excluded entirely
            ("a", "b"),  # duplicate edge: counted once
        ],
        "src string, dst string",
    )
    out = {r["node"]: r for r in link_reciprocity(edges).collect()}
    assert set(out) == {"a", "b"}  # c and d have no non-loop outlinks
    assert out["a"]["out_deg"] == 2 and out["a"]["n_reciprocal"] == 1
    assert out["a"]["reciprocity"] == 0.5
    assert out["b"]["out_deg"] == 1 and out["b"]["reciprocity"] == 1.0


def test_merge_recrawl_statuses(spark):
    from docling_eval_spark.operators.temporal import merge_recrawl

    base = spark.createDataFrame(
        [
            ("u1", 10, "dA", "p1"),  # will be UPDATED (newer, new digest)
            ("u2", 10, "dB", "p2"),  # will be REFRESHED (newer, same digest)
            ("u3", 10, "dC", "p3"),  # will be STALE (batch is older)
            ("u4", 10, "dD", "p4"),  # untouched -> KEPT
        ],
        "url string, crawl_ts long, digest string, payload string",
    )
    fresh = spark.createDataFrame(
        [
            ("u1", 20, "dX", "q1"),
            ("u1", 15, "dY", "q1b"),  # loses the in-batch collapse
            ("u2", 20, "dB", "q2"),
            ("u3", 5, "dZ", "q3"),
            ("u5", 20, "dE", "q5"),  # ADDED
        ],
        "url string, crawl_ts long, digest string, payload string",
    )
    out = {r["url"]: r for r in merge_recrawl(base, fresh).collect()}
    assert len(out) == 5
    assert out["u1"]["merge_status"] == "UPDATED"
    assert (out["u1"]["crawl_ts"], out["u1"]["digest"], out["u1"]["payload"]) == (20, "dX", "q1")
    assert out["u2"]["merge_status"] == "REFRESHED"
    assert out["u2"]["payload"] == "q2"  # ts bumped, content same
    assert out["u3"]["merge_status"] == "STALE"
    assert out["u3"]["payload"] == "p3"  # base row survives
    assert out["u4"]["merge_status"] == "KEPT"
    assert out["u5"]["merge_status"] == "ADDED"
    # schema mismatch is an error, not a silent column drop
    import pytest as _pytest

    with _pytest.raises(ValueError):
        merge_recrawl(base, fresh.drop("payload"))


def test_crawl_budget_plan(spark):
    from docling_eval_spark.operators.frontier import crawl_budget_plan

    rows = []
    # host trap.ex: 30 calendar urls fetched once each -> trap, budget 0
    rows += [(f"https://trap.ex/cal?d={i}", i, "d0") for i in range(30)]
    # host churn.ex: 3 urls x 4 fetches, digest changes every fetch
    rows += [
        (f"https://churn.ex/p{u}", t * 10 + u, f"d{t}")
        for u in range(3)
        for t in range(4)
    ]
    # host static.ex: 3 urls x 4 fetches, digest never changes
    rows += [
        (f"https://static.ex/p{u}", t * 10 + u, "dS")
        for u in range(3)
        for t in range(4)
    ]
    df = spark.createDataFrame(
        rows, "url string, crawl_ts long, digest string"
    )
    out = {
        r["host"]: r
        for r in crawl_budget_plan(
            df, min_urls=20, trap_ratio=5.0, base_budget=100
        ).collect()
    }
    t = out["trap.ex"]
    assert t["trap"] and t["budget"] == 0
    c, s = out["churn.ex"], out["static.ex"]
    assert not c["trap"] and not s["trap"]
    # churny: 9 refetches all CHANGED -> (100*(1+18))//(1+9) = 190
    assert c["n_changed"] == 9 and c["budget"] == 190
    # static: 9 refetches all UNCHANGED -> (100*1)//10 = 10
    assert s["n_changed"] == 0 and s["budget"] == 10
    assert c["budget"] > s["budget"]


def test_elect_survivors(spark):
    from docling_eval_spark.operators.dedup import elect_survivors

    members = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (7, 200), (8, 200)],
        "node long, component long",
    )
    scores = spark.createDataFrame(
        # cluster 100: node 2 has the best score; cluster 200: tie ->
        # greater node id wins (deterministic total order)
        [(1, 50), (2, 90), (3, 70), (7, 40), (8, 40)],
        "node long, score long",
    )
    out = {
        r["component"]: r
        for r in elect_survivors(members, scores).collect()
    }
    assert out[100]["survivor"] == 2 and out[100]["survivor_score"] == 90
    assert out[100]["n_members"] == 3
    assert out[200]["survivor"] == 8  # tie broken by greatest id
    assert out[200]["n_members"] == 2


def test_cap_per_key_budget(spark):
    from docling_eval_spark.operators.web_ops import cap_per_key_budget

    df = spark.createDataFrame(
        [(h, f"{h}/u{i}") for h in ("a", "b", "c") for i in range(10)],
        "host string, url string",
    )
    budgets = spark.createDataFrame(
        [("a", 3), ("b", 0), ("c", 100)], "host string, budget long"
    )
    out = cap_per_key_budget(df, budgets, "host", "url").collect()
    by = {}
    for r in out:
        by.setdefault(r["host"], []).append(r["url"])
    # exactly the budget (or all rows if fewer)
    assert len(by["a"]) == 3
    assert "b" not in by  # budget 0 drops the key entirely
    assert len(by["c"]) == 10
    # deterministic pick across partitionings
    out2 = cap_per_key_budget(
        df.repartition(7), budgets, "host", "url"
    ).collect()
    assert {r["url"] for r in out2} == {r["url"] for r in out}


def test_cdc_chunk_table(spark):
    from docling_eval_spark.operators.text_analysis import cdc_chunk_table

    base = "the quick brown fox jumps over the lazy dog " * 30
    edited = base[:500] + "INSERTED EDIT " + base[500:]
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, ""), (4, "tiny")],
        "id long, text string",
    )
    rows = cdc_chunk_table(df, "id").collect()
    by: dict = {}
    for r in rows:
        by.setdefault(r["id"], []).append(r)
    # empty doc absent; short doc = one whole chunk
    assert 3 not in by
    assert len(by[4]) == 1 and by[4][0]["chunk_len"] == 4
    # chunks tile the normalized text exactly
    import re

    norm = re.sub(r"[ \t\n\r\f\v]+", " ", base).strip(" ")
    assert sum(r["chunk_len"] for r in by[1]) == len(norm)
    assert [r["chunk_no"] for r in sorted(by[1], key=lambda r: r["chunk_no"])] == list(
        range(len(by[1]))
    )
    # resync: an insertion changes only local chunks — the digest
    # MULTISETS before and after the edit share most elements
    from collections import Counter

    c1 = Counter(r["chunk_md5"] for r in by[1])
    c2 = Counter(r["chunk_md5"] for r in by[2])
    shared = sum((c1 & c2).values())
    assert shared >= sum(c1.values()) - 2  # at most the edited chunk lost
    # determinism across partitionings
    r2 = cdc_chunk_table(df.repartition(5), "id").collect()
    assert {(r["id"], r["chunk_no"], r["chunk_md5"]) for r in r2} == {
        (r["id"], r["chunk_no"], r["chunk_md5"]) for r in rows
    }


def test_ccnet_buckets_query(spark):
    import __spark_entry__ as entry

    out = entry.queries()["ccnet_buckets"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r["lang"], []).append(r)
    for lang, rs in by.items():
        assert sorted(r["bucket"] for r in rs) == [1, 2, 3]
        rs = sorted(rs, key=lambda r: r["bucket"])
        # terciles are ordered: head max <= middle min etc., and
        # sizes differ by at most 1 (ntile contract)
        assert rs[0]["max_ppx_micro"] <= rs[1]["min_ppx_micro"]
        assert rs[1]["max_ppx_micro"] <= rs[2]["min_ppx_micro"]
        sizes = [r["n_docs"] for r in rs]
        assert max(sizes) - min(sizes) <= 1


def test_cdc_spark_matches_py_twin(spark):
    from docling_eval_spark.operators.text_analysis import (
        cdc_chunk_table,
        cdc_chunks_py,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog " * 12,
        "short",
        "a b  c\t d " * 40,
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    got = {}
    for r in cdc_chunk_table(df, "id").collect():
        got.setdefault(r["id"], []).append((r["chunk_no"], r["chunk_len"]))
    for i, t in enumerate(texts):
        spans = cdc_chunks_py(t)
        exp = [(j, e - s + 1) for j, (s, e) in enumerate(spans)]
        assert sorted(got[i]) == exp, (i, got[i], exp)


def test_merge_recrawl_idempotent(spark):
    """Re-applying the SAME batch to the merged view is a no-op: every
    touched key resolves to REFRESHED (fresh equals the standing row)
    or STALE (standing row already newer), and the payload set is
    unchanged — the invariant that makes retried merge jobs safe."""
    from docling_eval_spark.operators.temporal import merge_recrawl

    base = spark.createDataFrame(
        [("u1", 10, "dA"), ("u2", 10, "dB"), ("u3", 10, "dC")],
        "url string, crawl_ts long, digest string",
    )
    fresh = spark.createDataFrame(
        [("u1", 20, "dX"), ("u2", 5, "dY"), ("u4", 7, "dZ")],
        "url string, crawl_ts long, digest string",
    )
    m1 = merge_recrawl(base, fresh)
    view1 = m1.drop("merge_status")
    m2 = merge_recrawl(view1, fresh)
    rows1 = {tuple(r) for r in view1.collect()}
    rows2 = {tuple(r) for r in m2.drop("merge_status").collect()}
    assert rows1 == rows2
    st = {r["url"]: r["merge_status"] for r in m2.collect()}
    assert st["u1"] == "REFRESHED"  # fresh row == standing row
    assert st["u2"] == "STALE"      # standing row already newer
    assert st["u4"] == "REFRESHED"
    assert st["u3"] == "KEPT"


def test_trust_rank_sparse_loop_matches_dense_reference(spark):
    """The sparse-state loop (only seeds ∪ contribution receivers
    per iteration) must match a dense pure-Python reference to
    summation-order ulps, and unreachable nodes must be EXACTLY 0.
    Graph mixes a no-in-edge seed, a dangling seed, multi-hop
    reach and an unreachable island."""
    from docling_eval_spark.operators.web_ops import trust_rank

    edge_list = [
        ("s1", "a"), ("a", "b"), ("b", "c"), ("a", "c"),
        ("s2", "a"),            # second seed, also no in-edges
        ("c", "dangle"),        # reachable sink
        ("x", "y"), ("y", "x"),  # unreachable island
    ]
    seed_list = ["s1", "s2", "dangle"]  # 'dangle' has no out-edges

    def dense_trust(edges, seed_set, iters, d=0.85):
        nodes = {n for e in edges for n in e}
        live = [s for s in seed_set if s in nodes]
        t = 1.0 / len(live)
        base = (1.0 - d) * t
        from collections import defaultdict

        deg = defaultdict(int)
        for s, _ in edges:
            deg[s] += 1
        rank = {n: (t if n in live else 0.0) for n in nodes}
        for _ in range(iters):
            s_in = {n: 0.0 for n in nodes}
            for u, v in edges:
                s_in[v] += rank[u] / deg[u]
            rank = {
                n: (base if n in live else 0.0) + d * s_in[n]
                for n in nodes
            }
        return rank

    df = spark.createDataFrame(edge_list, "src string, dst string")
    sdf = spark.createDataFrame([(x,) for x in seed_list], "node string")
    for iters in (1, 3, 8):  # 8 > the checkpoint interval: exercises the lineage cut
        got = {r.node: r.rank for r in trust_rank(df, sdf, iters).collect()}
        want = dense_trust(edge_list, seed_list, iters)
        assert set(got) == set(want)
        for n in got:
            if want[n] == 0.0:
                assert got[n] == 0.0, (iters, n)  # exact, not approximate
            else:
                assert abs(got[n] - want[n]) < 1e-12, (iters, n)


def test_graph_exact_fixpoint_stop_is_value_identical(spark):
    """tol=0.0 (exact-fixpoint early stop) must reproduce the
    fixed-count output EXACTLY at the gate's rounding on both loop
    shapes: (a) a bipartite graph, where srcs have no in-edges so the
    vectors stabilize after 2 (page_rank) / 1 (trust_rank) iterations
    and the stop actually fires; (b) a cyclic graph, where the ranks
    oscillate and the stop must NOT fire within the budget — output
    equals the fixed-count run trivially, guarding against a
    premature break."""
    from docling_eval_spark.operators.web_ops import page_rank, trust_rank

    bipartite = spark.createDataFrame(
        [("o1", "p1"), ("o1", "p2"), ("o2", "p1"), ("o3", "p3")],
        "src string, dst string",
    )
    cyclic = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")],
        "src string, dst string",
    )
    for edges in (bipartite, cyclic):
        fixed = {
            r["node"]: round(r["rank"], 6)
            for r in page_rank(edges, 10, tol=None).collect()
        }
        stopped = {
            r["node"]: round(r["rank"], 6)
            for r in page_rank(edges, 10, tol=0.0).collect()
        }
        assert fixed == stopped
    seeds = spark.createDataFrame([("p1",), ("p3",)], "node string")
    fixed = {
        r["node"]: round(r["rank"], 6)
        for r in trust_rank(bipartite, seeds, 8, tol=None).collect()
    }
    stopped = {
        r["node"]: round(r["rank"], 6)
        for r in trust_rank(bipartite, seeds, 8, tol=0.0).collect()
    }
    assert fixed == stopped
    # cyclic trust: seed inside the cycle keeps the vector moving
    cseeds = spark.createDataFrame([("hub",)], "node string")
    fixed = {
        r["node"]: round(r["rank"], 6)
        for r in trust_rank(cyclic, cseeds, 8, tol=None).collect()
    }
    stopped = {
        r["node"]: round(r["rank"], 6)
        for r in trust_rank(cyclic, cseeds, 8, tol=0.0).collect()
    }
    assert fixed == stopped


def test_trust_rank_mass_bounds(spark):
    """Invariant of the seed-teleport recurrence: with r0 summing to
    1 over the seed set and no negative terms, total rank mass stays
    in (0, 1] at every iteration count and every rank is
    non-negative."""
    from docling_eval_spark.operators.web_ops import trust_rank

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "s"), ("a", "c"), ("c", "c2")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",), ("a",)], "node string")
    for iters in (1, 4, 9):
        rows = trust_rank(edges, seeds, iters).collect()
        total = sum(r["rank"] for r in rows)
        assert all(r["rank"] >= 0 for r in rows)
        assert 0 < total <= 1 + 1e-12, (iters, total)


def test_host_boilerplate_only_removes_lines(spark):
    """The strip is subtractive and order-preserving: every output
    page's line sequence is a subsequence of its input's."""
    from docling_eval_spark.operators.web_ops import host_boilerplate_strip

    rows = [
        (i, f"h{i % 2}", "\n".join(f"line {j} of {i % 3}" for j in range(6)))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "id long, host string, text string")
    out = {r["id"]: r["text"] for r in host_boilerplate_strip(
        df, "id", "host", min_pages=2).collect()}
    inp = {i: t.split("\n") for i, _, t in rows}
    for i, text in out.items():
        got = text.split("\n")
        # subsequence check
        it = iter(inp[i])
        assert all(any(line == x for x in it) for line in got), (i, got)


def test_lev_fast_identity_vs_plain_levenshtein(spark):
    """The substring fast path must equal plain levenshtein on every
    pair — substring hits (both directions), empty sides, and
    genuinely diverged pairs that fall through to the DP."""
    import pyspark.sql.functions as F

    import __spark_entry__ as entry

    pairs = [
        ("abc", "xx abc yy"),          # a inside b
        ("prefix abc suffix", "abc"),  # b inside a
        ("", "anything"),              # empty a
        ("anything", ""),              # empty b
        ("", ""),
        ("same", "same"),
        ("kitten", "sitting"),         # classic diverged pair (3)
        ("abcdef", "azcdyf"),
        ("ab", "ba"),
        ("abc" * 200, "xyz" + "abc" * 200 + "qq"),
    ]
    df = spark.createDataFrame(pairs, "a string, b string")
    rows = df.select(
        entry._lev_fast(F.col("a"), F.col("b")).alias("fast"),
        F.levenshtein("a", "b").cast("bigint").alias("plain"),
    ).collect()
    for r, (a, b) in zip(rows, pairs):
        assert r["fast"] == r["plain"], (a, b, r["fast"], r["plain"])


def test_cdc_chunks_arrow_matches_sql_engine(spark, oracle_dir):
    """The vectorized boundary kernel must reproduce the DuckDB
    oracle's SQL chunks exactly — boundaries, lengths and digests — on
    sf0.001 plus shorter-than-k, whitespace-only and empty edges."""
    from conftest import EDGE_ID0, assert_matches_oracle

    rows = assert_matches_oracle(spark, oracle_dir, "cdc_chunks")
    ids = {r[0] for r in rows}
    # "ab" is one chunk; "", whitespace-only and NULL are absent
    assert [r[1:3] for r in rows if r[0] == EDGE_ID0 + 1] == [(0, 2)]
    assert not ids & {EDGE_ID0, EDGE_ID0 + 2, EDGE_ID0 + 3}


def test_cms_build_arrow_matches_sql_engine(spark, oracle_dir):
    """The batch-dedup hashing kernel must produce the sketch the
    DuckDB oracle's SQL builds — every counter cell, seen through the
    ``cms_heavy_hitters`` estimates."""
    from conftest import assert_matches_oracle

    rows = assert_matches_oracle(spark, oracle_dir, "cms_heavy_hitters")
    assert all(r[1] >= 1 for r in rows)
