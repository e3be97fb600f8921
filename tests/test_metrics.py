"""Metric kernels vs single-process oracles (SURVEY §5.2.1/.3)."""

from __future__ import annotations

import math
import statistics

import numpy as np
import pytest

from docling_eval_spark.evaluators.layout import (
    average_precision,
    greedy_label_matched_iou,
    image_map,
    iou_matrix,
)
from docling_eval_spark.evaluators.reading_order import ard_norm_py
from docling_eval_spark.evaluators.teds import is_complex_grid, teds_score
from docling_eval_spark.evaluators.text_metrics import (
    bleu,
    _edit_ratio,
    _set_f1_tokens,
    levenshtein,
    meteor_tokens,
    text_metrics,
    tokenize,
)


def meteor_exact(true_txt, pred_txt):
    return meteor_tokens(tokenize(true_txt), tokenize(pred_txt))


# ---------------------------------------------------------------- fixtures


def _cell(t, r, c, rs=1, cs=1):
    return dict(
        text=t,
        row_span=rs,
        col_span=cs,
        start_row_offset_idx=r,
        end_row_offset_idx=r + rs,
        start_col_offset_idx=c,
        end_col_offset_idx=c + cs,
        col_header=r == 0,
        row_header=False,
    )


# 6x5 span table in the spirit of the reference's only unit test
# (tests/test_table_evaluator.py:14-291): identity TEDS == 1.0 and
# is_complex == True.
SPAN_GRID = dict(
    num_rows=6,
    num_cols=5,
    cells=[
        _cell("lorem", 0, 0, cs=2),
        _cell("ipsum", 0, 2),
        _cell("dolor", 0, 3, cs=2),
        _cell("sit", 1, 0, rs=2),
        _cell("amet", 1, 1),
        _cell("consect", 1, 2),
        _cell("adipisc", 1, 3),
        _cell("elit", 1, 4),
        _cell("sed", 2, 1),
        _cell("eiusmod", 2, 2),
        _cell("tempor", 2, 3),
        _cell("incidid", 2, 4),
        _cell("ut", 3, 0),
        _cell("labore", 3, 1),
        _cell("dolore", 3, 2, cs=3),
        _cell("magna", 4, 0),
        _cell("aliqua", 4, 1),
        _cell("enim", 4, 2),
        _cell("ad", 4, 3),
        _cell("minim", 4, 4),
        _cell("veniam", 5, 0, cs=5),
    ],
)


def test_teds_identity_and_complex():
    assert teds_score(SPAN_GRID, SPAN_GRID) == 1.0
    assert teds_score(SPAN_GRID, SPAN_GRID, structure_only=True) == 1.0
    assert is_complex_grid(SPAN_GRID) is True


def test_teds_single_edits():
    import copy

    n_desc = 6 + len(SPAN_GRID["cells"])  # 6 tr + 21 td = 27
    g = copy.deepcopy(SPAN_GRID)
    g["cells"][20]["text"] = "XXXXXX"  # full rename of 'veniam' → cost 1
    assert teds_score(SPAN_GRID, g) == round(1 - 1 / n_desc, 3)
    assert teds_score(SPAN_GRID, g, structure_only=True) == 1.0
    g2 = copy.deepcopy(SPAN_GRID)
    g2["cells"] = g2["cells"][:-1]  # delete one td → cost 1
    assert teds_score(SPAN_GRID, g2) == round(1 - 1 / n_desc, 3)
    g3 = copy.deepcopy(SPAN_GRID)
    g3["cells"][20]["col_span"] = 4  # span mismatch → rename cost 1
    assert teds_score(SPAN_GRID, g3, structure_only=True) == round(
        1 - 1 / n_desc, 3
    )


def test_teds_simple_table_not_complex():
    simple = dict(
        num_rows=2, num_cols=2, cells=[_cell("a", 0, 0), _cell("b", 0, 1), _cell("c", 1, 0), _cell("d", 1, 1)]
    )
    assert is_complex_grid(simple) is False
    assert teds_score(simple, simple) == 1.0


# ---------------------------------------------------------------- ARD


def test_ard_closed_forms():
    # identity → 1.0
    assert ard_norm_py([0, 1, 2, 3])[0] == 1.0
    # reversal of n=4: sum |3-0|+|1-1|... pred=[3,2,1,0] → 3+1+1+3=8 → 1-8/16
    assert ard_norm_py([3, 2, 1, 0])[0] == 1 - 8 / 16
    # n=0 → 0.0 (reference sentinel)
    assert ard_norm_py([]) == (0.0, 0.0)
    # weighted with equal areas equals unweighted scaled by 1/n
    a, w = ard_norm_py([1, 0], [10.0, 10.0])
    assert a == 1 - 2 / 4
    assert w == 1 - (1 * 0.5 + 1 * 0.5) / 4


# ---------------------------------------------------------------- stats


def test_stats_oracle_vectors():
    vals = [0.12, 0.33, 0.47, 0.52, 0.61, 0.61, 0.78, 0.94, 0.08, 0.44]
    assert math.isclose(statistics.mean(vals), float(np.mean(vals)))
    hist, bins = np.histogram(vals, bins=20, range=(0, 1))
    assert int(hist.sum()) == len(vals)
    assert len(bins) == 21


# ---------------------------------------------------------------- text


def test_tokenize_treebank_style():
    assert tokenize("Hello, world.") == ["Hello", ",", "world", "."]
    assert tokenize("it's a test") == ["it", "'s", "a", "test"]


def test_levenshtein_and_token_edit_distance():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein([], ["a"]) == 1
    assert _edit_ratio(tokenize("a b c"), tokenize("a b c")) == 0.0
    assert _edit_ratio(tokenize("a b c"), tokenize("a x c")) == 1 / 3


def test_set_f1_hand_counts():
    # true {a,b,c}, pred {b,c,d}: inter 2 → P=2/3, R=2/3
    f1, p, r = _set_f1_tokens(tokenize("a b c"), tokenize("b c d"))
    assert p == pytest.approx(2 / 3)
    assert r == pytest.approx(2 / 3)
    assert f1 == pytest.approx(2 / 3)


def test_bleu_properties():
    s = "the quick brown fox jumps over the lazy dog today"
    assert bleu(s, s) == pytest.approx(1.0)
    assert bleu(s, "completely different words here now") == 0.0
    assert 0 < bleu(s, "the quick brown fox jumps over a lazy dog today") < 1


def test_meteor_exact_properties():
    s = "alpha beta gamma delta epsilon"
    assert meteor_exact(s, s) == pytest.approx(1 - 0.5 * (1 / 5) ** 3)
    assert meteor_exact(s, "zeta eta theta") == 0.0


def test_text_metrics_empty_guards():
    m = text_metrics("", "")
    assert m["edit_distance"] == 0.0 and m["bleu"] == 0.0
    m = text_metrics("abc", "")
    assert m["edit_distance"] == 1.0


# ---------------------------------------------------------------- layout


def test_iou_matrix_values():
    a = np.array([[0, 0, 10, 10]], dtype=float)
    b = np.array([[0, 2.5, 10, 12.5], [20, 20, 30, 30]], dtype=float)
    m = iou_matrix(a, b)
    assert m[0, 0] == pytest.approx(0.6)
    assert m[0, 1] == 0.0


def test_image_map_hand_cases():
    gt = np.array([[0, 0, 10, 10]], dtype=float)
    gl = np.array(["text"], dtype=object)
    scores = np.array([0.9])
    assert image_map(gt.copy(), gl, scores, gt, gl)["map"] == pytest.approx(1.0)
    shifted = np.array([[0, 2.5, 10, 12.5]])
    m = image_map(shifted, gl, scores, gt, gl)
    assert m["map"] == pytest.approx(0.3)  # matched at thr .5/.55/.6 only
    assert m["map_50"] == pytest.approx(1.0)
    assert m["map_75"] == pytest.approx(0.0)


def test_average_precision_tp_fp():
    # det1 tp@0.9, det2 fp@0.8 with 2 GT → COCO 101-pt AP = 51/101
    ap = average_precision(
        np.array([0.9, 0.8]), np.array([True, False]), n_gt=2
    )
    assert ap == pytest.approx(51 / 101)


def test_greedy_matching_quirk_weights():
    # reference zips all-pred weights against matches-only ious
    preds = np.array([[0, 0, 2, 2], [5, 5, 6, 6]], dtype=float)  # areas 4, 1
    labels = np.array(["a", "b"], dtype=object)
    gts = np.array([[0, 0, 2, 2]], dtype=float)
    gtl = np.array(["a"], dtype=object)
    res = greedy_label_matched_iou(preds, labels, gts, gtl, 0.5)
    # matches: pred0→gt0 iou 1.0; weights [4,1], ious [1.0] → 4*1/5
    assert res["average_iou"] == pytest.approx(0.8)
    assert res["matched_gt"] == 1
    assert res["unmatched_gt"] == 0


def test_porter_stemmer_published_cases():
    from docling_eval_spark.evaluators.porter import porter_stem

    cases = {
        "caresses": "caress", "ponies": "poni", "motoring": "motor",
        "conflated": "conflat", "hopping": "hop", "happy": "happi",
        "relational": "relat", "vietnamization": "vietnam",
        "decisiveness": "decis", "triplicate": "triplic",
        "electrical": "electr", "adjustment": "adjust",
        "adoption": "adopt", "activate": "activ", "rate": "rate",
        "controll": "control", "roll": "roll",
    }
    for w, expected in cases.items():
        assert porter_stem(w) == expected, w


def test_meteor_stem_alignment():
    # morphological variants align via the stem stage
    score = meteor_exact(
        "the cats were running quickly", "the cat was run quick"
    )
    assert score > 0.5
    # without stem matches this pair would only align 'the'
    assert meteor_exact("cats running", "zebra xylophone") == 0.0


def test_meteor_synonym_stage():
    """Bundled static synonym table (F10): pins the COVERAGE.md §F10
    fixture values; out-of-table tokens must never cross-match."""
    assert meteor_exact(
        "the big dog runs fast", "the large dog runs quickly"
    ) == pytest.approx(0.7937, abs=5e-5)
    assert meteor_exact(
        "the old house near the road", "the ancient home close to the street"
    ) == pytest.approx(0.8535, abs=5e-5)
    # two unknown tokens (both map to no synonym group) must NOT align
    assert meteor_exact("flibber jabber", "wocket gromp") == 0.0


def test_meteor_wordnet_residual_bound():
    """F10 residual, MEASURED (VERDICT r4 #9): sentences engineered so
    some aligned pairs are WordNet synonyms ABSENT from the bundled
    table. The pluggable synonym_key_fn simulates WordNet by extending
    the bundled table with those known pairs; the per-sentence residual
    (simulated-WordNet METEOR − shipped METEOR) is pinned here and
    committed in COVERAGE.md §F10. The analytic worst case is the last
    fixture: EVERY content word a WordNet-only synonym → shipped 0.0 vs
    ~1.0 (residual 0.9922 at 4 tokens, → 1 − 0.5/m³ as m grows)."""
    from docling_eval_spark.evaluators.synonyms import SYNONYM_GROUP, synonym_key
    from docling_eval_spark.evaluators.text_metrics import meteor_tokens, tokenize

    # pairs sharing a WordNet synset (ordinary dictionary knowledge)
    # and deliberately NOT in the bundled table
    wordnet_only = [
        ["gift", "present"], ["sofa", "couch"], ["jump", "leap"],
        ["sick", "ill"], ["forest", "wood"], ["middle", "center"],
    ]
    base = max(SYNONYM_GROUP.values()) + 1
    extra = {w: base + i for i, grp in enumerate(wordnet_only) for w in grp}
    for w in extra:  # the residual is only meaningful if truly absent
        assert w not in SYNONYM_GROUP, w

    def wn_key(t):
        k = synonym_key(t)
        return k if k is not None else extra.get(t.lower())

    fixtures = [  # (ref, hyp, shipped, simulated-WordNet)
        ("he gave her a gift on her birthday",
         "he gave her a present on her birthday", 0.8648, 0.9990),
        ("the sick child slept on the sofa",
         "the ill kid slept on the couch", 0.6914, 0.9985),
        ("they walked through the forest to the middle of the valley",
         "they walked through the wood to the center of the valley",
         0.8030, 0.9996),
        ("the big dog can jump over the fence quickly",
         "the large dog can leap over the fence quickly", 0.8819, 0.9993),
        ("gift sofa jump sick", "present couch leap ill", 0.0, 0.9922),
    ]
    max_residual = 0.0
    for ref, hyp, want_shipped, want_wn in fixtures:
        rt, ht = tokenize(ref), tokenize(hyp)
        shipped = meteor_tokens(rt, ht)
        wn = meteor_tokens(rt, ht, synonym_key_fn=wn_key)
        assert shipped == pytest.approx(want_shipped, abs=5e-5)
        assert wn == pytest.approx(want_wn, abs=5e-5)
        assert wn >= shipped  # subset table can only lower the score
        max_residual = max(max_residual, wn - shipped)
    assert max_residual == pytest.approx(0.9922, abs=5e-4)
    # realistic-sentence bound (non-degenerate fixtures): ≤ 0.31
    realistic = max(w - s for _, _, s, w in fixtures[:-1])
    assert realistic == pytest.approx(0.3071, abs=5e-4)
