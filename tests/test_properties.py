"""Property-based tests (hypothesis): invariants that must hold for
ANY input, not just the synthetic corpus."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_eval_spark.evaluators.reading_order import ard_norm_py
from docling_eval_spark.evaluators.teds import is_complex_grid, teds_score
from docling_eval_spark.evaluators.text_metrics import (
    levenshtein,
    text_metrics,
    tokenize,
)
from docling_eval_spark.extraction.kernel import extract_document
from docling_eval_spark.extraction.otsl import grid_to_otsl, parse_otsl

TEXT = st.text(max_size=200)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2000))
def test_extractor_total_on_arbitrary_bytes(data):
    """The kernel is total: any byte blob → a row, never an exception."""
    doc = extract_document(data)
    assert doc["status"] in ("SUCCESS", "FAILURE")
    assert isinstance(doc["text"], str)
    # charspans always consistent with the text
    for it in doc["items"]:
        s, e = it["charspan"]
        assert doc["text"][s:e] == it["text"]


@settings(max_examples=100, deadline=None)
@given(TEXT, TEXT)
def test_metric_bounds(a, b):
    m = text_metrics(a, b)
    for k, v in m.items():
        assert 0.0 <= v <= 1.0, (k, v)
    # symmetry of identity
    if tokenize(a):
        assert text_metrics(a, a)["edit_distance"] == 0.0
        assert text_metrics(a, a)["f1_score"] == 1.0


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=60), st.text(max_size=60), st.text(max_size=60))
def test_levenshtein_triangle(a, b, c):
    ab, bc, ac = levenshtein(a, b), levenshtein(b, c), levenshtein(a, c)
    assert ac <= ab + bc
    assert ab == levenshtein(b, a)


def _dp_levenshtein(a, b) -> int:
    prev = list(range(len(b) + 1))
    for i, x in enumerate(a, 1):
        cur = [i]
        for j, y in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (x != y)))
        prev = cur
    return prev[-1]


# few distinct tokens, so long sequences share many matches
TOKENS = st.lists(st.sampled_from(["a", "b", "c", "the", "of"]), max_size=150)


@settings(max_examples=150, deadline=None)
@given(
    st.one_of(
        st.tuples(TOKENS, TOKENS),
        st.tuples(
            st.lists(st.sampled_from("ab"), min_size=65, max_size=150),
            st.lists(st.sampled_from("ab"), min_size=65, max_size=150),
        ),
        st.tuples(st.text("abcd", max_size=80), st.text("abcd", max_size=80)),
        st.tuples(st.just([]), TOKENS),
        st.integers(0, 150).map(lambda n: (["x"] * n, ["x"] * n)),
    )
)
def test_levenshtein_equals_dp(pair):
    """The bit-parallel distance equals the O(n·m) DP, also past one
    64-bit word, on strings, on empty inputs and on all-equal inputs."""
    a, b = pair
    assert levenshtein(a, b) == _dp_levenshtein(a, b)
    assert levenshtein(b, a) == _dp_levenshtein(b, a)


@settings(max_examples=100, deadline=None)
@given(st.permutations(list(range(8))))
def test_ard_bounds_and_identity(perm):
    ard, _ = ard_norm_py(list(perm))
    assert 0.0 <= ard <= 1.0
    if list(perm) == sorted(perm):
        assert ard == 1.0


def _grid_strategy():
    @st.composite
    def grids(draw):
        nrows = draw(st.integers(1, 4))
        ncols = draw(st.integers(1, 4))
        occupied = [[False] * ncols for _ in range(nrows)]
        cells = []
        for r in range(nrows):
            c = 0
            while c < ncols:
                if occupied[r][c]:
                    c += 1
                    continue
                max_cs = 1
                while c + max_cs < ncols and not occupied[r][c + max_cs]:
                    max_cs += 1
                cs = draw(st.integers(1, max_cs))
                rs = draw(st.integers(1, nrows - r))
                text = draw(st.text(alphabet="abcxyz ", max_size=6))
                cells.append(
                    dict(
                        text=text.strip(),
                        row_span=rs,
                        col_span=cs,
                        start_row_offset_idx=r,
                        end_row_offset_idx=r + rs,
                        start_col_offset_idx=c,
                        end_col_offset_idx=c + cs,
                        col_header=r == 0 and draw(st.booleans()),
                        row_header=False,
                    )
                )
                for rr in range(r, r + rs):
                    for cc in range(c, c + cs):
                        occupied[rr][cc] = True
                c += cs
        return dict(num_rows=nrows, num_cols=ncols, cells=cells)

    return grids()


@settings(max_examples=80, deadline=None)
@given(_grid_strategy())
def test_teds_identity_and_otsl_roundtrip(grid):
    assert teds_score(grid, grid) == 1.0
    g2 = parse_otsl(grid_to_otsl(grid))
    assert teds_score(grid, g2) == 1.0
    assert is_complex_grid(grid) == is_complex_grid(g2)


@settings(max_examples=80, deadline=None)
@given(_grid_strategy(), _grid_strategy())
def test_teds_bounds_and_symmetric_distance(g1, g2):
    # teds_score clamps at 0.0: the reference's normalization excludes
    # the root node (xpath('.//*')), so the raw ratio can dip below 0
    # on degenerate shape mismatches; the clamp keeps TEDS in [0,1].
    t = teds_score(g1, g2)
    assert 0.0 <= t <= 1.0
    # tree edit distance is symmetric → TEDS is symmetric
    assert t == teds_score(g2, g1)


def test_teds_clamp_hand_case():
    """1×3 text grid vs 2×1 empty grid: raw score is −0.25 (dist=5 over
    n_nodes=4, root excluded per the reference quirk) → clamped to 0.0."""

    def _cell(r, c, text):
        return dict(
            text=text,
            row_span=1,
            col_span=1,
            start_row_offset_idx=r,
            end_row_offset_idx=r + 1,
            start_col_offset_idx=c,
            end_col_offset_idx=c + 1,
            col_header=False,
            row_header=False,
        )

    g1 = dict(num_rows=1, num_cols=3, cells=[_cell(0, c, "x") for c in range(3)])
    g2 = dict(num_rows=2, num_cols=1, cells=[_cell(r, 0, "") for r in range(2)])
    assert teds_score(g1, g2) == 0.0
    assert teds_score(g2, g1) == 0.0


@settings(max_examples=60, deadline=None)
@given(_grid_strategy())
def test_cell_grammar_roundtrip(grid):
    """PDF cell grammar inverts: grid → grammar text → parse → TEDS 1.0
    (grammar represents datagen-shaped grids: anchor cells + spans)."""
    from docling_eval_spark.extraction.tables import parse_cell_grammar

    rows: dict[int, list] = {}
    for c in sorted(
        grid["cells"],
        key=lambda c: (c["start_row_offset_idx"], c["start_col_offset_idx"]),
    ):
        rs, cs = c["row_span"], c["col_span"]
        txt = c["text"] or "x"  # grammar cells need non-empty text
        cell = f"{rs}x{cs}>{txt}" if (rs, cs) != (1, 1) else txt
        rows.setdefault(c["start_row_offset_idx"], []).append(cell)
    grammar = "\n".join(
        " | ".join(rows.get(r, [])) for r in range(grid["num_rows"])
    )
    g2 = parse_cell_grammar(grammar)
    grid2 = {
        "num_rows": grid["num_rows"],
        "num_cols": grid["num_cols"],
        "cells": [
            {**c, "text": c["text"] or "x"} for c in grid["cells"]
        ],
    }
    parsed = {
        "num_rows": g2.num_rows,
        "num_cols": g2.num_cols,
        "cells": [vars(c) for c in g2.cells],
    }
    assert teds_score(grid2, parsed) == 1.0
    assert is_complex_grid(parsed) == is_complex_grid(grid2)


# ---------------------------------------------------------------- WARC

_URLS = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1, max_size=50,
).map(lambda s: "http://h.example/" + s)


@given(
    st.lists(
        st.tuples(_URLS, st.binary(max_size=500)),
        min_size=1, max_size=6, unique_by=lambda t: t[0],
    ),
    st.booleans(),
    st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_warc_roundtrip_property(pages, gz, chunked):
    """encode → parse is identity on (url, payload) for ARBITRARY
    binary payloads (incl. bytes that look like CRLFs, gzip magic,
    WARC headers), in all four gzip×chunked packagings."""
    from datetime import datetime, timezone

    from docling_eval_spark.sources.warc import warc_file_to_pages
    from warc_fixtures import encode_warc

    ts = datetime(2017, 3, 22, 17, 43, 4, tzinfo=timezone.utc)
    fixture = [
        {"url": u, "warc_ts": ts, "html": body} for u, body in pages
    ]
    data = encode_warc(fixture, gzip_members=gz, chunked=chunked)
    rows = warc_file_to_pages(data)
    assert [r["warc_status"] for r in rows] == ["SUCCESS"] * len(pages)
    assert [(r["url"], bytes(r["html"])) for r in rows] == [
        (u, b) for u, b in pages
    ]


@given(st.binary(max_size=3000))
@settings(max_examples=60, deadline=None)
def test_warc_parser_never_raises(junk):
    """Arbitrary bytes — including truncated/corrupt streams — must
    produce rows (possibly FAILURE), never exceptions (the kernel's
    no-task-failure contract)."""
    from docling_eval_spark.sources.warc import warc_file_to_pages

    rows = warc_file_to_pages(junk)
    assert isinstance(rows, list)
    for r in rows:
        assert r["warc_status"] in ("SUCCESS", "FAILURE")


@given(st.binary(max_size=2000))
@settings(max_examples=60, deadline=None)
def test_gzip_member_splitter_never_raises(junk):
    from docling_eval_spark.sources.warc import _split_gzip_members_tagged

    for member, err in _split_gzip_members_tagged(b"\x1f\x8b" + junk):
        assert isinstance(member, bytes)
        assert err is None or isinstance(err, str)


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=600))
def test_cdc_chunks_tile_exactly(text):
    """CDC spans tile the normalized text: contiguous, ordered,
    covering — for ANY input."""
    import re

    from docling_eval_spark.operators.text_analysis import cdc_chunks_py

    spans = cdc_chunks_py(text)
    norm = re.sub(r"[ \t\n\r\f\v]+", " ", text).strip(" ")
    if not norm:
        assert spans == []
        return
    assert spans[0][0] == 1 and spans[-1][1] == len(norm)
    for (s1, e1), (s2, _) in zip(spans, spans[1:]):
        assert s2 == e1 + 1 and e1 >= s1


@settings(max_examples=100, deadline=None)
@given(
    st.text(alphabet="abcdefgh ", min_size=100, max_size=400),
    st.integers(min_value=0, max_value=99),
)
def test_cdc_boundaries_resync_before_edit(text, pos_frac):
    """Content-defined property: boundaries ending at least k chars
    BEFORE an edit position are unchanged by the edit (their windows
    never see the edited bytes)."""
    import re

    from docling_eval_spark.operators.text_analysis import cdc_chunks_py

    k = 16
    norm = re.sub(r"[ \t\n\r\f\v]+", " ", text).strip(" ")
    if len(norm) < 2 * k:
        return
    pos = k + (pos_frac * (len(norm) - 2 * k)) // 100
    edited = norm[:pos] + "XYZ" + norm[pos:]
    b1 = [e for _, e in cdc_chunks_py(norm, k=k) if e <= pos - k]
    b2 = [e for _, e in cdc_chunks_py(edited, k=k) if e <= pos - k]
    assert b1 == b2
