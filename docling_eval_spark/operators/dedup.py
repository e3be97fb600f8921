"""Deduplication operator family for web-corpus scale.

- exact_dedup        — hash-groupBy on normalized-text digest with an
  atomic ``min(id)`` aggregate (stays in HashAggregate; map-side
  combinable; skew-safe on boilerplate-identical hot digests),
  winners joined back null-safely on (digest, id) — ids are NOT
  assumed unique — and collapsed to ONE deterministic survivor row
  per digest via ``min_by`` over a total order on the payload.
- ngram_jaccard      — character n-gram Jaccard similarity between
  candidate pairs (exact set intersection over distinct shingles).
- minhash_signatures / minhash_lsh_pairs — MinHash + banded LSH:
  shingle → polynomial base hash over code points mod 2^31−1
  (*engine-portable*: the DuckDB oracle recomputes the identical
  integers) → per-permutation affine rehash (a_i·x+b_i mod p) → min
  per permutation. The front half (`shingle_sig_table`) is one
  Arrow-batched numpy kernel, checked against the DuckDB oracle in
  tier-1 (an interpreted higher-order-function form measured ~20×
  slower); bands explode to (band_id, band_hash) keys and candidate
  pairs come from an equi-self-join on the band key.
  No cross join ever materializes: complexity is per-bucket.
- simhash            — 62-bit SimHash from token hashes; token
  hashing is a pair of JVM-side polynomial hashes (portable, same
  reason), the per-bit majority fold is a vectorized pandas UDF over
  the token-hash array.

Scale notes: every family is shuffle-bounded by its key (digest, band
key, simhash prefix). Skewed buckets (boilerplate-identical pages)
are the classic hazard — `minhash_lsh_pairs` caps per-bucket size and
reports overflow counts instead of exploding quadratically.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from docling_eval_spark.functions import let_col

_WS = r"[ \t\n\r\f\v]+"
# 2^31-1: keeps a*x products within a 64-bit long under ANSI mode
_MERSENNE = (1 << 31) - 1
# polynomial-hash base (same as text_analysis fingerprints); any engine
# can reproduce (acc*B + code) % (2^31-1) exactly
_POLY_BASE = 1_000_003


def _norm(text_col: str):
    return F.trim(F.regexp_replace(F.col(text_col), _WS, " "))


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the min-id row per identical normalized text; adds
    ``dup_count``.

    Skew-safe plan (same min-winner hash-agg pattern as
    ``web_ops.line_dedup``): the winner per digest comes from a
    ``groupBy(digest).agg(min(id), count(*))`` HashAggregate — O(1)
    state per key with map-side partial combine — so a mega-duplicated
    page (the boilerplate-page hot case: one digest holding 10^8
    copies) collapses to one row per map task before the exchange
    instead of physically sorting every copy on a single reducer,
    which is what the previous per-digest ``row_number()`` window did.
    (``min(id)`` rather than line_dedup's ``min(struct(...))``: the
    atomic column keeps the agg in HashAggregate; struct buffers force
    a SortAggregate fallback.) Winners join back NULL-SAFELY on
    (digest, id) — ids are NOT assumed unique (re-fetched URLs in a
    crawl) — and a final per-digest ``min_by`` collapse picks ONE
    survivor when the winning id itself occurs more than once in the
    group. The collapse orders by a struct over every *orderable*
    payload column (map-typed columns can't be compared and are
    excluded from the ordering key, though they ride along in the
    surviving row), so the survivor is a deterministic total-order
    pick: identical digest guarantees identical text but NOT identical
    sibling columns (e.g. differing ``warc_ts``), and re-runs under
    different partitionings must emit the same row. The collapse
    still partial-aggregates map-side (SortAggregate with a struct
    buffer) and cannot skew: by then at most the winning id's
    multiplicity remains per digest, not the group's copy count.

    Rows whose id is NULL never beat a non-null id (``min()`` ignores
    nulls), but a digest group whose ids are ALL null survives: the
    null-safe join matches ``win_id IS NULL`` to the group's null-id
    rows and the collapse keeps one of them. A pre-existing
    ``dup_count`` column is replaced (same contract as the old
    ``withColumn``)."""
    if "dup_count" in df.columns:
        df = df.drop("dup_count")
    wd = df.withColumn("__digest", F.md5(_norm(text_col)))
    winners = (
        wd.groupBy(F.col("__digest").alias("__wdigest"))
        .agg(
            F.min(F.col(id_col)).alias("__win_id"),
            F.count("*").alias("dup_count"),
        )
    )
    joined = wd.join(
        winners,
        (F.col("__digest") == F.col("__wdigest"))
        & F.col(id_col).eqNullSafe(F.col("__win_id")),
        "inner",
    ).drop("__wdigest", "__win_id")
    payload = [c for c in joined.columns if c != "__digest"]
    dtypes = dict(joined.dtypes)
    orderable = [c for c in payload if "map<" not in dtypes[c]]
    if not orderable:  # every payload column map-typed: no total order
        return (
            joined.groupBy("__digest")
            .agg(*[F.first(c).alias(c) for c in payload])
            .drop("__digest")
        )
    return (
        joined.groupBy("__digest")
        .agg(
            F.min_by(
                F.struct(*payload), F.struct(*orderable)
            ).alias("__row")
        )
        .select("__row.*")
    )


# ---------------------------------------------------------------- shingles

def _shingles_of_norm(norm: F.Column, k: int) -> F.Column:
    """Distinct k-gram shingles; ``norm`` is let-bound so the (possibly
    expensive, e.g. regex) normalization expression evaluates exactly
    once per row instead of once per character position (see
    functions.let for the Catalyst lambda-substitution hazard)."""

    def body(nrm: F.Column) -> F.Column:
        n = F.length(nrm)
        idxs = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
            F.when(n > 0, F.sequence(F.lit(1), F.lit(1))).otherwise(
                F.array().cast("array<int>")
            )
        )
        return F.array_distinct(
            F.transform(idxs, lambda i: F.substr(nrm, i, F.lit(k)))
        )

    return let_col(norm, body)


def shingle_table(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 5
) -> DataFrame:
    """(id, shingles) projection of a document table."""
    return df.select(
        F.col(id_col).alias("id"),
        _shingles_of_norm(_norm(text_col), k).alias("shingles"),
    )


def char_shingles(text_col: str, k: int = 5) -> F.Column:
    """Shingles of a text column as a single expression."""
    return _shingles_of_norm(_norm(text_col), k)


def ngram_jaccard(
    df_pairs: DataFrame,
    left_shingles: str = "shingles_l",
    right_shingles: str = "shingles_r",
) -> DataFrame:
    """Exact Jaccard over two distinct-shingle array columns."""
    inter = F.size(F.array_intersect(F.col(left_shingles), F.col(right_shingles)))
    union = (
        F.size(F.col(left_shingles)) + F.size(F.col(right_shingles)) - inter
    )
    return df_pairs.withColumn(
        "jaccard",
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)),
    )


# ---------------------------------------------------------------- minhash

def _perm_coeffs(num_perm: int, seed: int = 1) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_perm, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def _codepoints_of_norm(norm: F.Column) -> F.Column:
    """Normalized text → array<long> of per-character code points,
    empty array for empty text (Spark's split("", "") yields [""] whose
    ascii is 0 — guard it out so downstream window counts can trust
    ``size(codes)``). ``ascii`` returns the full Unicode code point of
    a one-char string (verified: 'é'→233, '漢'→28450)."""

    def body(nrm: F.Column) -> F.Column:
        return F.when(
            F.length(nrm) > 0,
            F.transform(F.split(nrm, ""), lambda ch: F.ascii(ch).cast("long")),
        ).otherwise(F.array().cast("array<long>"))

    return let_col(norm, body)


def shingle_sig_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 30,
    seed: int = 1,
) -> DataFrame:
    """(id, shingles: array<long>, signature: array<long>[num_perm]) in
    ONE pass — the minhash front half that every LSH consumer persists.

    Normalization + code-point split stay JVM-side (string semantics
    are the engine's), then one Arrow-batched numpy kernel does the
    k-window polynomial hashing, first-occurrence dedup, and the
    num_perm permutation minima: fold ``(acc·B + c) mod p`` per window,
    ``((x·a) mod p + b)
    mod p`` per permutation, all in int64 (p = 2^31−1 keeps every
    product under 2^63). An empty text has no shingles and an all-p
    signature. Tier-1 checks it value-exact against the
    ``minhash_pairs`` and ``minhash_incremental`` DuckDB oracles on the
    sf0.001 corpus plus edge rows.
    """
    proj = df.select(
        F.col(id_col).alias("id"),
        _codepoints_of_norm(_norm(text_col)).alias("__codes"),
    )
    id_field = proj.schema["id"]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("shingles", T.ArrayType(T.LongType()), False),
            T.StructField("signature", T.ArrayType(T.LongType()), False),
        ]
    )
    coeffs = _perm_coeffs(num_perm, seed)
    a_row = np.array([a for a, _ in coeffs], dtype=np.int64)[None, :]
    b_row = np.array([b for _, b in coeffs], dtype=np.int64)[None, :]
    p, base, kk = _MERSENNE, _POLY_BASE, k
    empty_sig = [p] * num_perm

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            shingles_out: list[list[int]] = []
            sigs_out: list[list[int]] = []
            for codes in pdf["__codes"]:
                c = np.asarray(codes, dtype=np.int64)
                n = c.shape[0]
                if n == 0:
                    shingles_out.append([])
                    sigs_out.append(empty_sig)
                    continue
                w = max(n - kk + 1, 1)
                h = np.zeros(w, dtype=np.int64)
                for j in range(min(kk, n)):
                    h = (h * base + c[j : j + w]) % p
                sh = pd.unique(h)  # first-occurrence order = array_distinct
                sig = (((sh[:, None] * a_row) % p) + b_row) % p
                shingles_out.append(sh.tolist())
                sigs_out.append(sig.min(axis=0).tolist())
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "shingles": shingles_out,
                    "signature": sigs_out,
                }
            )

    return proj.mapInPandas(kernel, out_schema)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 30,
    seed: int = 1,
) -> DataFrame:
    return shingle_sig_table(df, id_col, text_col, k, num_perm, seed).select(
        "id", "signature"
    )


def _banded(sig_df: DataFrame, bands: int) -> DataFrame:
    """(id, signature) → (id, signature, band, band_hash): the ONE
    banding scheme shared by the batch and incremental LSH paths
    (md5 of the band's comma-joined slice — also what the DuckDB
    oracle reproduces)."""
    rows_per_band = F.floor(F.size("signature") / bands)
    return sig_df.select(
        "id",
        "signature",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.md5(
                    F.concat_ws(
                        ",",
                        F.slice(
                            F.col("signature"),
                            (bidx * rows_per_band + 1).cast("int"),
                            rows_per_band.cast("int"),
                        ),
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )


def _bucket_pairs(ids: F.Column) -> F.Column:
    """All unordered id pairs of one bucket's id list, as canonical
    (id_l < id_r) structs — pure array algebra, shared by the LSH
    candidate stage and the exact-Jaccard ground-truth generator so
    the two can never drift in pair canonicalization."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(
                    F.least(x, y).alias("id_l"),
                    F.greatest(x, y).alias("id_r"),
                ),
            ),
        )
    )


def minhash_lsh_pairs(
    sig_df: DataFrame,
    bands: int = 6,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded LSH candidate pairs (id_l < id_r) from signatures.

    bucket key = (band index, md5 of the band's slice). Buckets larger
    than ``max_bucket`` (degenerate boilerplate clusters) are dropped
    with a count — at corpus scale those are handled by exact-dedup
    first, and a quadratic bucket is an error, not work.

    Band geometry: collision prob for similarity s is 1-(1-s^r)^b with
    r = num_perm/bands rows per band; defaults (r=5, b=6) center the
    S-curve at (1/6)^(1/5) ≈ 0.70 — the default verify threshold.
    Wider bands (r=4, b=8) pulled in ~40% of merely-0.5-similar pairs,
    which exploded verification cost on template-correlated corpora.
    """
    banded = _banded(sig_df, bands).drop("signature")
    # ONE shuffle: gather each bucket's ids and expand combinations as
    # array algebra — a windowed-count + self-join shape would shuffle
    # three times and recompute the signature pipeline per branch
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.collect_list("id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
    return pairs.select("p.id_l", "p.id_r").distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 30,
    bands: int = 6,
    threshold: float = 0.7,
    seed: int = 1,
    estimate_margin: float = 0.2,
) -> DataFrame:
    """End-to-end near-dup pairs: LSH candidates → signature-estimate
    prefilter → exact Jaccard over distinct hashed shingles ≥ threshold
    (int-array intersection — cheaper than string shingles; the 2^31−1
    hash space makes collisions negligible, and the DuckDB oracle
    reproduces the identical hashed sets, so the gate is value-exact).

    The prefilter compares the 30-long signatures (matching-minima
    fraction estimates Jaccard) and keeps pairs ≥ threshold −
    estimate_margin; only survivors pay the exact intersection over
    the (much larger) shingle arrays. With 30 permutations the
    estimate's σ ≈ 0.085 at s=0.7, so margin 0.2 ≈ 2.4σ — the extra
    miss probability on borderline pairs is <1% on top of the banding
    S-curve. The (shingles, signature) front half comes from ONE
    persisted :func:`shingle_sig_table` pass; it feeds four plan
    branches (at warehouse scale: a materialized intermediate table).
    """
    front = shingle_sig_table(
        df, id_col, text_col, k, num_perm, seed
    ).persist()
    with_sh = front.select("id", "shingles")
    sigs = front.select("id", "signature")
    pairs = minhash_lsh_pairs(sigs, bands)
    est = (
        pairs.join(
            sigs.select(F.col("id").alias("id_l"), F.col("signature").alias("sig_l")),
            "id_l",
        )
        .join(
            sigs.select(F.col("id").alias("id_r"), F.col("signature").alias("sig_r")),
            "id_r",
        )
        .withColumn(
            "est",
            F.size(
                F.filter(
                    F.zip_with("sig_l", "sig_r", lambda x, y: x == y), lambda b: b
                )
            )
            / num_perm,
        )
        .filter(F.col("est") >= threshold - estimate_margin)
        .select("id_l", "id_r")
    )
    joined = (
        est.join(
            with_sh.select(
                F.col("id").alias("id_l"), F.col("shingles").alias("shingles_l")
            ),
            "id_l",
        ).join(
            with_sh.select(
                F.col("id").alias("id_r"), F.col("shingles").alias("shingles_r")
            ),
            "id_r",
        )
    )
    return (
        ngram_jaccard(joined)
        .filter(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "jaccard")
    )


# ---------------------------------------------------------------- simhash

_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


_POLY_BASE_2 = 1_000_033  # second independent base for the high bits


def _token_pair_hash(tok: F.Column) -> F.Column:
    """h1 + 2^31·h2: two polynomial hashes of the token's code points
    mod 2^31−1, folded in ONE aggregate (struct accumulator — the char
    split evaluates once per token, not once per base)."""
    codes = F.transform(F.split(tok, ""), lambda ch: F.ascii(ch).cast("long"))
    hs = F.aggregate(
        codes,
        F.struct(
            F.lit(0).cast("long").alias("h1"), F.lit(0).cast("long").alias("h2")
        ),
        lambda acc, x: F.struct(
            F.pmod(acc["h1"] * _POLY_BASE + x, F.lit(_MERSENNE)).alias("h1"),
            F.pmod(acc["h2"] * _POLY_BASE_2 + x, F.lit(_MERSENNE)).alias("h2"),
        ),
    )
    # let-bind: hs feeds two terms; unbound it would fold twice per token
    return let_col(hs, lambda v: v["h1"] + F.lit(1 << 31).cast("long") * v["h2"])


def simhash(
    df: DataFrame, id_col: str, text_col: str = "text", portable: bool = False
) -> DataFrame:
    """SimHash per document.

    Token hash, production default (``portable=False``): ``xxhash64``
    of the token — one JVM intrinsic per token, full 64 bits. The
    ``portable=True`` path swaps in h1 + 2^31·h2 dual polynomial hashes
    mod 2^31−1 (62 bits, always non-negative) that DuckDB can recompute
    bit-for-bit — that's what the oracle gate runs; it costs ~2× the
    xxhash64 path, so it is opt-in, not the default. Both paths share
    the same normalization, bit-majority vote, and downstream blocking
    semantics. The per-bit majority vote folds the hash array in a
    vectorized kernel (numpy bit unpacking), Arrow-batched.
    """
    token_hash = _token_pair_hash if portable else (lambda t: F.xxhash64(t))
    tok_hashes = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(
            F.filter(F.split(_norm(text_col), " "), lambda x: x != ""),
            token_hash,
        ).alias("hashes"),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_sh = [], []
            for i, hs in zip(pdf["id"], pdf["hashes"]):
                out_ids.append(i)
                if hs is None or len(hs) == 0:
                    out_sh.append(0)
                    continue
                # int64 → uint64 view: xxhash64 values are signed longs
                arr = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                bits = (
                    (arr[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
                ).astype(np.int64)
                votes = (2 * bits - 1).sum(axis=0)
                sh = np.uint64(0)
                for b in np.where(votes > 0)[0]:
                    sh |= np.uint64(1) << np.uint64(b)
                out_sh.append(int(sh.astype(np.int64)))
            yield pd.DataFrame({"id": out_ids, "simhash": out_sh})

    return tok_hashes.mapInPandas(kernel, schema=_SIMHASH_SCHEMA)


def simhash_near_pairs(sim_df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation: split the 64-bit hash into (max_hamming+1)
    disjoint balanced blocks — two hashes within distance ≤ max_hamming
    must agree exactly on at least one block (pigeonhole) — equi-join
    per block, verify with bit_count(xor). Narrower blocks (higher
    max_hamming) mean more random collisions: the default d=3 gives
    four 16-bit blocks, the classic web-dedup setting."""
    blocks = max_hamming + 1
    if not 1 <= blocks <= 64:
        raise ValueError("max_hamming must be in [0, 63]")
    base_w, extra = divmod(64, blocks)
    widths = [base_w + 1] * extra + [base_w] * (blocks - extra)
    offsets = [sum(widths[:i]) for i in range(blocks)]
    exploded = sim_df.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    # w=64 (the single-block max_hamming=0 case): the
                    # all-ones mask doesn't fit a signed long literal;
                    # two's-complement -1 IS that mask
                    F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(
                        F.lit((1 << w) - 1 if w < 64 else -1).cast("long")
                    )
                    for off, w in zip(offsets, widths)
                ]
            )
        ).alias("block", "block_val"),
    )
    l = exploded.select(
        "block", "block_val", F.col("id").alias("id_l"), F.col("simhash").alias("sh_l")
    )
    r = exploded.select(
        "block", "block_val", F.col("id").alias("id_r"), F.col("simhash").alias("sh_r")
    )
    return (
        l.join(r, ["block", "block_val"])
        .filter(F.col("id_l") < F.col("id_r"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_l").bitwiseXOR(F.col("sh_r")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_l", "id_r", "hamming")
        .distinct()
    )


def minhash_incremental_pairs(
    new_sigs: DataFrame,
    store_sigs: DataFrame,
    bands: int = 6,
    max_bucket: int = 1000,
    threshold: float = 0.7,
) -> DataFrame:
    """Incremental near-dup pairs: NEW documents against an existing
    signature store (plus among themselves) — the shape a continuously
    ingesting corpus needs: old×old pairs were already emitted by the
    batch pass, so only (new × all) band collisions are joined. Verify
    is the signature estimate (matching-minima fraction ≥ threshold;
    with 30 perms σ≈0.08 at s=0.7 — the store keeps signatures, not
    shingles, so the exact-Jaccard confirm belongs to the caller if it
    retains text). Per-band buckets are capped on the ALL side like
    minhash_lsh_pairs, whose banding scheme is shared (`_banded`).
    Output: (id_l < id_r, est).

    Both signature frames are persisted for the plan's duration: the
    lineage forks three ways (bucket sizes, the all-side join input,
    the new-side banding), and each fork would otherwise re-run the
    caller's signature kernel over the corpus — measured 5 full kernel
    passes (2×store + 3×new) unpersisted vs one per side (at warehouse
    scale the store IS a materialized signature table, which is the
    whole point of the incremental shape)."""
    new_sigs = new_sigs.select("id", "signature").persist()
    all_sigs = store_sigs.select("id", "signature").unionByName(
        new_sigs
    ).persist()
    b_all = _banded(all_sigs, bands)
    sizes = (
        b_all.groupBy("band", "band_hash")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= max_bucket)
        .select("band", "band_hash")
    )
    b_new = _banded(new_sigs, bands).select(
        "band", "band_hash", F.col("id").alias("nid"), F.col("signature").alias("nsig")
    )
    cand = (
        b_new.join(b_all.join(sizes, ["band", "band_hash"]), ["band", "band_hash"])
        .filter(F.col("nid") != F.col("id"))
        .select(
            F.least("nid", "id").alias("id_l"),
            F.greatest("nid", "id").alias("id_r"),
            F.col("nsig").alias("sig_l"),
            F.col("signature").alias("sig_r"),
        )
        .dropDuplicates(["id_l", "id_r"])
    )
    # denominator = the actual signature length, not the num_perm
    # parameter (a store built with a different perm count must not
    # silently rescale the estimate)
    est = F.size(
        F.filter(F.zip_with("sig_l", "sig_r", lambda x, y: x == y), lambda v: v)
    ) / F.size("sig_l")
    return (
        cand.withColumn("est", est)
        .filter(F.col("est") >= threshold)
        .select("id_l", "id_r", F.round("est", 6).alias("est"))
    )


# ---------------------------------------------------------------- lsh eval


def exact_jaccard_pairs(
    code_df: DataFrame,
    threshold: float = 0.7,
    max_df: int = 200,
) -> DataFrame:
    """Exact-Jaccard ground-truth pairs ``(id_l, id_r, jaccard)`` with
    ``jaccard >= threshold``, via a shingle inverted index: two docs
    with Jaccard > 0 share a shingle, so candidate generation over
    postings is exact up to the document-frequency cap — a shingle
    occurring in more than ``max_df`` docs is dropped (quadratic
    bucket), which can only lose a true pair if EVERY shared shingle
    is corpus-common; high-Jaccard pairs share nearly all shingles, so
    one below-cap shingle suffices. Same bounded-bucket discipline as
    the LSH path: the shuffle carries postings, pair expansion is
    array algebra inside each bucket."""
    posting = code_df.select("id", F.explode("shingles").alias("code"))
    buckets = (
        posting.groupBy("code")
        .agg(F.collect_list("id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
    )
    pairs = (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select("p.id_l", "p.id_r")
        .distinct()
    )
    sl = code_df.select(
        F.col("id").alias("id_l"), F.col("shingles").alias("shingles_l")
    )
    sr = code_df.select(
        F.col("id").alias("id_r"), F.col("shingles").alias("shingles_r")
    )
    j = ngram_jaccard(pairs.join(sl, "id_l").join(sr, "id_r"))
    return j.filter(F.col("jaccard") >= threshold).select(
        "id_l", "id_r", "jaccard"
    )


def lsh_quality_eval(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 30,
    bands: int = 6,
    threshold: float = 0.7,
    max_bucket: int = 1000,
    gt_max_df: int = 200,
) -> DataFrame:
    """Evaluate the LSH candidate stage against exact Jaccard ground
    truth: ONE row ``(n_candidates, n_true, n_tp, precision, recall)``.

    - candidates = raw band collisions from :func:`minhash_lsh_pairs`
      (the stage whose quality the band geometry controls — BEFORE the
      estimate prefilter and exact verification);
    - truth = :func:`exact_jaccard_pairs` at ``threshold``;
    - precision = P(candidate is truly >= threshold), recall =
      P(true pair surfaces as a candidate) — the measured version of
      the 1-(1-s^r)^b S-curve the band geometry promises.

    The dedup-quality report docling-eval-style evaluators produce for
    extraction metrics, applied to the dedup operator itself.

    The (shingles, signature) front half is persisted for the duration
    of the plan: the lineage forks FOUR ways from it (band buckets,
    postings, and the two ground-truth join-backs), and each fork would
    otherwise re-run the whole shingle-hashing kernel — measured 2x
    wall on the sf0.1 eval corpus. MEMORY_AND_DISK: an eval-sized
    corpus fits, and a spill beats four kernel recomputes.

    All three counts come from ONE full-outer join on the pair key +
    a single aggregate: candidate rows carry ``is_cand``, truth rows
    ``is_true``, and n_candidates / n_true / n_tp are conditional sums
    over the joined frame. The alternative — three separate count
    frames crossJoined — evaluates the candidate subtree twice and the
    (much heavier) exact-Jaccard subtree twice, because the tp branch
    re-derives both above the persisted front; measured 2.0x wall on
    the sf0.1 eval corpus (22.2s -> 10.9s warm)."""
    from pyspark import StorageLevel

    front = shingle_sig_table(df, id_col, text_col, k, num_perm).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    codes = front.select("id", "shingles")
    sigs = front.select("id", "signature")
    cand = minhash_lsh_pairs(sigs, bands, max_bucket).withColumn(
        "is_cand", F.lit(1)
    )
    true_pairs = exact_jaccard_pairs(codes, threshold, gt_max_df).select(
        "id_l", "id_r", F.lit(1).alias("is_true")
    )
    both = cand.join(true_pairs, ["id_l", "id_r"], "full_outer")
    counts = both.agg(
        F.coalesce(F.sum("is_cand"), F.lit(0)).alias("n_candidates"),
        F.coalesce(F.sum("is_true"), F.lit(0)).alias("n_true"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("is_cand").isNotNull()
                    & F.col("is_true").isNotNull(),
                    1,
                )
            ),
            F.lit(0),
        ).alias("n_tp"),
    )
    return counts.select(
        "n_candidates",
        "n_true",
        "n_tp",
        F.round(
            F.col("n_tp") / F.nullif(F.col("n_candidates"), F.lit(0)), 6
        ).alias("precision"),
        F.round(
            F.col("n_tp") / F.nullif(F.col("n_true"), F.lit(0)), 6
        ).alias("recall"),
    )


def elect_survivors(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "node",
    cluster_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Cluster canonicalization — the LAST apply step of near-dup
    dedup: after :func:`web_ops.connected_components` turns similar
    PAIRS into groups, keep ONE representative per group, and make it
    the BEST copy (highest score), not the arbitrary first one.
    First-occurrence-wins (what exact_dedup does for byte-identical
    copies) is wrong for NEAR-duplicates: the copies differ, and a
    quality-blind pick can keep the boilerplate-mangled variant while
    dropping the clean one.

    ``members`` = (id, cluster) rows from connected components;
    ``scores`` = (id, score) — any orderable quality signal
    (quality_score, n_chars, an LM score). Winner per cluster =
    greatest (score, id) — a TOTAL order, so equal-score ties are
    deterministic across runs and partitionings.

    Returns (cluster, survivor, survivor_score, n_members).

    Plan: one id-equi join (broadcast when the score side is a slim
    projection) + ONE max-struct hash aggregation per cluster —
    map-side combine collapses a 10^6-copy template cluster to one
    row per task before the exchange, the same skew defence as
    exact_dedup's min-id agg. Never a per-cluster window sort."""
    j = members.select(
        F.col(id_col).alias("__id"), F.col(cluster_col).alias("__cl")
    ).join(
        scores.select(
            F.col(id_col).alias("__id"), F.col(score_col).alias("__sc")
        ),
        "__id",
    )
    return (
        j.groupBy("__cl")
        .agg(
            F.max(F.struct("__sc", "__id")).alias("__w"),
            F.count("*").alias("n_members"),
        )
        .select(
            F.col("__cl").alias(cluster_col),
            F.col("__w.__id").alias("survivor"),
            F.col("__w.__sc").alias("survivor_score"),
            "n_members",
        )
    )


# ---------------------------------------------------------- containment

def containment_pairs(
    df_pairs: DataFrame,
    left_shingles: str = "sh_l",
    right_shingles: str = "sh_r",
    thr_micro: int = 900_000,
) -> DataFrame:
    """Asymmetric containment (Broder 1997's resemblance companion):
    C(L→R) = |L∩R| / |L| over distinct-shingle arrays, in exact
    integer micro units, plus a relation classification —

      dup     both containments ≥ thr (mutual: near-identical)
      l_in_r  only C(L→R) ≥ thr (left is quoted/reposted inside right)
      r_in_l  only C(R→L) ≥ thr
      none    otherwise

    Jaccard alone misses sub/superset duplication: a page quoting a
    full article scores low Jaccard (big union) but containment 1.0 —
    the repost/quote case a training-dedup pipeline actually wants to
    catch. Narrow per-pair algebra (no shuffle beyond whatever built
    the candidate pairs, e.g. `minhash_lsh_pairs`); an empty side has
    containment 0 by convention.
    """
    l, r = F.col(left_shingles), F.col(right_shingles)
    inter = F.size(F.array_intersect(l, r)).cast("bigint")
    nl = F.size(l).cast("bigint")
    nr = F.size(r).cast("bigint")
    out = (
        df_pairs.withColumn("__inter", inter)
        .withColumn("__nl", nl)
        .withColumn("__nr", nr)
        .withColumn(
            "c_lr_micro",
            F.expr(
                "CASE WHEN __nl > 0 THEN (__inter * 1000000) DIV __nl "
                "ELSE CAST(0 AS BIGINT) END"
            ),
        )
        .withColumn(
            "c_rl_micro",
            F.expr(
                "CASE WHEN __nr > 0 THEN (__inter * 1000000) DIV __nr "
                "ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )
    t = F.lit(thr_micro)
    rel = (
        F.when((F.col("c_lr_micro") >= t) & (F.col("c_rl_micro") >= t), "dup")
        .when(F.col("c_lr_micro") >= t, "l_in_r")
        .when(F.col("c_rl_micro") >= t, "r_in_l")
        .otherwise("none")
    )
    return out.withColumn("relation", rel).drop("__inter", "__nl", "__nr")
