"""Product quantization (PQ) — the compressed-domain ANN path.

Jégou, Douze, Schmid, *Product Quantization for Nearest Neighbor
Search* (TPAMI 2011): split a ``dim``-dimensional vector into ``m``
subvectors, quantize each against its own ``n_codes``-entry codebook,
and represent the vector by ``m`` small integers. With the defaults
here (64 dims → 8 subspaces × 16 codes) a float32 embedding shrinks
256 B → 8 B (4 bits/code would halve that again): at 10^12 documents
the code table is ~8 TB instead of ~256 TB — the difference between
an embedding index that fits hot storage and one that doesn't.

The reference repo (DS4SD/docling-eval) has no vector-search surface;
this extends the engine's ANN family (brute force / hyperplane LSH /
IVF in ``similarity.py`` / ``ivf.py``) with the compressed tier.

Determinism & verification contract (same discipline as the IVF gate):
the oracle gate runs against FIXED seeded-gaussian codebooks — the
assign/score path is what it verifies. Encoding
assigns each subvector the codeword minimizing
``||s - c||² = c·c − 2·s·c`` (the ``s·s`` term is constant per row and
dropped IDENTICALLY on both engines), lowest code index on ties.
Scoring uses the asymmetric distance computation (ADC) identity

    score(q, v) ≈ q · recon(v) = Σ_j  q_j · codebook[j][code_j]

evaluated as ONE sequential 64-element fold over the reconstruction,
so Spark's ``F.aggregate`` and DuckDB's ``list_inner_product`` see the
same doubles in the same order — rank and score replay bit-for-bit.

Scale shape: encoding is a NARROW MAP (one Arrow batch matmul per
partition against the broadcast ``m·n_codes·sub`` codebook — a few KB).
Search broadcasts the human-scale query set against the code table and
never shuffles the corpus; the per-query top-k runs through the salted
exact :func:`~docling_eval_spark.operators.retrieval.topk_per_key`.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def pq_codebooks(
    dim: int, m: int = 8, n_codes: int = 16, seed: int = 13
) -> np.ndarray:
    """``(m, n_codes, dim//m)`` fixed seeded-gaussian codebooks (one
    independent seed per subspace so codebooks differ)."""
    from docling_eval_spark.operators.similarity import hyperplanes

    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    return np.stack(
        [hyperplanes(sub, n_codes, seed=seed + j) for j in range(m)]
    ).astype(float)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, codes array<int>, recon array<double>)`` — the PQ codes
    plus the reconstruction (codeword concatenation). ``codes`` is what
    a production table stores (m bytes/row); ``recon`` is carried here
    so downstream scoring can stay in pure Spark SQL (fold-order
    verifiable) — at scale it is re-derivable from ``codes`` by a
    broadcast codebook lookup. Narrow map, zero shuffle."""
    cb = codebooks.astype(float)
    m, n_codes, sub = cb.shape
    # per-codeword squared norms, precomputed once: dist = cc − 2·s·c
    cc = np.einsum("mcs,mcs->mc", cb, cb)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({id_col: [], "codes": [], "recon": []})
                continue
            mat = np.array([list(v) for v in pdf[vec_col]], dtype=float)
            segs = mat.reshape(len(mat), m, sub)
            # (rows, m, n_codes): cc − 2·s·c ; argmin ties → lowest code
            d = cc[None, :, :] - 2.0 * np.einsum("rms,mcs->rmc", segs, cb)
            codes = np.argmin(d, axis=2)
            recon = cb[np.arange(m)[None, :], codes]  # (rows, m, sub)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "codes": [c.astype(int).tolist() for c in codes],
                    "recon": [r.reshape(-1).tolist() for r in recon],
                }
            )

    schema = f"{id_col} long, codes array<int>, recon array<double>"
    return df.select(id_col, vec_col).mapInPandas(kernel, schema=schema)


def _dot_col(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product (same order as DuckDB's
    ``list_inner_product`` — the bit-replay contract)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_salt: int = 16,
) -> DataFrame:
    """``(query_id, neighbor_id, rank, score)``: top-``k`` by the ADC
    approximate inner product against PQ-encoded vectors. The corpus
    never shuffles — queries broadcast over the code table; per-query
    top-k is the salted exact prune."""
    from docling_eval_spark.operators.retrieval import topk_per_key

    enc = pq_encode(corpus, codebooks, id_col, vec_col)
    q = queries.select(
        query_id_col,
        F.transform(query_vec_col, lambda x: x.cast("double")).alias(
            query_vec_col
        ),
    )
    scored = enc.crossJoin(F.broadcast(q)).withColumn(
        "score", _dot_col(query_vec_col, "recon")
    )
    top = topk_per_key(
        scored,
        [query_id_col],
        [F.col("score").desc(), F.col(id_col).asc()],
        k,
        salt_col=id_col,
        n_salt=n_salt,
    )
    return top.select(
        query_id_col, F.col(id_col).alias("neighbor_id"), "rank", "score"
    )
