"""Embedding similarity search over an array<float> column.

- ``cosine_col``          — dot/norm via ``zip_with`` + ``aggregate``:
  whole-stage-codegen arithmetic, no Python.
- ``brute_force_topk``    — baseline exact top-k: broadcast the query
  set, per-row cosine, window rank. One broadcast join + one shuffle
  of (query_id, k) slim rows.
- ``lsh_bucketed_topk``   — scale path: random-hyperplane (sign) LSH
  buckets; candidates share a bucket with the query, exact cosine is
  computed only within buckets. Planes are seeded, broadcast as
  literals; multi-probe = also search buckets at Hamming distance 1.
- ``embedding_near_dup_pairs`` — near-duplicate pairs by cosine ≥ τ
  within LSH buckets (the embedding-space sibling of minhash dedup).

At 10^12 rows the brute-force path is O(Q·N) — only for oracle/small
Q; the bucketed path shuffles each side once on the bucket key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window


def cosine_col(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Broadcast the (small) query side; ties broken by neighbor id so
    results are deterministic across partitionings."""
    joined = corpus.crossJoin(F.broadcast(queries)).withColumn(
        "cosine", cosine_col(vec_col, query_vec_col)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def bucket_col(vec_col: Column | str, planes: np.ndarray) -> Column:
    """Sign-bit LSH bucket id (int) for an embedding column; the dot
    products are unrolled into codegen arithmetic per plane.

    This is the expression the DuckDB oracle mirrors; production uses
    it only on the small query side of :func:`lsh_bucketed_topk`. Its
    literal tree (n_planes × dim constants, one interpreted fold per
    plane) is exactly what :func:`bucket_assign` replaces: Catalyst
    analysis+codegen of the unrolled tree dominated the COLD wall of
    every bucketed query (measured 18 s of near_dup_pairs' 22 s cold at
    12×64), and the per-element lambdas are interpreted per row warm."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(v, arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def bucket_assign(
    df: DataFrame,
    vec_col: str,
    planes: np.ndarray,
    out_col: str = "bucket",
) -> DataFrame:
    """Append the sign-bit LSH bucket id of ``vec_col`` as ``out_col``.

    One Arrow-batched numpy kernel, bit-identical to the
    :func:`bucket_col` expression and the ``near_dup_pairs`` DuckDB
    oracle (tier-1: ``test_bucket_assign_arrow_sql_bit_identical``): the
    per-plane dot product is an ELEMENTWISE product followed by
    ``np.cumsum`` along the vector axis (cumsum is a strict
    left-to-right partial-sum loop), i.e. the same
    ``fold(0.0, acc + x·y)`` float-addition order the expression and
    the DuckDB oracle use — float addition is not associative, so a
    BLAS ``dot`` (SIMD/pairwise reordering) would NOT reproduce the
    oracle's signs on knife-edge dots. The only residual difference is
    ``-0.0`` vs ``+0.0`` when a dot is exactly zero (fold starts at
    +0.0), and the sign test ``dot >= 0`` treats both identically.
    """
    pl = np.asarray(planes, dtype=np.float64)
    n_planes = pl.shape[0]
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType(), False)]
    )
    bits = (1 << np.arange(n_planes, dtype=np.int64))[None, :]
    cols = list(df.columns)

    zero_dim = pl.shape[1]

    def kernel(batches):
        for pdf in batches:
            vals = [
                # NULL vector: the expression's NULL dots fail
                # every `dot >= 0` test → bucket 0; an all-zero stand-in
                # reproduces that (+0.0 >= 0 is true for every plane —
                # NOT the same!), so mask them out instead
                v
                for v in pdf[vec_col]
            ]
            nulls = np.array([v is None for v in vals], dtype=bool)
            buckets = np.zeros(len(vals), dtype=np.int64)
            if len(vals) and not nulls.all():
                mat = np.stack(
                    [
                        np.zeros(zero_dim)
                        if v is None
                        else np.asarray(v, dtype=np.float64)
                        for v in vals
                    ]
                )  # (rows, dim)
                # (rows, planes, dim) products, folded left-to-right
                prods = mat[:, None, :] * pl[None, :, :]
                dots = np.cumsum(prods, axis=2)[:, :, -1]
                buckets = ((dots >= 0) * bits).sum(axis=1)
                buckets[nulls] = 0
            out = pdf[cols].copy()
            out[out_col] = buckets.astype(np.int32)
            yield out

    return df.mapInPandas(kernel, schema)


def cosine_assign(
    df: DataFrame,
    a_col: str,
    b_col: str,
    out_col: str = "cosine",
    keep: list[str] | None = None,
) -> DataFrame:
    """Append the cosine of two vector columns as ``out_col``.

    One Arrow-batched numpy kernel, bit-identical to the
    :func:`cosine_col` expression on every pair
    (``test_cosine_assign_arrow_sql_bit_identical``): the dot and both
    squared norms are elementwise products folded by ``np.cumsum``
    (strict left-to-right partial sums — the same float-addition order
    as the expression's ``aggregate`` and the DuckDB oracle), ``sqrt``
    and the final division are single IEEE ops on identical operands.
    Zero-norm guard matches: either norm 0 → cosine 0.0. The
    expression's per-element lambdas are interpreted per pair×dimension
    — the dominant cost of pairwise scans — which is what the kernel
    replaces.

    ``keep``: output columns besides ``out_col`` (default: all input
    columns). Pair scans should keep only the id columns — returning
    the vectors through the Arrow boundary is pure copy cost.
    """
    cols = keep if keep is not None else list(df.columns)
    schema = T.StructType(
        [df.schema[c] for c in cols]
        + [T.StructField(out_col, T.DoubleType(), False)]
    )

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            out = pdf[cols].copy()
            if n == 0:
                out[out_col] = np.zeros(0, dtype=np.float64)
                yield out
                continue
            la, lb = list(pdf[a_col]), list(pdf[b_col])
            # NULL vectors: the expression's NULL norms fail the
            # (na>0)&(nb>0) gate → 0.0; zero stand-ins take the same
            # branch (norm 0), so no extra masking is needed
            dim = next(
                (len(v) for v in la + lb if v is not None), 1
            )
            va = np.stack(
                [
                    np.zeros(dim) if v is None else np.asarray(v, np.float64)
                    for v in la
                ]
            )
            vb = np.stack(
                [
                    np.zeros(dim) if v is None else np.asarray(v, np.float64)
                    for v in lb
                ]
            )
            dot = np.cumsum(va * vb, axis=1)[:, -1]
            na = np.sqrt(np.cumsum(va * va, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(vb * vb, axis=1)[:, -1])
            cos = np.zeros(n, dtype=np.float64)
            ok = (na > 0) & (nb > 0)
            cos[ok] = dot[ok] / (na[ok] * nb[ok])
            out[out_col] = cos
            yield out

    return df.mapInPandas(kernel, schema)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: exact cosine only within matching buckets.

    Recall knob: fewer planes → bigger buckets → higher recall/cost.
    Each query probes its own bucket and every bucket at Hamming
    distance 1 from it (flip each bit once)."""
    dim = len(queries.select(query_vec_col).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    cb = bucket_assign(corpus, vec_col, planes)
    # query side is tiny (broadcast below): the bucket_col expression
    # avoids spinning a Python worker stage for a handful of rows
    qb = queries.withColumn("bucket", bucket_col(query_vec_col, planes))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )
    qb = qb.withColumn("bucket", F.explode(probes))
    joined = cb.join(F.broadcast(qb), "bucket").withColumn(
        "cosine", cosine_col(vec_col, query_vec_col)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "cosine", "rank")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate (id_l < id_r, cosine ≥ τ) pairs via bucketed
    self-join — embedding-space near-dup detection at corpus scale.

    Buckets larger than ``max_bucket`` (degenerate clusters, e.g.
    all-zero embeddings landing in one hyperplane cell) are DROPPED
    rather than joined — a quadratic bucket at corpus scale is an
    error, not work (same guard as minhash_lsh_pairs).

    The bucketed frame is persisted for the plan's duration: it feeds
    the size census and both self-join sides, and each branch would
    otherwise re-scan the corpus and re-run the bucket kernel (the
    plan audit counted 8 embedding scans unpersisted — at warehouse
    scale this is a materialized bucket-assignment table)."""
    planes_df = bucket_assign(
        corpus, vec_col, hyperplanes_for(corpus, vec_col, n_planes, seed)
    ).persist()
    ok = (
        planes_df.groupBy("bucket")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= max_bucket)
        .select("bucket")
    )
    capped = planes_df.join(F.broadcast(ok), "bucket")
    l = capped.select(
        "bucket", F.col(id_col).alias("id_l"), F.col(vec_col).alias("v_l")
    )
    r = capped.select(
        "bucket", F.col(id_col).alias("id_r"), F.col(vec_col).alias("v_r")
    )
    cand = l.join(r, "bucket").filter(F.col("id_l") < F.col("id_r"))
    return (
        cosine_assign(cand, "v_l", "v_r", keep=["id_l", "id_r"])
        .filter(F.col("cosine") >= threshold)
        .select("id_l", "id_r", "cosine")
        .distinct()
    )


def hyperplanes_for(
    df: DataFrame, vec_col: str, n_planes: int, seed: int
) -> np.ndarray:
    dim = len(df.select(vec_col).first()[0])
    return hyperplanes(dim, n_planes, seed)


def embedding_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    z: float = 3.0,
    quant: int = 1000,
) -> DataFrame:
    """Flag vectors far from their group centroid (mislabeled /
    corrupted embeddings — the standard sanity gate before training on
    an embedding column). Returns ``(id, group, dist_milli,
    group_mean, group_std, is_outlier)`` where ``dist_milli`` is the
    L2 distance to the group centroid in 1/``quant`` units and
    ``is_outlier`` is ``dist > mean + z * std`` within the group.

    Determinism contract: floating-point group aggregation is NOT
    associative, so every cross-partition aggregate here is over
    BIGINTs — embeddings are quantized to ``round(x * quant)`` once,
    the centroid is kept as exact integer sums ``(S_j, n)`` (never a
    float mean), and per-row distances are quantized before the
    mean/std aggregate. The only float ops are per-row expressions
    over exact integers in a fixed fold order — identical across
    partitionings, retries, and engines (the DuckDB oracle replays
    them bit-for-bit).

    Scale shape: one slim ``(group, dim)`` hash agg for centroids
    (rows = groups x dims, map-side combined), centroids broadcast
    back, one slim ``(group)`` agg for distance moments, broadcast
    again. The full-width vector column never shuffles."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * quant).cast("long"),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        q.alias("q"),
    )
    # centroid as exact integer sums: explode dims -> (grp, dim) sum
    dims = base.select(
        "grp", F.posexplode("q").alias("dim", "v")
    )
    cent = (
        dims.groupBy("grp", "dim")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s"))),
                lambda x: x["s"],
            ).alias("S"),
            F.max("n").alias("n"),
        )
    )
    joined = base.join(F.broadcast(cent), "grp")
    # dist^2 in (quant*n)-scale: sum over dims of (q_j * n - S_j)^2
    d2 = F.aggregate(
        F.zip_with(
            "q", "S", lambda a, b: (a * F.col("n") - b).cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    scored = joined.select(
        "id",
        "grp",
        F.round(F.sqrt(d2) / F.col("n")).cast("long").alias("dist_milli"),
    )
    stats = scored.groupBy("grp").agg(
        F.sum("dist_milli").alias("sd"),
        F.sum(F.col("dist_milli") * F.col("dist_milli")).alias("sd2"),
        F.count("*").alias("cnt"),
    )
    mean = F.col("sd") / F.col("cnt")
    var = F.col("sd2") / F.col("cnt") - mean * mean
    return (
        scored.join(F.broadcast(stats), "grp")
        .select(
            F.col("id").alias(id_col),
            F.col("grp").alias(group_col),
            "dist_milli",
            F.round(mean, 6).alias("group_mean"),
            F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("group_std"),
            (
                F.col("dist_milli")
                > mean + F.sqrt(F.greatest(var, F.lit(0.0))) * z
            ).alias("is_outlier"),
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 100_000,
    pair_block: int = 2048,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then mark as semantic duplicates the rows whose
    cosine to another row in the SAME cluster exceeds τ. Returns one
    row per input — ``(id, centroid, is_dup)`` — so the caller filters
    ``~is_dup`` to dedup or inspects the flagged set.

    Keep policy (deterministic, partitioning-invariant): within a
    cluster, a row is a duplicate iff SOME lower-id row (kept or
    itself flagged) lies within τ. (The paper keeps the member
    farthest from the centroid and sweeps greedily; the any-lower-id
    rule flags the same ε-neighborhoods with a fixed total order that
    is exactly replayable in SQL — it can only flag a superset of the
    greedy sweep, never drop a genuine near-pair.)

    Scale shape: the pairwise step is confined to clusters — with
    k ≈ √N centroids the expected cluster is √N rows and the join cost
    Σ s_c², not N². Clusters larger than ``max_cluster`` are an input
    pathology (e.g. a zero-vector lake): their rows are kept UNFLAGGED
    rather than joined quadratically, and surfaced via the companion
    overflow frame (same refusal contract as minhash/near-dup LSH).
    The cluster assignment itself is a narrow map against the broadcast
    centroid matrix (see ``ivf.assign_centroids``); the assigned frame
    is consumed by THREE branches (cluster sizes, the clusters within
    ``max_cluster``, the oversized rest), so it is lazily
    ``localCheckpoint``-ed — the corpus is scanned and the kernel run
    ONCE, not once per branch.

    The pairwise step is a per-cluster Arrow kernel: each cluster's
    vectors cross the boundary once, and ``pair_block`` bounds the
    rows of one block of the cluster's pairwise matrix, so task memory
    stays O(n · pair_block). Value-exact against the ``semantic_dedup``
    DuckDB oracle (a centroid-keyed self-join with a per-pair cosine)
    on the sf0.001 corpus in tier-1."""
    from docling_eval_spark.operators.ivf import assign_centroids

    a = assign_centroids(corpus, centroids, id_col, vec_col).localCheckpoint(
        eager=False
    )
    sizes = a.groupBy("centroid").agg(F.count("*").alias("__n"))
    ok = sizes.filter(F.col("__n") <= max_cluster).select("centroid")
    joinable = a.join(F.broadcast(ok), "centroid")
    # per-cluster pairwise kernel: each cluster's vectors cross the
    # Arrow boundary ONCE (n rows), never once per pair — a self-join
    # shape materializes every (a_vec, b_vec) pair row (~n²/2 vector
    # copies per cluster through the exchange and the Python
    # boundary; measured 5.2s -> 1.1s on the bench corpus). Work and
    # memory per task are bounded by ``max_cluster`` (set it from
    # executor memory — the SemDeDup paper's own regime: pick k so
    # clusters fit); the shuffle is one centroid-keyed exchange.
    # Float order is replicated exactly: dots and squared norms
    # accumulate dimension-sequentially (the same left-to-right IEEE
    # adds as cosine_assign's cumsum and the oracle's list fold),
    # sqrt and the division are single ops on identical operands,
    # zero-norm guard included.
    id_field = joinable.schema[id_col]
    cent_field = joinable.schema["centroid"]
    out_schema = T.StructType(
        [
            id_field,
            cent_field,
            T.StructField("is_dup", T.BooleanType(), False),
        ]
    )
    thr = threshold

    def cluster_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        vecs = list(pdf[vec_col])
        n = len(vecs)
        dim = next(
            (len(v) for v in vecs if v is not None), 1
        )
        m = np.stack(
            [
                np.zeros(dim)
                if v is None
                else np.asarray(v, np.float64)
                for v in vecs
            ]
        )
        # per-row squared norms, dimension-sequential (== the
        # cumsum fold order of cosine_assign / the oracle)
        nsq = np.zeros(n, dtype=np.float64)
        for k in range(dim):
            nsq += m[:, k] * m[:, k]
        nrm = np.sqrt(nsq)
        # b is a dup iff SOME strictly-lower-id a is within τ.
        # Process candidate rows (the "b" side) in blocks so task
        # memory stays O(n · block) however large the cluster —
        # the total pairwise work is inherent, the n×n matrix is
        # not.
        is_dup = np.zeros(n, dtype=bool)
        block = max(1, pair_block)
        for b0 in range(1, n, block):
            b1 = min(b0 + block, n)
            sub = np.zeros((b1 - b0, n), dtype=np.float64)
            for k in range(dim):  # dim-sequential accumulation
                sub += np.multiply.outer(m[b0:b1, k], m[:, k])
            denom = np.multiply.outer(nrm[b0:b1], nrm)
            okm = denom > 0
            cos = np.zeros_like(sub)
            cos[okm] = sub[okm] / denom[okm]
            hit = cos >= thr
            # only pairs with a-index < b-index count
            for i in range(b1 - b0):
                if hit[i, : b0 + i].any():
                    is_dup[b0 + i] = True
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "centroid": pdf["centroid"].to_numpy(),
                "is_dup": is_dup,
            }
        )

    flagged = joinable.select(id_col, "centroid", vec_col).groupBy(
        "centroid"
    ).applyInPandas(cluster_kernel, out_schema)
    oversized = (
        a.join(
            F.broadcast(
                sizes.filter(F.col("__n") > max_cluster).select(
                    "centroid"
                )
            ),
            "centroid",
        )
        .select(id_col, "centroid", F.lit(False).alias("is_dup"))
    )
    return flagged.unionByName(oversized)
