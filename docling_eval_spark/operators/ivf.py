"""IVF (inverted-file) approximate nearest neighbor — the second
scale path for embedding search (alongside the hyperplane LSH in
similarity.py).

Classic IVF structure, Spark-first, over a given centroid matrix:
- **assign**: nearest centroid per vector via a vectorized NumPy
  kernel (one matmul per Arrow batch against the broadcast centroid
  matrix);
- **search**: queries probe their ``n_probe`` nearest centroid lists;
  candidates come from an equi-join on centroid id (no cross join),
  exact cosine + window top-k inside the probed lists only.

At 10^12 rows the assign pass is a narrow map; the search shuffles
only the probed lists. Recall/cost knob: n_centroids ~ sqrt(N),
n_probe 1-8.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def assign_centroids(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    out_col: str = "centroid",
) -> DataFrame:
    """Append nearest-centroid id(s); n_probe>1 explodes to one row
    per probed centroid (query-side multiprobe)."""
    cents = centroids.astype(float)
    src = corpus.select(id_col, vec_col)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        for pdf in batches:
            mat = np.array([list(v) for v in pdf[vec_col]], dtype=float)
            if len(mat) == 0:
                yield pd.DataFrame({id_col: [], vec_col: [], out_col: []})
                continue
            mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mn @ cn.T
            # stable sort: exact cosine ties (e.g. all-zero vectors →
            # every sim 0.0) must break toward the LOWEST centroid
            # index, the tiebreak the DuckDB oracle gate encodes
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            ids, vecs, cids = [], [], []
            for i in range(len(mat)):
                for c in order[i]:
                    ids.append(pdf[id_col].iloc[i])
                    vecs.append(list(pdf[vec_col].iloc[i]))
                    cids.append(int(c))
            yield pd.DataFrame({id_col: ids, vec_col: vecs, out_col: cids})

    schema = f"{id_col} long, {vec_col} array<double>, {out_col} int"
    return src.mapInPandas(kernel, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: probe n_probe centroid lists per query."""
    from docling_eval_spark.operators.similarity import cosine_col

    cd = assign_centroids(
        corpus.select(F.col(id_col), F.transform(vec_col, lambda x: x.cast("double")).alias(vec_col)),
        centroids, id_col, vec_col,
    )
    qd = assign_centroids(
        queries.select(
            F.col(query_id_col).alias("vec_id"),
            F.transform(query_vec_col, lambda x: x.cast("double")).alias("embedding"),
        ),
        centroids,
        n_probe=n_probe,
    ).select(
        F.col("vec_id").alias(query_id_col),
        F.col("embedding").alias(query_vec_col),
        "centroid",
    )
    joined = cd.join(F.broadcast(qd), "centroid").withColumn(
        "cosine", cosine_col(vec_col, query_vec_col)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col).asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, F.col(id_col).alias("neighbor_id"), "cosine", "rank")
    )
