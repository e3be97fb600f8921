"""IVF approximate nearest neighbor vs brute-force oracle."""

from __future__ import annotations

import pyspark.sql.functions as F

from docling_eval_spark.operators.ivf import assign_centroids, ivf_topk
from docling_eval_spark.operators.similarity import brute_force_topk, hyperplanes


def _embeddings(spark, sf="/root/testdata/sf0.001"):
    return spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )


def test_train_and_assign(spark):
    e = _embeddings(spark)
    cents = hyperplanes(64, 8, seed=11)
    assert cents.shape == (8, 64)
    assigned = assign_centroids(e, cents)
    counts = assigned.groupBy("centroid").count().collect()
    assert sum(r["count"] for r in counts) == e.count()
    assert len(counts) > 1  # not all in one list


def test_ivf_recall_vs_brute(spark):
    e = _embeddings(spark)
    cents = hyperplanes(64, 8, seed=11)
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(e, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(e, queries, cents, k=3, n_probe=3).collect()
    }
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.6
    assert all((q, q) in approx for q in range(8))  # self always found


def test_ivf_determinism(spark):
    """Fixed centroids: list assignment and the probed top-k do not
    depend on how the corpus is partitioned."""
    e = _embeddings(spark)
    cents = hyperplanes(64, 8, seed=11)

    def lists(df):
        return sorted(
            (r["vec_id"], r["centroid"]) for r in assign_centroids(df, cents).collect()
        )

    assert lists(e) == lists(e.repartition(7))

    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def top(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in ivf_topk(df, queries, cents, k=3, n_probe=2).collect()
        )

    assert top(e) == top(e.repartition(7))
