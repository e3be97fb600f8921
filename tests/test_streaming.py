"""Incremental dedup over an appended signature store."""

from __future__ import annotations


def test_incremental_dedup_flow(spark, tmp_path):
    """Continuous-ingest dedup story: batch pass writes a signature
    store; each new shard joins only (new x all) and appends its own
    signatures — old x old never recomputed."""
    from docling_eval_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    store_dir = str(tmp_path / "sig_store")
    batch = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "completely unrelated text about spark engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    minhash_signatures(batch, "doc_id").write.mode("overwrite").parquet(store_dir)

    for shard_id, rows in enumerate(
        [
            [(10, "the quick brown fox jumps over the lazy dog")],  # dup of 0
            [(20, "fresh novel material"), (21, "fresh novel material")],
        ]
    ):
        new = spark.createDataFrame(rows, "doc_id long, text string")
        new_sigs = minhash_signatures(new, "doc_id")
        store = spark.read.parquet(store_dir)
        pairs = {
            (r["id_l"], r["id_r"])
            for r in minhash_incremental_pairs(new_sigs, store).collect()
        }
        if shard_id == 0:
            assert (0, 10) in pairs and all(l != 1 for l, _ in pairs)
        else:
            assert (20, 21) in pairs
            assert all({l, r} & {20, 21} for l, r in pairs)  # only new-x-*
        new_sigs.write.mode("append").parquet(store_dir)

    assert spark.read.parquet(store_dir).count() == 5
