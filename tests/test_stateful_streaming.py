"""Gap sessionization of an event stream, on a batch frame."""

from __future__ import annotations

import pyspark.sql.functions as F

from docling_eval_spark.operators.temporal import sessionize_batch


def test_batch_sessionization_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),
        (1, "2024-01-01 01:10:00", 3.0),  # > 30min gap → new session
        (2, "2024-01-01 00:00:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = sessionize_batch(df, gap_sec=1800).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    assert sorted(r["n_events"] for r in by_user[1]) == [1, 2]
    assert len(by_user[2]) == 1
