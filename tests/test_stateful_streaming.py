"""Gap sessionization and a registry operator's window expression under
Structured Streaming."""

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


def test_crawl_rate_streaming_matches_batch(spark, tmp_path):
    """crawl_rate's F.window expression really does run under
    Structured Streaming: the same expression over a parquet stream
    with a watermark, availableNow-triggered, emits the identical
    (host, window, n_fetches) rollup as the batch call (closed windows
    — availableNow drains the source, so all windows close)."""
    from docling_eval_spark.operators.temporal import crawl_rate

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .limit(2000)
        .select(
            F.concat(F.lit("h"), (F.col("event_id") % 7).cast("string")).alias(
                "host"
            ),
            F.col("ts").alias("crawl_ts"),
            F.concat(F.lit("u"), (F.col("event_id") % 400).cast("string")).alias(
                "url"
            ),
        )
    )
    src = str(tmp_path / "fetches")
    ev.write.parquet(src)

    stream = spark.readStream.schema(
        "host string, crawl_ts timestamp, url string"
    ).parquet(src)
    # exact_urls=False: distinct aggregation is unsupported in
    # streaming; approx HLL++ is deterministic, so batch matches
    rate = crawl_rate(
        stream.withWatermark("crawl_ts", "1 day"), exact_urls=False
    )
    q = (
        rate.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM rate_out").collect()
    )
    batch = {tuple(r)[:3]: tuple(r) for r in crawl_rate(ev, exact_urls=False).collect()}
    # append mode emits only CLOSED windows (window_end <= final
    # watermark = max event time - 1 day): every emitted row must match
    # the batch rollup exactly, and the only batch rows NOT emitted are
    # the still-open tail windows near the stream's max event time
    assert len(got) > 0
    import datetime

    max_end = max(k[2] for k in batch)
    for row in got:
        assert batch[row[:3]] == row
    missing = set(batch) - {row[:3] for row in got}
    assert all(end > max_end - datetime.timedelta(days=2) for *_, end in missing)
