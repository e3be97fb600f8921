"""JSONL shard sink: roundtrip + manifest consistency."""
import json
import os

import pyspark.sql.functions as F

from docling_eval_spark.sources.jsonl_sink import write_jsonl_shards


def test_jsonl_roundtrip_and_manifest(spark, tmp_path):
    out = str(tmp_path / "export")
    df = spark.range(250).select(
        F.col("id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
        F.when(F.col("id") % 10 == 0, F.lit(None)).otherwise(F.lit("en")).alias("lang"),
    ).repartition(4)
    manifest = write_jsonl_shards(df, out, max_records_per_file=40)

    assert manifest["total_rows"] == 250
    assert manifest["n_shards"] >= 4  # 4 tasks x ceil splits
    assert sum(s["rows"] for s in manifest["shards"]) == 250
    assert all(s["rows"] <= 40 for s in manifest["shards"])
    assert manifest["columns"] == ["id", "text", "lang"]

    on_disk = json.load(open(os.path.join(out, "_manifest.json")))
    assert on_disk == manifest

    back = spark.read.schema("id long, text string, lang string").json(
        os.path.join(out, "part-*")
    )
    assert back.count() == 250
    orig = sorted(tuple(r) for r in df.collect())
    got = sorted(tuple(r) for r in back.select("id", "text", "lang").collect())
    assert got == orig  # null lang round-trips (omitted field -> NULL)


def test_jsonl_refuses_overwrite_by_default(spark, tmp_path):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    out = str(tmp_path / "once")
    df = spark.range(5).select(F.col("id"))
    write_jsonl_shards(df, out, max_records_per_file=10)
    with pytest.raises((AnalysisException, Py4JJavaError)):
        write_jsonl_shards(df, out, max_records_per_file=10)
