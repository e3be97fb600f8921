"""Bucketed co-located joins: the join-without-exchange contract."""

from __future__ import annotations

import pyspark.sql.functions as F

from docling_eval_spark.sources.bucketed import read_table, write_bucketed


def test_cobucketed_join_elides_both_exchanges(spark):
    # the fixture tables are tiny, so Spark would broadcast and hide
    # the bucket layout — disable auto-broadcast to plan the join the
    # way a 100 TB table pair would be planned
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _run_cobucketed_join_case(spark)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def _run_cobucketed_join_case(spark):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("lv")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("rv")
    )
    write_bucketed(left, "bkt_left", "k", n_buckets=8)
    write_bucketed(right, "bkt_right", "k", n_buckets=8)
    joined = read_table(spark, "bkt_left").join(read_table(spark, "bkt_right"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the whole point: NO shuffle on either side — bucket i joins
    # bucket i map-side (broadcast would also be exchange-free but
    # hides the bucket effect, so rule it out too)
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastExchange" not in plan
    # and the result is the plain join's result
    n = joined.count()
    assert n == 1000
    row = joined.filter(F.col("k") == 7).collect()[0]
    assert (row["lv"], row["rv"]) == (14, 21)

    # contrast: the same data joined WITHOUT bucketing shuffles —
    # proving the elision came from the bucket layout, not the size
    plain = left.join(right.withColumnRenamed("rv", "rv2"), "k")
    plain_plan = plan_of(plain)
    assert (
        "Exchange hashpartitioning" in plain_plan
        or "BroadcastExchange" in plain_plan
    )


def plan_of(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_aggregation_no_exchange(spark):
    """A groupBy on the bucket key also rides the bucket layout —
    partial+final aggregation collapses with no exchange."""
    df = spark.range(0, 500).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    )
    write_bucketed(df, "bkt_agg", "k", n_buckets=4)
    agg = read_table(spark, "bkt_agg").groupBy("k").agg(F.sum("v").alias("s"))
    assert "Exchange hashpartitioning" not in plan_of(agg)
    got = {r["k"]: r["s"] for r in agg.collect()}
    assert got[0] == sum(i for i in range(500) if i % 50 == 0)
    assert len(got) == 50


def test_overwrite_never_deletes_external_table_data(spark, tmp_path):
    """DROP of an EXTERNAL table keeps its data by Spark semantics;
    write_bucketed's overwrite cleanup must honor that — even when the
    external location happens to be readable local parquet."""
    ext = tmp_path / "ext_data"
    spark.range(0, 10).selectExpr("id AS k", "id * 7 AS v").write.parquet(
        str(ext)
    )
    # USING parquet + LOCATION = external table in the in-memory
    # catalog (no Hive needed); Type shows EXTERNAL in DESCRIBE
    spark.sql(f"CREATE TABLE bkt_ext USING parquet LOCATION '{ext}'")
    df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    write_bucketed(df, "bkt_ext", "k", n_buckets=4)
    # the new managed table is live with the new contents...
    assert read_table(spark, "bkt_ext").count() == 100
    # ...and the external data directory was left untouched
    assert spark.read.parquet(str(ext)).count() == 10
    spark.sql("DROP TABLE IF EXISTS bkt_ext")


def test_overwrite_never_deletes_unrelated_directory(spark):
    """A directory at the name-derived warehouse path that is NOT a
    managed parquet layout (here: holds a user file) must survive; the
    collision then surfaces as Spark's own location error instead of a
    silent delete."""
    import os

    import pytest

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    loc = os.path.join(wh, "bkt_squatter")
    os.makedirs(loc, exist_ok=True)
    marker = os.path.join(loc, "precious.txt")
    with open(marker, "w") as fh:
        fh.write("not spark's data")
    try:
        df = spark.range(0, 10).selectExpr("id AS k")
        with pytest.raises(Exception):
            write_bucketed(df, "bkt_squatter", "k", n_buckets=2)
        with open(marker) as fh:
            assert fh.read() == "not spark's data"
    finally:
        import shutil

        spark.sql("DROP TABLE IF EXISTS bkt_squatter")
        shutil.rmtree(loc, ignore_errors=True)


def test_overwrite_still_clears_crashed_orphan(spark):
    """The original contract stands: an orphaned managed-table layout
    (part files without a catalog entry — the crashed-write case) is
    cleared so overwrite stays idempotent."""
    df = spark.range(0, 50).selectExpr("id AS k", "id AS v")
    write_bucketed(df, "bkt_orphan", "k", n_buckets=2)
    # simulate the crash: catalog entry gone, files left behind
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    loc = os.path.join(wh, "bkt_orphan")
    spark.sql("DROP TABLE bkt_orphan")
    os.makedirs(loc, exist_ok=True)
    with open(os.path.join(loc, "part-00000-stale.parquet"), "w") as fh:
        fh.write("stale")
    write_bucketed(df, "bkt_orphan", "k", n_buckets=2)
    assert read_table(spark, "bkt_orphan").count() == 50
    spark.sql("DROP TABLE IF EXISTS bkt_orphan")


def test_local_path_of_spellings():
    """All local spellings resolve; remote schemes and non-localhost
    file authorities (RFC 8089 'file://nas01/p' names ANOTHER host)
    return None — a naive prefix strip yields cwd-relative garbage
    that the rmtree guards would then act on."""
    from docling_eval_spark.functions.uri import local_path_of

    assert local_path_of("/data/wh") == "/data/wh"
    assert local_path_of("file:/data/wh") == "/data/wh"
    assert local_path_of("file:///data/wh") == "/data/wh"
    assert local_path_of("file://localhost/data/wh") == "/data/wh"
    assert local_path_of("file://LOCALHOST/data/wh") == "/data/wh"
    assert local_path_of("file://nas01/data/wh") is None
    assert local_path_of("file://nas01") is None
    assert local_path_of("hdfs://nn:8020/data/wh") is None
    assert local_path_of("s3a://bucket/wh") is None


def test_catalog_enumeration_failure_fails_closed(spark, tmp_path, monkeypatch):
    """If listTables itself errors, ownership is UNKNOWN — the orphan
    check must claim the path is owned (nothing deleted), same as the
    per-table DESCRIBE hiccup case."""
    from docling_eval_spark.sources.bucketed import _path_owned_by_live_table

    def boom(_db):
        raise RuntimeError("transient metastore error")

    monkeypatch.setattr(spark.catalog, "listTables", boom)
    assert _path_owned_by_live_table(spark, "default", str(tmp_path)) is True
