"""Bucketed tables — shuffle-free co-located joins (SURVEY §4 scale
strategy; the "pre-shuffle once, join forever" pattern).

The GT↔prediction equi-join (J1) and every id-keyed enrichment join
re-shuffles both sides on every run. At 100 TB that exchange IS the
job. Spark's answer is bucketing: write both tables `bucketBy(N, key)`
via ``saveAsTable`` (bucketing metadata lives in the catalog, so plain
``.parquet()`` writes cannot carry it), and every later equi-join on
the key matches bucket layouts and elides BOTH exchanges — the join
runs map-side, bucket i against bucket i.

Rules that make the elision actually fire (all encoded here):
- both sides bucketed by the SAME column set into the SAME bucket
  count (or an integer multiple; Spark then coalesces);
- ``spark.sql.sources.bucketing.enabled`` on (default) and the join
  key equal to the bucket key (a superset works; a subset does not);
- no bucket-destroying transform (repartition, coalesce) between scan
  and join.

Sorted buckets (``sortBy``) additionally let sort-merge join skip its
sort. The write itself costs one shuffle — paid ONCE at ingest, then
amortized over every downstream join; that is the trade the
100 TB north-rule design wants for the hot (url-keyed) tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _table_is_external(spark: SparkSession, table: str) -> bool:
    """True iff ``table`` exists and is EXTERNAL — its data must
    survive a DROP, so the overwrite path must never rmtree it."""
    try:
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    except Exception:  # table absent (the common overwrite-fresh case)
        return False
    for r in desc:
        if r["col_name"] == "Type":
            return r["data_type"].strip().upper() == "EXTERNAL"
    return False


def _looks_like_managed_table_dir(loc) -> bool:
    """Managed parquet table layout: only part files, commit markers,
    and hidden/temp entries. Anything else means the path is not ours
    to delete (an unrelated directory that happens to sit at the
    name-derived location)."""
    import os

    try:
        names = os.listdir(loc)
    except OSError:
        return False
    allowed = ("part-", "_SUCCESS", ".", "_temporary", "_committed", "_started")
    return all(n.startswith(allowed) for n in names)


def _path_owned_by_live_table(spark: SparkSession, db: str, loc) -> bool:
    """True iff some still-cataloged table in ``db`` resolves to
    ``loc`` — then the directory is NOT an orphan and must stay.

    A table that cannot be described is treated as OWNING the path
    (return True → nothing is deleted): failing open here would let a
    describe hiccup authorize an rmtree of live data."""
    import os

    from docling_eval_spark.functions.uri import local_path_of

    target = os.path.realpath(str(loc))
    try:
        tables = spark.catalog.listTables(db)
    except Exception:
        return True  # can't enumerate owners → keep files (fail closed)
    for t in tables:
        # backtick-quote: names needing quoting (`my-table`) must not
        # fall out of the ownership check via a parse error
        name = (
            f"`{t.database}`.`{t.name}`" if t.database else f"`{t.name}`"
        )
        try:
            desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        except Exception:
            return True  # can't prove it's NOT the owner → keep files
        for r in desc:
            if r["col_name"] == "Location":
                p = local_path_of(r["data_type"])
                if p is not None and os.path.realpath(p) == target:
                    return True
    return False


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog table bucketed and sorted by
    ``bucket_col``. Idempotent under ``overwrite`` even
    after a crashed prior write: a managed-table LOCATION can outlive
    its catalog entry (LOCATION_ALREADY_EXISTS), so overwrite drops
    the entry AND clears an orphaned local location first.

    The orphan cleanup deletes ONLY within Spark's own drop semantics:
    if the pre-existing table is EXTERNAL (DROP intentionally keeps
    its data), or another live catalog table owns the name-derived
    path, or the directory's contents don't look like a managed
    parquet table (part files + commit markers only), nothing is
    removed — a genuine collision then surfaces as Spark's own
    LOCATION_ALREADY_EXISTS instead of a silent delete of foreign
    data."""
    spark = df.sparkSession
    if mode == "overwrite":
        was_external = _table_is_external(spark, table)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        from docling_eval_spark.functions.uri import local_path_of

        wh = local_path_of(spark.conf.get("spark.sql.warehouse.dir", ""))
        if wh and not was_external:
            import shutil
            from pathlib import Path

            # the DEFAULT database's location IS the warehouse root,
            # so `tbl`, `default.tbl` and `spark_catalog.default.tbl`
            # all live at <wh>/<tbl>; only a non-default db nests as
            # <wh>/<db>.db/<tbl>
            parts = table.lower().split(".")
            db = parts[-2] if len(parts) > 1 else "default"
            loc = (
                Path(wh) / parts[-1]
                if db == "default"
                else Path(wh) / f"{db}.db" / parts[-1]
            )
            if (
                loc.exists()
                and _looks_like_managed_table_dir(loc)
                and not _path_owned_by_live_table(spark, db, loc)
            ):
                shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — bucketing metadata rides along, so joins on the
    bucket key plan without exchanges."""
    return spark.table(table)
