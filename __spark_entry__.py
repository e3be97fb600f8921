"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction-parity pipeline on sf0.001.
``queries()`` — one entry per implemented operator family from
SURVEY.md §2 (+ the training-pipeline operators); each callable takes
(spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — DuckDB-runnable ANSI SQL twins. Conventions used to
make value-hashes comparable across engines:

- every float output is ``round(x, 6)`` (or 4 for large money sums)
  on BOTH sides; money sums go through decimal(18,6) so the sum is
  exact and order-independent before the final double cast;
- every computed integer is cast to bigint on both sides;
- deterministic tie-breaks (id columns) on every rank/top-k;
- DuckDB ``regexp_replace`` gets the ``'g'`` flag to match Spark's
  replace-all semantics;
- ``trim(x, ' ')`` where the Spark side trims: Spark's ``trim`` strips
  U+0020 only, DuckDB's bare ``trim(x)`` also strips Unicode space
  separators (NBSP, U+2000-U+200A, U+3000). The oracles of the kernels
  checked on edge rows in tier-1 spell it out.

Every query has a DuckDB oracle: the dedup family uses engine-portable
polynomial hashes, TEDS/OTSL queries run over grids with closed-form
edit distances, and corpus mAP's PR curves are recomputed relationally
(window cum-sums + 101-point interpolation as a max-over-recall join).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

# make the package importable regardless of the caller's CWD
_REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO))

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship docling_eval_spark to executor Python workers.

    A driver started outside /root/repo imports this module fine (the
    sys.path insert above), but executor workers unpickle kernel
    closures in their own interpreters — without the package on THEIR
    path, every mapInPandas fails with ModuleNotFoundError. addPyFile
    distributes a zip of the package to all workers once per session.
    """
    if getattr(spark, "_des_pkg_added", False):
        return
    import shutil
    import tempfile

    zdir = Path(tempfile.gettempdir()) / "docling_eval_spark_pkg"
    zdir.mkdir(exist_ok=True)
    zpath = shutil.make_archive(
        str(zdir / "docling_eval_spark"), "zip",
        root_dir=str(_REPO), base_dir="docling_eval_spark",
    )
    spark.sparkContext.addPyFile(zpath)
    spark._des_pkg_added = True  # type: ignore[attr-defined]

N_BINS = 20

# --------------------------------------------------------------- helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """``df`` round-robin repartitioned over the session's default
    parallelism. A single-file table scans as one partition, so a
    CPU-bound kernel downstream would run on one core; the shuffle
    this adds is tiny next to the kernel."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _dec_sum(col: str):
    """Order-independent double sum: exact decimal sum → double."""
    return F.sum(F.col(col).cast("decimal(18,6)")).cast("double")


def _lev_fast(a, b):
    """levenshtein(a, b) with an exact substring fast path.

    If x is a substring (hence subsequence) of y, the edit distance is
    exactly length(y) − length(x): an insertion-only script achieves
    it, and ||y|−|x|| lower-bounds any script. So the guarded
    expression is value-identical to plain levenshtein for EVERY
    input; only genuinely diverged pairs pay the O(n·m) DP."""
    return (
        F.when(F.contains(b, a), F.length(b) - F.length(a))
        .when(F.contains(a, b), F.length(a) - F.length(b))
        .otherwise(F.levenshtein(a, b))
        .cast("bigint")
    )


_WS = r"[ \t\n\r\f\v]+"

# sentinel paragraph appended by datagen.render_page_for_text — must
# stay in sync with docling_eval_spark/datagen/pages.py SENTINEL_TMPL
_SENT_PRE = "Synthetic corpus document "
_SENT_POST = (
    " rendered deterministically for extraction parity checking with "
    "exactly eighteen words in this closing sentinel paragraph here."
)

_EN = "the of and to in a is that it for on with as are was be at by this have from or an not".split()
_DE = "der die und das in den von zu mit sich des auf ist im dem nicht ein eine als auch es an".split()
_FR = "le la de les des et en un une du dans est que pour qui sur pas plus par il au".split()
_ES = "el la de los las y en un una del se que por con no es para al lo como".split()


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# --------------------------------------------------------------- queries


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped rollup (SURVEY A1/A10): partial+final hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("dp")
    return (
        li.withColumn("dp", disc_price)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dec_sum("l_quantity"), 4).alias("sum_qty"),
            F.round(_dec_sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(_dec_sum("dp"), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def _q_stats_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compute_stats semantics (reference stats.py:76-90) per group:
    exact median, sample std, 20-bin histogram as columns."""
    li = _t(spark, sf_dir, "lineitem")
    v = F.col("l_discount")
    binned = li.withColumn(
        "__bin",
        F.when((v < 0) | (v > 1), F.lit(None)).otherwise(
            F.least(F.floor(v * N_BINS), F.lit(N_BINS - 1)).cast("int")
        ),
    )
    aggs = [
        F.count("l_discount").alias("total"),
        F.round(F.avg("l_discount"), 6).alias("mean"),
        F.round(F.expr("percentile(l_discount, 0.5)"), 6).alias("median"),
        F.round(F.stddev_samp("l_discount"), 6).alias("std"),
    ] + [
        F.sum(F.when(F.col("__bin") == b, 1).otherwise(0)).alias(f"h{b}")
        for b in range(N_BINS)
    ]
    return binned.groupBy("l_returnflag").agg(*aggs)


_SQL_STATS = (
    "SELECT l_returnflag, count(l_discount) AS total, "
    "round(avg(l_discount), 6) AS mean, "
    "round(median(l_discount), 6) AS median, "
    "round(stddev_samp(l_discount), 6) AS std, "
    + ", ".join(
        "CAST(count(*) FILTER (WHERE l_discount >= 0 AND l_discount <= 1 AND "
        f"least(CAST(floor(l_discount * 20) AS INT), 19) = {b}) AS BIGINT) AS h{b}"
        for b in range(N_BINS)
    )
    + " FROM lineitem GROUP BY l_returnflag"
)


def _q_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label frequency counters (SURVEY A2)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(_dec_sum("value"), 4).alias("sum_value"))
    )


_SQL_EVENT_COUNTS = """
SELECT event_type, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY event_type
"""


def _q_delta_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Δ histogram (SURVEY A6: groupBy computed integer delta)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value")).cast("bigint").alias("delta")
    ).agg(F.count("*").alias("n"))


_SQL_DELTA_HIST = (
    "SELECT CAST(floor(value) AS BIGINT) AS delta, count(*) AS n "
    "FROM events GROUP BY 1"
)


def _q_histogram_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative histogram table (SURVEY W4, reference stats.py:38-50):
    acc = probability mass of strictly-earlier bins."""
    li = _t(spark, sf_dir, "lineitem")
    binned = li.select(
        "l_returnflag",
        F.least(F.floor(F.col("l_discount") * N_BINS), F.lit(N_BINS - 1))
        .cast("bigint")
        .alias("bin"),
    ).groupBy("l_returnflag", "bin").agg(F.count("*").alias("n"))
    tot = Window.partitionBy("l_returnflag")
    cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return binned.select(
        "l_returnflag",
        "bin",
        "n",
        F.round(100.0 * F.col("n") / F.sum("n").over(tot), 6).alias("prob_pct"),
        F.round(
            F.coalesce(
                100.0 * F.sum("n").over(cum) / F.sum("n").over(tot), F.lit(0.0)
            ),
            6,
        ).alias("acc_pct"),
    )


_SQL_HIST_CUMSUM = """
WITH binned AS (
  SELECT l_returnflag,
         CAST(least(CAST(floor(l_discount * 20) AS INT), 19) AS BIGINT) AS bin,
         count(*) AS n
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, bin, n,
       round(100.0 * n / sum(n) OVER (PARTITION BY l_returnflag), 6) AS prob_pct,
       round(coalesce(100.0 * sum(n) OVER (PARTITION BY l_returnflag ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             / sum(n) OVER (PARTITION BY l_returnflag), 0.0), 6) AS acc_pct
FROM binned
"""


def _q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (SURVEY O3/W2) with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
    )


_SQL_TOPK = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rank
  FROM orders) WHERE rank <= 3
"""


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hash equi-join chain (SURVEY J1/J2): fact ⋈ dims."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(_dec_sum("o_totalprice"), 4).alias("revenue"),
        )
    )


_SQL_REVENUE = """
SELECT n_name, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (SURVEY J2 miss-handling)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


_SQL_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def _q_nations_with_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (SURVEY J8)."""
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    return n.join(
        s, n["n_nationkey"] == s["s_nationkey"], "left_semi"
    ).select("n_nationkey", "n_name")


_SQL_SEMI = """
SELECT n_nationkey, n_name FROM nation
WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
"""


def _q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sample via md5 ordering (SURVEY P12: seeded
    sampling re-expressed engine-portably)."""
    o = _t(spark, sf_dir, "orders")
    h = F.md5(F.col("o_orderkey").cast("string").cast("binary")).alias("h")
    return (
        o.select("o_orderkey", h)
        .orderBy("h")
        .limit(20)
    )


_SQL_SAMPLE = """
SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS h
FROM orders ORDER BY h LIMIT 20
"""


def _q_shard_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard bucketing (SURVEY W5: bucket = (row_number-1) // 200)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.orderBy("event_id")
    return (
        ev.withColumn(
            "bucket", F.floor((F.row_number().over(w) - 1) / 200).cast("bigint")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


_SQL_BUCKETS = """
SELECT bucket, count(*) AS n FROM (
  SELECT CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 200) AS BIGINT) AS bucket
  FROM events
) GROUP BY bucket
"""


def _q_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record union across sources (SURVEY U3)."""
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 0).select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        a.unionByName(b)
        .distinct()
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


_SQL_UNION = """
SELECT c_mktsegment, count(*) AS n FROM (
  SELECT DISTINCT * FROM (
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 0
    UNION ALL
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING')
) GROUP BY c_mktsegment
"""


def _q_doc_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar binary/string funcs (SURVEY F1/F2): sha256, md5, base64."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2(F.col("text").cast("binary"), 256).alias("sha"),
        F.md5(F.col("text").cast("binary")).alias("md5"),
        F.base64(F.substring("text", 1, 12).cast("binary")).alias("b64_prefix"),
    )


_SQL_DIGESTS = """
SELECT doc_id, sha256(text) AS sha, md5(text) AS md5,
       base64(encode(substring(text, 1, 12))) AS b64_prefix
FROM documents
"""


def _q_regex_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-tag strip + whitespace collapse (SURVEY F3/F4)."""
    d = _t(spark, sf_dir, "documents")
    wrapped = F.concat(F.lit("<i> "), F.col("text"), F.lit(" </i>"))
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace(wrapped, "</?[ibu]>", ""), _WS, " ")
    )
    return d.select("doc_id", F.md5(cleaned.cast("binary")).alias("clean_md5"))


_SQL_REGEX_CLEAN = r"""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace('<i> ' || text || ' </i>',
           '</?[ibu]>', '', 'g'), '[ \t\n\r\f\v]+', ' ', 'g'))) AS clean_md5
FROM documents
"""


def _q_char_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level normalized edit distance on adjacent doc pairs
    (SURVEY F7 char flavor)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    l = d.select(F.col("doc_id").alias("id_l"), F.col("text").alias("t_l"))
    r = d.select((F.col("doc_id") - 1).alias("id_l"), F.col("text").alias("t_r"))
    j = l.join(r, "id_l")
    lev = F.levenshtein("t_l", "t_r").cast("bigint")
    return j.select(
        "id_l",
        lev.alias("edit_dist"),
        F.round(
            lev / F.greatest(F.length("t_l"), F.length("t_r")), 6
        ).alias("norm_edit"),
    )


_SQL_EDIT = """
SELECT a.doc_id AS id_l,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       round(levenshtein(a.text, b.text) /
             greatest(length(a.text), length(b.text)), 6) AS norm_edit
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


def _q_token_set_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set precision/recall/F1 (SURVEY U1: P=|∩|/|pred|,
    R=|∩|/|true|, reference markdown_text_evaluator.py:205-212)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.array_distinct(F.filter(F.split(F.trim(F.col("text")), _WS), lambda x: x != ""))
    td = d.select("doc_id", toks.alias("toks"))
    l = td.select(F.col("doc_id").alias("id_l"), F.col("toks").alias("tk_l"))
    r = td.select((F.col("doc_id") - 1).alias("id_l"), F.col("toks").alias("tk_r"))
    j = l.join(r, "id_l")
    inter = F.size(F.array_intersect("tk_l", "tk_r")).cast("bigint")
    p = inter / F.size("tk_r")
    rc = inter / F.size("tk_l")
    return j.select(
        "id_l",
        inter.alias("n_common"),
        F.round(p, 6).alias("precision"),
        F.round(rc, 6).alias("recall"),
        F.round(
            F.when((p + rc) > 0, 2 * p * rc / (p + rc)).otherwise(F.lit(0.0)), 6
        ).alias("f1"),
    )


_SQL_TOKEN_SET = r"""
WITH td AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                       x -> x <> '')) AS toks
  FROM documents
)
SELECT a.doc_id AS id_l,
       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common,
       round(len(list_intersect(a.toks, b.toks)) * 1.0 / len(b.toks), 6) AS precision,
       round(len(list_intersect(a.toks, b.toks)) * 1.0 / len(a.toks), 6) AS recall,
       round(CASE WHEN len(list_intersect(a.toks, b.toks)) * 1.0 / len(b.toks)
                       + len(list_intersect(a.toks, b.toks)) * 1.0 / len(a.toks) > 0
             THEN 2.0 * (len(list_intersect(a.toks, b.toks)) * 1.0 / len(b.toks))
                      * (len(list_intersect(a.toks, b.toks)) * 1.0 / len(a.toks))
                  / (len(list_intersect(a.toks, b.toks)) * 1.0 / len(b.toks)
                     + len(list_intersect(a.toks, b.toks)) * 1.0 / len(a.toks))
             ELSE 0.0 END, 6) AS f1
FROM td a JOIN td b ON b.doc_id = a.doc_id + 1
"""


def _q_reading_order_ard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARD_norm over event streams (SURVEY A7/W1): per user, predicted
    order = rank by value, true order = rank by time; deterministic
    tie-breaks on event_id."""
    ev = _t(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy("value", "event_id")
    ranked = ev.select(
        "user_id",
        (F.row_number().over(wt) - 1).alias("rt"),
        (F.row_number().over(wv) - 1).alias("rv"),
    )
    return ranked.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(
            1.0
            - F.sum(F.abs(F.col("rv") - F.col("rt")))
            / (F.count("*") * F.count("*")),
            6,
        ).alias("ard_norm"),
    )


_SQL_ARD = """
WITH ranked AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rt,
         row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) - 1 AS rv
  FROM events
)
SELECT user_id, count(*) AS n,
       round(1.0 - sum(abs(rv - rt)) * 1.0 / (count(*) * count(*)), 6) AS ard_norm
FROM ranked GROUP BY user_id
"""


def _q_iou_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bbox IoU as pure column algebra (SURVEY F11/F12) over
    deterministic part-derived boxes."""
    p = _t(spark, sf_dir, "part")
    l1 = (F.col("p_partkey") % 50).cast("double")
    t1 = ((F.col("p_partkey") * 7) % 50).cast("double")
    r1 = l1 + 10 + (F.col("p_size") % 10)
    b1 = t1 + 12
    dx = (F.col("p_size") % 8).cast("double")
    l2, t2, r2, b2 = l1 + dx, t1 + 2, r1 + dx, b1 + 2
    ix = F.greatest(F.lit(0.0), F.least(r1, r2) - F.greatest(l1, l2))
    iy = F.greatest(F.lit(0.0), F.least(b1, b2) - F.greatest(t1, t2))
    inter = ix * iy
    union = (r1 - l1) * (b1 - t1) + (r2 - l2) * (b2 - t2) - inter
    return p.select(
        "p_partkey",
        F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6).alias(
            "iou"
        ),
    )


_SQL_IOU = """
WITH boxes AS (
  SELECT p_partkey,
         CAST(p_partkey % 50 AS DOUBLE) AS l1,
         CAST((p_partkey * 7) % 50 AS DOUBLE) AS t1,
         CAST(p_partkey % 50 + 10 + (p_size % 10) AS DOUBLE) AS r1,
         CAST((p_partkey * 7) % 50 + 12 AS DOUBLE) AS b1,
         CAST(p_size % 8 AS DOUBLE) AS dx
  FROM part
)
SELECT p_partkey,
       round(CASE WHEN (r1-l1)*(b1-t1) + (r1+dx-l1-dx)*(b1+2-t1-2)
                       - greatest(0, least(r1, r1+dx) - greatest(l1, l1+dx))
                         * greatest(0, least(b1, b1+2) - greatest(t1, t1+2)) > 0
             THEN greatest(0, least(r1, r1+dx) - greatest(l1, l1+dx))
                  * greatest(0, least(b1, b1+2) - greatest(t1, t1+2))
                  / ((r1-l1)*(b1-t1) + (r1+dx-l1-dx)*(b1+2-t1-2)
                     - greatest(0, least(r1, r1+dx) - greatest(l1, l1+dx))
                       * greatest(0, least(b1, b1+2) - greatest(t1, t1+2)))
             ELSE 0.0 END, 6) AS iou
FROM boxes
"""


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish (training-pipeline op)."""
    from docling_eval_spark.operators.text_analysis import (
        bpe_ish_token_count_col,
        token_count_col,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_col("text").cast("bigint").alias("n_ws_tokens"),
        bpe_ish_token_count_col("text").cast("bigint").alias("n_bpe_tokens"),
    )


_SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
            x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1))
            AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def _q_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features rollup per source (training-pipeline op)."""
    from docling_eval_spark.operators.text_analysis import tokens_col

    d = _t(spark, sf_dir, "documents")
    toks = tokens_col("text")
    stop_arr = F.array(*[F.lit(w) for w in _EN])
    feats = d.select(
        "source",
        F.length("text").alias("nc"),
        F.size(toks).alias("nt"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, F.lower(x))))
            / F.size(toks)
        ).alias("stop_ratio"),
    )
    return feats.groupBy("source").agg(
        F.count("*").alias("docs"),
        F.round(F.avg("nc"), 6).alias("avg_chars"),
        F.round(F.avg("nt"), 6).alias("avg_tokens"),
        F.round(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
    )


_SQL_QUALITY = r"""
WITH feats AS (
  SELECT source, length(text) AS nc,
         len(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
             x -> x <> '')) AS nt,
         len(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
             x -> x <> '' AND list_contains({en_stops}, lower(x)))) * 1.0 /
         len(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
             x -> x <> '')) AS stop_ratio
  FROM documents
)
SELECT source, count(*) AS docs, round(avg(nc), 6) AS avg_chars,
       round(avg(nt), 6) AS avg_tokens, round(avg(stop_ratio), 6) AS avg_stop_ratio
FROM feats GROUP BY source
""".format(en_stops=_sql_list(_EN))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-argmax language ID rollup (training-pipeline op).
    Tie-break = lexicographically-largest language (array_max on
    (hits, lang) structs) — mirrored in the CASE order of the oracle."""
    from docling_eval_spark.operators.text_analysis import lang_id

    d = _t(spark, sf_dir, "documents")
    return (
        lang_id(d, "text")
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
    )


_SQL_LANG_ID = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
             x -> x <> ''), x -> lower(x)) AS tk
  FROM documents
), hits AS (
  SELECT doc_id,
         len(list_filter(tk, x -> list_contains({en}, x))) AS h_en,
         len(list_filter(tk, x -> list_contains({de}, x))) AS h_de,
         len(list_filter(tk, x -> list_contains({fr}, x))) AS h_fr,
         len(list_filter(tk, x -> list_contains({es}, x))) AS h_es
  FROM toks
)
SELECT CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
            WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
            WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
            WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
            ELSE 'de' END AS lang_pred,
       count(*) AS n
FROM hits GROUP BY 1
""".format(en=_sql_list(_EN), de=_sql_list(_DE), fr=_sql_list(_FR), es=_sql_list(_ES))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (training-pipeline op): winner id + size.
    Runs through operators.dedup.exact_dedup (min-struct hash agg +
    winner join-back) so the oracle gates the skew-safe operator."""
    from docling_eval_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id").select(
        F.col("doc_id").alias("keeper_id"), "dup_count"
    )


_SQL_EXACT_DEDUP = r"""
SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
FROM documents
GROUP BY md5(trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g')))
"""


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram Jaccard on adjacent doc pairs (dedup family)."""
    from docling_eval_spark.operators.dedup import shingle_table

    d = shingle_table(_t(spark, sf_dir, "documents"), "doc_id", "text", 3)
    l = d.select(F.col("id").alias("id_l"), F.col("shingles").alias("sh_l"))
    r = d.select((F.col("id") - 1).alias("id_l"), F.col("shingles").alias("sh_r"))
    j = l.join(r, "id_l")
    inter = F.size(F.array_intersect("sh_l", "sh_r"))
    union = F.size("sh_l") + F.size("sh_r") - inter
    return j.select(
        "id_l",
        F.round(
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)), 6
        ).alias("jaccard"),
    )


_SQL_NGRAM_JACCARD = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, length(trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'))) - 1),
             i -> substring(trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g')), i, 3)
         )) AS s
  FROM documents
)
SELECT a.doc_id AS id_l,
       round(CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
             THEN len(list_intersect(a.s, b.s)) * 1.0 /
                  (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
             ELSE 0.0 END, 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Karp–Rabin rolling-hash fingerprint (training-pipeline op);
    identical modular arithmetic reproduced in the oracle."""
    from docling_eval_spark.operators.text_analysis import fingerprint_table

    d = _t(spark, sf_dir, "documents")
    return fingerprint_table(d, "doc_id", "text", k=8).select(
        F.col("id").alias("doc_id"), "fp"
    )


_SQL_FINGERPRINT = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g')) AS t
  FROM documents
)
SELECT doc_id,
       CASE WHEN length(t) = 0 THEN NULL ELSE
         list_min(list_transform(
           range(1, CASE WHEN length(t) >= 8 THEN length(t) - 6 ELSE 2 END),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(i, least(i + 7, length(t)) + 1),
                                   j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
                  (acc, x) -> (acc * 1000003 + x) % 2147483647)))
       END AS fp
FROM norm
"""


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for query vectors (similarity op)."""
    from docling_eval_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(e, q, k=3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    )


_SQL_COSINE_TOPK = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5
), sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         CASE WHEN sqrt(list_inner_product(e.v, e.v)) > 0
                   AND sqrt(list_inner_product(q.qv, q.qv)) > 0
              THEN list_inner_product(e.v, q.qv) /
                   (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.qv, q.qv)))
              ELSE 0.0 END AS cos
  FROM e CROSS JOIN q
), ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank,
         cos
  FROM sims
)
SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
FROM ranked WHERE rank <= 3
"""


def _emb_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(corpus, queries) embedding frames shared by the ANN gates."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return e, q


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN top-3 with Hamming-1 multiprobe —
    the scale path beside brute_force_topk. The oracle recomputes the
    seed-7 sign buckets from plane literals, expands the same probe
    set, and ranks candidates with the identical fold-order cosine."""
    from docling_eval_spark.operators.similarity import lsh_bucketed_topk

    e, q = _emb_tables(spark, sf_dir)
    out = lsh_bucketed_topk(e, q, k=3, n_planes=8, seed=7)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    )


def _bucket_sql_expr(col: str, planes) -> str:
    """Sign-bucket SQL over a DuckDB list column with plane literals —
    same left-fold dot product as similarity.bucket_col."""
    terms = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"j -> {col}[j] * ({arr})[j])), (a, x) -> a + x) >= 0 THEN {1 << i} ELSE 0 END"
        )
    return " + ".join(terms)


_DUCK_COSINE = (
    "CASE WHEN sqrt(list_inner_product({l}, {l})) > 0"
    " AND sqrt(list_inner_product({r}, {r})) > 0"
    " THEN list_inner_product({l}, {r}) /"
    " (sqrt(list_inner_product({l}, {l})) * sqrt(list_inner_product({r}, {r})))"
    " ELSE 0.0 END"
)


def _sql_lsh_topk() -> str:
    from docling_eval_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, 8, seed=7)
    cos = _DUCK_COSINE.format(l="cb.v", r="qb.qv")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
cb AS (SELECT vec_id, v, ({_bucket_sql_expr("v", planes)}) AS bucket FROM e),
qb0 AS (SELECT query_id, qv, ({_bucket_sql_expr("qv", planes)}) AS bucket FROM q),
qb AS (
  SELECT query_id, qv,
         unnest(list_prepend(bucket,
                list_transform(range(0, 8), i -> xor(bucket, 1 << i)))) AS bucket
  FROM qb0
),
sims AS (
  SELECT qb.query_id, cb.vec_id AS neighbor_id, {cos} AS cos
  FROM cb JOIN qb USING (bucket)
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank,
         cos
  FROM sims
)
SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
FROM ranked WHERE rank <= 3
"""


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-3, n_probe=2, against FIXED deterministic centroids
    (seed-11 gaussian matrix — the assign/search path is what this
    gate verifies; k-means training quality is pytest-gated by recall
    against brute force). The oracle recomputes the per-row nearest
    centroid (cosine argmax, index tiebreak) and the probed top-2
    lists relationally."""
    from docling_eval_spark.operators.ivf import ivf_topk
    from docling_eval_spark.operators.similarity import hyperplanes

    e, q = _emb_tables(spark, sf_dir)
    cents = hyperplanes(64, 8, seed=11)
    out = ivf_topk(e, q, cents, k=3, n_probe=2)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    )


def _sql_ivf_topk() -> str:
    from docling_eval_spark.operators.similarity import hyperplanes

    cents = hyperplanes(64, 8, seed=11)
    cent_rows = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in c) + "])"
        for i, c in enumerate(cents)
    )
    cos_assign = _DUCK_COSINE.format(l="s.v", r="c.cv")
    cos_final = _DUCK_COSINE.format(l="a.v", r="qa.qv")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
cents AS (SELECT * FROM (VALUES {cent_rows}) AS t(cidx, cv)),
csims AS (
  SELECT s.vec_id, s.v, c.cidx, {cos_assign} AS sim
  FROM e s CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, v, cidx AS centroid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
           ORDER BY sim DESC, cidx ASC) AS rn
    FROM csims
  ) WHERE rn = 1
),
qsims AS (
  SELECT s.query_id, s.qv AS v, c.cidx, {cos_assign.replace("s.v", "s.qv")} AS sim
  FROM q s CROSS JOIN cents c
),
qassign AS (
  SELECT query_id, v AS qv, cidx AS centroid FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY sim DESC, cidx ASC) AS rn
    FROM qsims
  ) WHERE rn <= 2
),
sims AS (
  SELECT qa.query_id, a.vec_id AS neighbor_id, {cos_final} AS cos
  FROM assign a JOIN qassign qa USING (centroid)
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rank,
         cos
  FROM sims
)
SELECT query_id, neighbor_id, rank, round(cos, 4) AS cosine
FROM ranked WHERE rank <= 3
"""


def _render_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_eval_spark.datagen.pages import render_documents_stage
    from docling_eval_spark.extraction.stage import extract_stage

    # the render+extract kernels are CPU-bound Python, so spread rows
    # across cores first (tiny shuffle, large Python win)
    d = _spread(_t(spark, sf_dir, "documents"))
    pages = render_documents_stage(d)
    ex = extract_stage(pages.select(F.col("doc_id").cast("string").alias("url"), "html"))
    return ex.withColumn("doc_id", F.col("url").cast("long"))


def _q_extract_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship invariant: per-document md5 of text extracted by
    the full kernel (lexer → boilerplate classifier → normalizer) from
    rendered HTML. The oracle recomputes the expected digest from the
    raw text + sentinel contract — byte identity per url."""
    return _render_extract(spark, sf_dir).select("doc_id", "text_md5")


_SQL_EXTRACT_MD5 = r"""
SELECT doc_id,
       md5(trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'))
           || chr(10) || chr(10)
           || 'Synthetic corpus document ' || CAST(doc_id AS VARCHAR)
           || ' rendered deterministically for extraction parity checking with exactly eighteen words in this closing sentinel paragraph here.')
       AS text_md5
FROM documents
"""


def _q_extract_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang extraction match rollup (flagship aggregate).

    Fused shape: the GT text rides through the extraction kernel
    (extract_match_stage), so the byte-identity check is a single
    narrow map + one hash agg — zero joins (the join-shaped variant's
    shuffle capped scaling; see BENCH/BASELINE.md)."""
    from docling_eval_spark.datagen.pages import render_documents_stage
    from docling_eval_spark.extraction.stage import extract_match_stage

    d = _spread(_t(spark, sf_dir, "documents"))
    matched = extract_match_stage(render_documents_stage(d))
    return matched.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum("is_match").cast("bigint").alias("matches"),
        F.round(F.avg("is_match"), 6).alias("match_rate"),
    )


_SQL_EXTRACT_MATCH = """
SELECT lang, count(*) AS docs, CAST(count(*) AS BIGINT) AS matches,
       round(1.0, 6) AS match_rate
FROM documents GROUP BY lang
"""


def _q_point_in_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate join + min-area tie-break (SURVEY J6: point →
    smallest enclosing box, `cvat_annotation/create.py:58-90`)."""
    from docling_eval_spark.operators.spatial import point_in_box_join

    p = _t(spark, sf_dir, "part")
    boxes = p.select(
        (F.col("p_partkey") % 5).cast("int").alias("page_no"),
        F.col("p_partkey").alias("box_id"),
        (F.col("p_partkey") % 50).cast("double").alias("l"),
        ((F.col("p_partkey") * 7) % 50).cast("double").alias("t"),
        (F.col("p_partkey") % 50 + 10 + F.col("p_size") % 10).cast("double").alias("r"),
        ((F.col("p_partkey") * 7) % 50 + 12).cast("double").alias("b"),
    )
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    points = ev.select(
        (F.col("event_id") % 5).cast("int").alias("page_no"),
        F.col("event_id").alias("point_id"),
        (F.col("value") % 60).alias("x"),
        ((F.col("event_id") * 3) % 60).cast("double").alias("y"),
    )
    out = point_in_box_join(points, boxes)
    # misses → -1 sentinels: nullable doubles hash as NaN≠None across
    # engines' dataframe bridges
    return out.select(
        "page_no",
        "point_id",
        F.coalesce("box_id", F.lit(-1)).alias("box_id"),
        F.round(F.coalesce("box_area", F.lit(-1.0)), 6).alias("box_area"),
    )


_SQL_POINT_IN_BOX = """
WITH boxes AS (
  SELECT CAST(p_partkey % 5 AS INT) AS page_no, p_partkey AS box_id,
         CAST(p_partkey % 50 AS DOUBLE) AS l,
         CAST((p_partkey * 7) % 50 AS DOUBLE) AS t,
         CAST(p_partkey % 50 + 10 + p_size % 10 AS DOUBLE) AS r,
         CAST((p_partkey * 7) % 50 + 12 AS DOUBLE) AS b
  FROM part
), points AS (
  SELECT CAST(event_id % 5 AS INT) AS page_no, event_id AS point_id,
         value % 60 AS x, CAST((event_id * 3) % 60 AS DOUBLE) AS y
  FROM events WHERE event_id < 2000
), joined AS (
  SELECT p.page_no, p.point_id, b.box_id, (b.r - b.l) * (b.b - b.t) AS box_area
  FROM points p LEFT JOIN boxes b
    ON p.page_no = b.page_no AND p.x >= b.l AND p.x <= b.r
   AND p.y >= b.t AND p.y <= b.b
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY page_no, point_id
           ORDER BY box_area ASC NULLS LAST, box_id ASC NULLS LAST) AS rn
  FROM joined
)
SELECT page_no, point_id, coalesce(box_id, -1) AS box_id,
       round(coalesce(box_area, -1.0), 6) AS box_area
FROM ranked WHERE rn = 1
"""


def _q_kv_link_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-value graph link agreement (FUNSD analog, SURVEY K3):
    GT links = consecutive events by time per user, predicted links =
    consecutive by value; per-user link P/R/F1.

    Single-pass shape (VERDICT r2 next-round #9 — was an 11-shuffle
    window/join cascade): ONE groupBy(user) collects the bounded
    per-doc event list; both orderings, both link sets, and the
    set-intersection metrics are per-row array algebra after that one
    exchange. Users with <2 events produce no links on either side and
    are dropped, matching the relational twin (lead() is NULL there)."""
    from docling_eval_spark.operators.kv_graph import (
        consecutive_links,
        kv_link_metrics_arrays,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    per_user = (
        ev.groupBy(F.col("user_id").alias("key"))
        .agg(F.collect_list(F.struct("ts", "value", "event_id")).alias("evs"))
        .filter(F.size("evs") >= 2)
    )

    def ids_by(field: str):
        return F.transform(
            F.array_sort(
                F.transform(
                    F.col("evs"),
                    lambda e: F.struct(e[field].alias("o"), e["event_id"].alias("id")),
                )
            ),
            lambda x: x["id"],
        )

    links = per_user.select(
        "key",
        consecutive_links(ids_by("ts")).alias("gt_links"),
        consecutive_links(ids_by("value")).alias("pred_links"),
    )
    return kv_link_metrics_arrays(links)


_SQL_KV_LINKS = """
WITH ev AS (SELECT * FROM events WHERE event_id < 5000),
gt AS (
  SELECT user_id AS key, event_id AS src,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM ev
), pred AS (
  SELECT user_id AS key, event_id AS src,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY value, event_id) AS dst
  FROM ev
), g AS (SELECT DISTINCT key, src, dst FROM gt WHERE dst IS NOT NULL),
p AS (SELECT DISTINCT key, src, dst FROM pred WHERE dst IS NOT NULL),
inter AS (
  SELECT g.key, count(*) AS n_inter FROM g JOIN p
    ON g.key = p.key AND g.src = p.src AND g.dst = p.dst GROUP BY g.key
), gn AS (SELECT key, count(*) AS n_gt FROM g GROUP BY key),
pn AS (SELECT key, count(*) AS n_pred FROM p GROUP BY key)
SELECT gn.key,
       CAST(gn.n_gt AS BIGINT) AS n_gt,
       CAST(coalesce(pn.n_pred, 0) AS BIGINT) AS n_pred,
       CAST(coalesce(inter.n_inter, 0) AS BIGINT) AS n_inter,
       round(CASE WHEN coalesce(pn.n_pred,0) > 0
             THEN coalesce(inter.n_inter,0) * 1.0 / pn.n_pred ELSE 0.0 END, 6) AS precision,
       round(CASE WHEN gn.n_gt > 0
             THEN coalesce(inter.n_inter,0) * 1.0 / gn.n_gt ELSE 0.0 END, 6) AS recall,
       round(CASE WHEN (CASE WHEN coalesce(pn.n_pred,0) > 0
                    THEN coalesce(inter.n_inter,0) * 1.0 / pn.n_pred ELSE 0.0 END
                  + CASE WHEN gn.n_gt > 0
                    THEN coalesce(inter.n_inter,0) * 1.0 / gn.n_gt ELSE 0.0 END) > 0
             THEN 2.0 * (coalesce(inter.n_inter,0) * 1.0 / pn.n_pred)
                      * (coalesce(inter.n_inter,0) * 1.0 / gn.n_gt)
                  / ((coalesce(inter.n_inter,0) * 1.0 / pn.n_pred)
                     + (coalesce(inter.n_inter,0) * 1.0 / gn.n_gt))
             ELSE 0.0 END, 6) AS f1
FROM gn LEFT JOIN pn ON gn.key = pn.key
LEFT JOIN inter ON gn.key = inter.key
"""


# ---- rows-only queries (no SQL-expressible oracle; driver records the
# weaker check — SURVEY §4.2 custom algorithms)


def _known_grid_df(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Deterministic table grids derived from `events` (url, s, k, gt):
    shape s = event_id %% 4 — three full unit grids (2x3, 3x5, 4x2) and
    one 2x2 grid with a col_span=2 cell — so the TEDS / OTSL query
    oracles can recompute every structural quantity in pure SQL."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < n)
    sel = ev.select(
        F.col("event_id").cast("string").alias("url"),
        (F.col("event_id") % 4).cast("int").alias("s"),
        (F.lit(1) + F.col("event_id") % 3).cast("int").alias("k"),
    )
    cell = (
        "named_struct('text', {text}, 'row_span', 1, 'col_span', {cs}, "
        "'start_row_offset_idx', {r}, 'end_row_offset_idx', {r} + 1, "
        "'start_col_offset_idx', {c}, 'end_col_offset_idx', {c} + {cs}, "
        "'col_header', false, 'row_header', false)"
    )
    unit_cells = (
        "flatten(transform(sequence(0, (CASE s WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 4 END) - 1), "
        "r -> transform(sequence(0, (CASE s WHEN 0 THEN 3 WHEN 1 THEN 5 ELSE 2 END) - 1), c -> "
        + cell.format(
            text="concat('r', cast(r as string), 'c', cast(c as string))",
            cs="1", r="r", c="c",
        )
        + ")))"
    )
    span_cells = (
        "array("
        + cell.format(text="'a'", cs="2", r="0", c="0") + ", "
        + cell.format(text="'b'", cs="1", r="1", c="0") + ", "
        + cell.format(text="'c'", cs="1", r="1", c="1") + ")"
    )
    grid = (
        "CASE WHEN s = 3 THEN named_struct('num_rows', 2, 'num_cols', 2, 'cells', "
        + span_cells
        + ") ELSE named_struct("
        "'num_rows', CASE s WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 4 END, "
        "'num_cols', CASE s WHEN 0 THEN 3 WHEN 1 THEN 5 ELSE 2 END, "
        "'cells', " + unit_cells + ") END"
    )
    return sel.select("url", "s", "k", F.expr(grid).alias("gt"))


def _q_teds_known_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEDS with rigorously known edit distances (SURVEY K6/A5): pred =
    gt grid plus k extra empty rows, so the optimal tree edit distance
    is exactly k (lower bound: each op changes node count by <= 1 and
    the trees differ by k nodes; upper bound: k leaf inserts), giving
    teds = round(1 - k/(nd + k), 3) with nd = num_rows + num_cells.
    Scores are exported as milli-integers so both engines hash exact
    bigints instead of rounded doubles; shapes avoid 4th-decimal
    rounding ties."""
    from docling_eval_spark.evaluators.teds import teds_stage

    g = _known_grid_df(spark, sf_dir, 600)
    paired = g.select(
        "url",
        F.array("gt").alias("gt_tables"),
        F.array(
            F.struct(
                (F.col("gt.num_rows") + F.col("k")).alias("num_rows"),
                F.col("gt.num_cols").alias("num_cols"),
                F.col("gt.cells").alias("cells"),
            )
        ).alias("pred_tables"),
    )
    t = teds_stage(paired)
    return t.select(
        "url",
        F.round(F.col("teds") * 1000).cast("bigint").alias("milli_teds"),
        F.round(F.col("teds_struct") * 1000).cast("bigint").alias("milli_teds_struct"),
        "is_complex",
        F.col("true_nrows").cast("bigint").alias("true_nrows"),
        F.col("pred_nrows").cast("bigint").alias("pred_nrows"),
    )


_SQL_TEDS_KNOWN = """
WITH e AS (
  SELECT event_id, CAST(event_id % 4 AS INT) AS s, CAST(1 + event_id % 3 AS INT) AS k
  FROM events WHERE event_id < 600
), p AS (
  SELECT event_id, k, s = 3 AS is_complex,
    CASE s WHEN 0 THEN 8 WHEN 1 THEN 18 WHEN 2 THEN 12 ELSE 5 END AS nd,
    CASE s WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 4 ELSE 2 END AS nr
  FROM e
)
SELECT CAST(event_id AS VARCHAR) AS url,
  CAST(round(1000 * (1 - k * 1.0 / (nd + k))) AS BIGINT) AS milli_teds,
  CAST(round(1000 * (1 - k * 1.0 / (nd + k))) AS BIGINT) AS milli_teds_struct,
  is_complex,
  CAST(nr AS BIGINT) AS true_nrows,
  CAST(nr + k AS BIGINT) AS pred_nrows
FROM p
"""


def _q_otsl_roundtrip_teds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTSL path (SURVEY K5): known grids -> OTSL strings -> parse back
    -> TEDS vs original. The oracle rebuilds the exact OTSL string in
    SQL and asserts the roundtrip invariant milli_teds = 1000."""
    import pandas as pd

    from docling_eval_spark.evaluators.teds import teds_stage
    from docling_eval_spark.extraction.otsl import grid_to_otsl, otsl_parse_stage

    g = _known_grid_df(spark, sf_dir, 400)

    def to_otsl(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "otsl": [
                        grid_to_otsl(
                            {
                                "num_rows": gr["num_rows"],
                                "num_cols": gr["num_cols"],
                                "cells": [dict(c) for c in gr["cells"]],
                            }
                        )
                        for gr in pdf["gt"]
                    ],
                }
            )

    otsl_df = g.select("url", "gt").mapInPandas(to_otsl, "url string, otsl string")
    parsed = otsl_parse_stage(otsl_df).select(
        "url", F.struct("num_rows", "num_cols", "cells").alias("pred_table")
    )
    paired = (
        g.select("url", F.array("gt").alias("gt_tables"))
        .join(parsed, "url")
        .select("url", "gt_tables", F.array("pred_table").alias("pred_tables"))
    )
    t = teds_stage(paired).select(
        "url", F.round(F.col("teds") * 1000).cast("bigint").alias("milli_teds")
    )
    return otsl_df.join(t, "url").select("url", "otsl", "milli_teds")


_SQL_OTSL_ROUNDTRIP = """
WITH e AS (
  SELECT event_id, CAST(event_id % 4 AS INT) AS s FROM events WHERE event_id < 400
), dims AS (
  SELECT event_id, s,
    CASE s WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 4 END AS R,
    CASE s WHEN 0 THEN 3 WHEN 1 THEN 5 ELSE 2 END AS C
  FROM e
)
SELECT CAST(event_id AS VARCHAR) AS url,
  CASE WHEN s = 3 THEN '<otsl><fcel>a<lcel><nl><fcel>b<fcel>c<nl></otsl>'
  ELSE '<otsl>' || array_to_string(list_transform(range(0, R), r ->
         array_to_string(list_transform(range(0, C), c ->
           '<fcel>r' || CAST(r AS VARCHAR) || 'c' || CAST(c AS VARCHAR)), '')
         || '<nl>'), '') || '</otsl>'
  END AS otsl,
  CAST(1000 AS BIGINT) AS milli_teds
FROM dims
"""


def _q_bbox_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bbox-matched text metrics (SURVEY J4) over a fully deterministic
    geometry whose argmax-IoU matching is SQL-replicable:

    - gt box per event at x = pos*100 (disjoint); events with
      event_id %% 7 == 0 move their gt to y = 1000 (the orphan case);
    - main pred = own gt shifted +5 in x (IoU 0.6 with own gt, 0 with
      every other) -> argmax = own gt unless moved; all-zero IoU rows
      argmax to pivot index 0 (numpy first-maximal semantics);
    - event_id %% 11 == 0 adds a far-away false-positive pred;
    - texts are plain alnum tokens, pred drops its c-token when
      event_id %% 3 == 0, so set precision/recall/f1 are non-trivial.
    """
    from docling_eval_spark.evaluators.bbox_text import bbox_text_stage

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    w = Window.partitionBy("user_id").orderBy("event_id")
    e = F.col("event_id")
    base = (
        ev.select("user_id", "event_id", F.row_number().over(w).alias("pos"))
        .withColumn("x0", F.col("pos") * 100.0)
        .withColumn("moved", e % 7 == 0)
        .withColumn("ta", F.concat(F.lit("a"), (e % 5).cast("string")))
        .withColumn("tb", F.concat(F.lit("b"), (e % 11).cast("string")))
        .withColumn("tc", F.concat(F.lit("c"), (e % 3).cast("string")))
        .withColumn("tz", F.concat(F.lit("z"), (e % 13).cast("string")))
    )
    gt_item = F.struct(
        F.concat_ws(" ", "ta", "tb", "tc").alias("text"),
        F.col("x0").alias("l"),
        F.when(F.col("moved"), 1000.0).otherwise(0.0).alias("t"),
        (F.col("x0") + 20.0).alias("r"),
        (F.when(F.col("moved"), 1000.0).otherwise(0.0) + 10.0).alias("b"),
    )
    main_item = F.struct(
        F.when(e % 3 == 0, F.concat_ws(" ", "ta", "tb"))
        .otherwise(F.concat_ws(" ", "ta", "tb", "tc"))
        .alias("text"),
        (F.col("x0") + 5.0).alias("l"),
        F.lit(0.0).alias("t"),
        (F.col("x0") + 25.0).alias("r"),
        F.lit(10.0).alias("b"),
    )
    fp_item = F.struct(
        F.col("tz").alias("text"),
        (F.col("x0") + 50.0).alias("l"),
        F.lit(500.0).alias("t"),
        (F.col("x0") + 70.0).alias("r"),
        F.lit(510.0).alias("b"),
    )
    pred_arr = F.concat(
        F.array(main_item),
        F.when(e % 11 == 0, F.array(fp_item)).otherwise(F.slice(F.array(fp_item), 1, 0)),
    )
    per_user = (
        base.select(
            "user_id",
            "pos",
            gt_item.alias("gt_item"),
            pred_arr.alias("pred_items"),
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "gt_item"))),
                lambda x: x["gt_item"],
            ).alias("gt"),
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "pred_items"))),
                    lambda x: x["pred_items"],
                )
            ).alias("pred"),
        )
    )
    rows = bbox_text_stage(
        per_user.select(F.col("user_id").cast("string").alias("url"), "gt", "pred"),
        "gt",
        "pred",
    )
    return rows.select(
        "url",
        F.col("match_id").cast("bigint").alias("match_id"),
        F.round("f1_score", 6).alias("f1_score"),
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
    )


_SQL_BBOX_TEXT = """
WITH e AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS pos,
         event_id % 7 = 0 AS moved,
         event_id % 11 = 0 AS has_fp,
         event_id % 3 = 0 AS dropc,
         'a' || CAST(event_id % 5 AS VARCHAR) AS ta,
         'b' || CAST(event_id % 11 AS VARCHAR) AS tb,
         'c' || CAST(event_id % 3 AS VARCHAR) AS tc,
         'z' || CAST(event_id % 13 AS VARCHAR) AS tz
  FROM events WHERE event_id < 2000
),
preds AS (
  SELECT user_id, pos, 0 AS kind,
         CASE WHEN NOT moved THEN pos ELSE 1 END AS tgt,
         CASE WHEN dropc THEN [ta, tb] ELSE [ta, tb, tc] END AS toks
  FROM e
  UNION ALL
  SELECT user_id, pos, 1 AS kind, 1 AS tgt, [tz] AS toks FROM e WHERE has_fp
),
matched AS (
  SELECT user_id, tgt,
         min(pos * 2 + kind) AS first_ord,
         flatten(list(toks ORDER BY pos, kind)) AS ptoks
  FROM preds GROUP BY user_id, tgt
),
gt AS (SELECT user_id, pos, [ta, tb, tc] AS gtoks FROM e),
m AS (
  SELECT g.user_id, g.gtoks, mt.ptoks,
         row_number() OVER (PARTITION BY g.user_id ORDER BY mt.first_ord) - 1 AS match_id
  FROM gt g JOIN matched mt ON mt.user_id = g.user_id AND mt.tgt = g.pos
),
nmatched AS (SELECT user_id, count(*) AS nm FROM m GROUP BY user_id),
orph AS (
  SELECT g.user_id, g.gtoks, CAST([] AS VARCHAR[]) AS ptoks,
         nm.nm + row_number() OVER (PARTITION BY g.user_id ORDER BY g.pos) - 1 AS match_id
  FROM gt g JOIN nmatched nm ON nm.user_id = g.user_id
  WHERE NOT EXISTS (
    SELECT 1 FROM matched mt WHERE mt.user_id = g.user_id AND mt.tgt = g.pos
  )
),
allm AS (
  SELECT user_id, match_id, gtoks, ptoks FROM m
  UNION ALL
  SELECT user_id, match_id, gtoks, ptoks FROM orph
),
scored AS (
  SELECT user_id, match_id,
         len(list_intersect(list_distinct(gtoks), list_distinct(ptoks))) AS inter,
         len(list_distinct(gtoks)) AS ng,
         len(list_distinct(ptoks)) AS np
  FROM allm
),
pr AS (
  SELECT user_id, match_id,
         CASE WHEN np > 0 THEN inter * 1.0 / np ELSE 0.0 END AS p,
         CASE WHEN ng > 0 THEN inter * 1.0 / ng ELSE 0.0 END AS r
  FROM scored
)
SELECT CAST(user_id AS VARCHAR) AS url,
       CAST(match_id AS BIGINT) AS match_id,
       round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END, 6) AS f1_score,
       round(p, 6) AS precision,
       round(r, 6) AS recall
FROM pr
"""


# One persisted layout frame per (session, sf_dir), shared by
# corpus_map and layout_class_ap and across repeated invocations (the
# bench runs every query twice for cold/warm): without this registry
# each call re-persisted a fresh frame and cached partitions
# accumulated in the long-lived driver. Bounded: one entry per sf_dir
# actually queried (1-2 in practice). Value holds the session ref so a
# recycled id() can never alias a dead session's entry.
_CORPUS_LAYOUT_CACHE: dict = {}


def _corpus_layout_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    cached = _CORPUS_LAYOUT_CACHE.get(sf_dir)
    if cached is not None and cached[0] is spark:
        return cached[1]
    if cached is not None:
        try:
            cached[1].unpersist()
        except Exception:
            pass
    df = _build_corpus_layout_df(spark, sf_dir)
    _CORPUS_LAYOUT_CACHE[sf_dir] = (spark, df)
    return df


def _build_corpus_layout_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-user layout images for the corpus-mAP queries:
    globally disjoint gt boxes (x = event_id*100), main pred shifted by
    dx = event_id %% 5 (IoU = (20-dx)/(20+dx) with its own gt, 0 with all
    others -> greedy matching degenerates to the own-pair test, which a
    SQL oracle can replicate); event_id %% 7 == 0 drops the pred (false
    negative), event_id %% 11 == 0 adds a zero-IoU false positive.
    Scores are globally unique ((4000+2e)/8000 vs (2000+2e+1)/8000 —
    even vs odd numerators), so tie handling never engages."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    e = F.col("event_id")
    dx = (e % 5).cast("double")
    gt_item = F.struct(
        F.col("event_type").alias("label"),
        F.lit(1).alias("page_no"),
        (e * 100.0).alias("l"),
        F.lit(0.0).alias("t"),
        (e * 100.0 + 20.0).alias("r"),
        F.lit(10.0).alias("b"),
    )
    main = F.struct(
        F.col("event_type").alias("label"),
        F.lit(1).alias("page_no"),
        (e * 100.0 + dx).alias("l"),
        F.lit(0.0).alias("t"),
        (e * 100.0 + 20.0 + dx).alias("r"),
        F.lit(10.0).alias("b"),
        ((4000.0 + 2.0 * e) / 8000.0).alias("score"),
    )
    fp = F.struct(
        F.col("event_type").alias("label"),
        F.lit(1).alias("page_no"),
        (e * 100.0 + 50.0).alias("l"),
        F.lit(0.0).alias("t"),
        (e * 100.0 + 70.0).alias("r"),
        F.lit(10.0).alias("b"),
        ((2000.0 + 2.0 * e + 1.0) / 8000.0).alias("score"),
    )
    pred_arr = F.concat(
        F.when(e % 7 != 0, F.array(main)).otherwise(F.slice(F.array(main), 1, 0)),
        F.when(e % 11 == 0, F.array(fp)).otherwise(F.slice(F.array(fp), 1, 0)),
    )
    # persisted: the frame feeds BOTH the detection stage and the
    # per-class GT counts (un-persisted, the events scan + collect_list
    # aggregation re-executed 3x — at warehouse scale this is the
    # materialized-intermediate-table pattern, like minhash's persists)
    return ev.groupBy("user_id").agg(
        F.collect_list(gt_item).alias("gt_layout"),
        F.flatten(F.collect_list(pred_arr)).alias("pred_layout"),
    ).persist()


def _q_corpus_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mAP (SURVEY A3) via the score-histogram sketch; the
    DuckDB oracle recomputes the full 101-point interpolated AP."""
    from docling_eval_spark.evaluators.layout import corpus_map

    per_user = _corpus_layout_df(spark, sf_dir)
    return corpus_map(per_user).select(
        F.round("map", 6).alias("map"),
        F.round("map_50", 6).alias("map_50"),
        F.round("map_75", 6).alias("map_75"),
    )


def _q_layout_class_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(class, IoU-threshold) AP table (reference
    layout_evaluator.py:68-71 per-class report, distributed)."""
    from docling_eval_spark.evaluators.layout import corpus_ap_table

    per_user = _corpus_layout_df(spark, sf_dir)
    return corpus_ap_table(per_user).select(
        "label",
        F.round(F.col("iou_thr") * 100).cast("bigint").alias("thr_pct"),
        F.round("ap", 6).alias("ap"),
    )


def _q_greedy_iou(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy label-matched IoU (SURVEY J5; reference
    layout_evaluator.py:_compute_average_iou_with_labels incl. the
    weights/ious positional-zip quirk). The fixture makes greedy ORDER
    matter: every third event contributes a second pred competing for
    the same gt, so the matched-set sequential semantics are what the
    oracle gates — DuckDB re-implements the identical greedy fold with
    list_reduce."""
    import pandas as pd

    from docling_eval_spark.evaluators.layout import greedy_label_matched_iou

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    e = F.col("event_id")
    d1 = (e % 5).cast("double")
    d2 = (2 + e % 7).cast("double")
    w = (20 + e % 4).cast("double")  # varying widths exercise the quirk
    gt_item = F.struct(
        e.alias("ord"),
        F.col("event_type").alias("label"),
        (e * 100.0).alias("l"), F.lit(0.0).alias("t"),
        (e * 100.0 + w).alias("r"), F.lit(10.0).alias("b"),
    )
    p1 = F.struct(
        (e * 2).alias("ord"), F.col("event_type").alias("label"),
        (e * 100.0 + d1).alias("l"), F.lit(0.0).alias("t"),
        (e * 100.0 + w + d1).alias("r"), F.lit(10.0).alias("b"),
    )
    p2 = F.struct(
        (e * 2 + 1).alias("ord"), F.col("event_type").alias("label"),
        (e * 100.0 + d2).alias("l"), F.lit(0.0).alias("t"),
        (e * 100.0 + w + d2).alias("r"), F.lit(10.0).alias("b"),
    )
    pred_arr = F.concat(
        F.array(p1),
        F.when(e % 3 == 0, F.array(p2)).otherwise(F.slice(F.array(p2), 1, 0)),
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(gt_item)).alias("gts"),
        F.array_sort(F.flatten(F.collect_list(pred_arr))).alias("preds"),
    )

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("avg_iou", T.DoubleType()),
            T.StructField("matched_gt", T.IntegerType()),
            T.StructField("unmatched_gt", T.IntegerType()),
        ]
    )

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for uid, gts, preds in zip(pdf["user_id"], pdf["gts"], pdf["preds"]):
                gb = np.array([[g["l"], g["t"], g["r"], g["b"]] for g in gts])
                gl = np.array([g["label"] for g in gts])
                pb = np.array([[p["l"], p["t"], p["r"], p["b"]] for p in preds])
                pl = np.array([p["label"] for p in preds])
                m = greedy_label_matched_iou(pb, pl, gb, gl, 0.5)
                rows.append(
                    {
                        "user_id": uid,
                        "avg_iou": m["average_iou"],
                        "matched_gt": m["matched_gt"],
                        "unmatched_gt": m["unmatched_gt"],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    # rounding via F.round (HALF_UP, the oracle-convention twin of
    # DuckDB round) — NOT Python round (banker's)
    return per_user.mapInPandas(kernel, schema=schema).withColumn(
        "avg_iou", F.round("avg_iou", 6)
    )


def _sql_greedy_iou() -> str:
    """DuckDB twin of the greedy fold.

    DuckDB 1.0 ``list_reduce`` mis-threads the accumulator when the
    lambda body contains CASE/IF or a struct-typed accumulator (probed
    empirically), so the fold state is a BRANCH-FREE tag-encoded
    ``DOUBLE[][]``: entries ``[0, gt_ord]`` = matched, ``[1, iou]`` =
    match iou (in match order), ``[2, w]`` = pred weight (in pred
    order), ``[3, gt_ord, iou]`` = per-pred candidate (precomputed
    OUTSIDE the fold — candidates don't depend on the matched set;
    only the first-unmatched pick does). Each pred element is its own
    self-processed seed state (list_reduce seeds with element 1); the
    lambda picks the first candidate not yet matched via pure list
    algebra (filter / slice / flatten-transform / concat)."""

    def iou(g: str, x: str) -> str:
        inter = (
            f"greatest(0, least({x}.r, {g}.r) - greatest({x}.l, {g}.l))"
            f" * greatest(0, least({x}.b, {g}.b) - greatest({x}.t, {g}.t))"
        )
        union = (
            f"(({x}.r-{x}.l)*({x}.b-{x}.t) + ({g}.r-{g}.l)*({g}.b-{g}.t)"
            f" - {inter})"
        )
        return (
            f"CASE WHEN {union} > 0 THEN {inter} / greatest({union}, 1e-12)"
            f" ELSE 0.0 END"
        )

    # per-pred ordered candidate list (CASE is fine in plain
    # list_filter/list_transform lambdas — the bug is reduce-specific)
    cand = (
        "list_transform(list_filter(gts, g -> g.label = p.label AND "
        + iou("g", "p")
        + " >= 0.5), g -> [3.0, CAST(g.ord AS DOUBLE), "
        + iou("g", "p")
        + "])"
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_id AS e, event_type,
         CAST(event_id % 5 AS DOUBLE) AS d1,
         CAST(2 + event_id % 7 AS DOUBLE) AS d2,
         CAST(20 + event_id % 4 AS DOUBLE) AS w
  FROM events WHERE event_id < 2000
),
items AS (
  SELECT user_id,
         {{'ord': e, 'label': event_type,
           'l': e*100.0, 't': 0.0, 'r': e*100.0 + w, 'b': 10.0}} AS g,
         {{'ord': e*2, 'label': event_type,
           'l': e*100.0 + d1, 't': 0.0, 'r': e*100.0 + w + d1, 'b': 10.0}} AS p1,
         CASE WHEN e % 3 = 0 THEN
           [{{'ord': e*2 + 1, 'label': event_type,
              'l': e*100.0 + d2, 't': 0.0, 'r': e*100.0 + w + d2, 'b': 10.0}}]
         ELSE [] END AS p2
  FROM ev
),
user_gts AS (
  SELECT user_id, list_sort(list(g)) AS gts, count(*) AS n_gt
  FROM items GROUP BY user_id
),
pred_rows AS (
  SELECT user_id, unnest(list_concat([p1], p2)) AS p FROM items
),
pred_elems AS (
  SELECT r.user_id, r.p.ord AS ord,
         list_concat(
           list_concat([[2.0, abs((r.p.r - r.p.l) * (r.p.b - r.p.t))]],
             flatten(list_transform(list_slice({cand}, 1, 1),
                                    c -> [[0.0, c[2]], [1.0, c[3]]]))),
           {cand}) AS elem
  FROM (SELECT user_id, p FROM pred_rows) r JOIN user_gts USING (user_id)
),
folded AS (
  SELECT user_id,
         list_reduce(list(elem ORDER BY ord), (acc, x) ->
           list_concat(
             list_concat(acc, list_filter(x, p -> p[1] = 2)),
             flatten(list_transform(
               list_slice(list_filter(x, p -> p[1] = 3 AND NOT list_contains(
                 list_transform(list_filter(acc, q -> q[1] = 0), q -> q[2]),
                 p[2])), 1, 1),
               p -> [[0.0, p[2]], [1.0, p[3]]])))) AS s
  FROM pred_elems GROUP BY user_id
),
agg AS (
  SELECT f.user_id,
         list_transform(list_filter(f.s, p -> p[1] = 1), p -> p[2]) AS ious,
         list_transform(list_filter(f.s, p -> p[1] = 2), p -> p[2]) AS ws,
         len(list_filter(f.s, p -> p[1] = 0)) AS n_matched,
         g.n_gt
  FROM folded f JOIN user_gts g USING (user_id)
)
SELECT user_id,
       round(CASE WHEN list_sum(ws) > 0 AND len(ious) > 0
             THEN list_sum(list_transform(generate_series(1, len(ious)),
                                          i -> ws[i] * ious[i]))
                  / list_sum(ws)
             ELSE 0.0 END, 6) AS avg_iou,
       CAST(len(ious) AS INTEGER) AS matched_gt,
       CAST(n_gt - n_matched AS INTEGER) AS unmatched_gt
FROM agg
"""


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf·idf terms (Sparck Jones 1972) — integer
    micro-scores, so the oracle compares exact BIGINTs, never floats."""
    from docling_eval_spark.operators.text_analysis import tfidf_top_terms

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(d, "doc_id", k=3, broadcast_df=True)


_SQL_TFIDF = r"""
WITH terms AS (
  SELECT doc_id AS id, lower(t) AS term
  FROM documents,
       LATERAL unnest(list_filter(
         string_split_regex(trim(text), '[ \t\n\r\f\v]+'), x -> x <> ''
       )) AS u(t)
),
tf AS (SELECT id, term, count(*) AS tf FROM terms GROUP BY id, term),
dfreq AS (
  SELECT term,
         CAST(round(ln((SELECT count(DISTINCT doc_id) FROM documents) * 1.0
                       / count(DISTINCT id)) * 1e6) AS BIGINT) AS idf_micro
  FROM terms GROUP BY term
),
scored AS (
  SELECT tf.id, tf.term, tf.tf * d.idf_micro AS score_micro,
         row_number() OVER (
           PARTITION BY tf.id ORDER BY tf.tf * d.idf_micro DESC, tf.term ASC
         ) AS rank
  FROM tf JOIN dfreq d USING (term)
)
SELECT id, term, CAST(rank AS INTEGER) AS rank, score_micro
FROM scored WHERE rank <= 3
"""


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact-ordered champion-list postings (IIR §7.1.3): per term
    the top-20 docs by tf with EXACT full-corpus doc_count. The
    synthetic corpus is the worst skew case — 31 terms × ~450 docs
    each — so the salted two-phase top-k prune is load-bearing, while
    the oracle's plain window proves it exact."""
    from docling_eval_spark.operators.retrieval import inverted_index

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return inverted_index(d, "doc_id", k_postings=20)


_SQL_INVERTED_INDEX = r"""
WITH terms AS (
  SELECT doc_id AS id, lower(t) AS term
  FROM documents,
       LATERAL unnest(list_filter(
         string_split_regex(trim(text), '[ \t\n\r\f\v]+'), x -> x <> ''
       )) AS u(t)
),
tf AS (SELECT term, id, count(*) AS tf FROM terms GROUP BY term, id),
dfreq AS (SELECT term, count(*) AS doc_count FROM tf GROUP BY term),
ranked AS (
  SELECT term, id, tf,
         row_number() OVER (PARTITION BY term ORDER BY tf DESC, id ASC) AS rank
  FROM tf
)
SELECT r.term, d.doc_count, r.id, r.tf, CAST(r.rank AS INTEGER) AS rank
FROM ranked r JOIN dfreq d USING (term) WHERE r.rank <= 20
"""


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point BM25 top-10 per query (Robertson–Spärck Jones,
    Lucene idf variant): the only float op is one ln quantized to
    micro-nats per term; every later step is BIGINT with truncating
    integer division, so the DuckDB oracle replays score AND ranking
    bit-for-bit. The three literal queries cover multi-term, repeated
    qtf-weighted terms, and a high-df stopword-ish term."""
    from docling_eval_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    q = spark.createDataFrame(
        [
            ("q1", "hash join"),
            ("q2", "slow table scan"),
            ("q3", "spark window the window"),
        ],
        ["query_id", "qtext"],
    )
    return bm25_topk(d, q, "doc_id", k=10)


# CTE chain shared by the bm25_topk oracle and the hard_negatives
# oracle (which re-ranks the same fixed-point candidates after an
# anti-join on positives); {k} is the per-query candidate cap.
_BM25_RANKED_CTES = r"""
WITH q(query_id, qtext) AS (
  VALUES ('q1', 'hash join'),
         ('q2', 'slow table scan'),
         ('q3', 'spark window the window')
),
qterms AS (
  SELECT query_id, lower(t) AS term, count(*) AS qtf
  FROM q, LATERAL unnest(list_filter(
    string_split_regex(trim(qtext), '[ \t\n\r\f\v]+'), x -> x <> ''
  )) AS u(t)
  GROUP BY 1, 2
),
docs AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS toks
  FROM documents
),
stats AS (
  SELECT count(*) AS n_docs,
         (1000 * sum(len(toks))) // count(*) AS avgdl_milli
  FROM docs
),
terms AS (SELECT id, lower(t) AS term FROM docs, LATERAL unnest(toks) AS u(t)),
tf AS (
  SELECT term, id, count(*) AS tf FROM terms
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY term, id
),
dfreq AS (SELECT term, count(*) AS term_df FROM tf GROUP BY term),
dls AS (SELECT id, len(toks) AS dl FROM docs),
scored AS (
  SELECT qt.query_id, tf.id,
         qt.qtf * ((CAST(round(ln((2 * s.n_docs + 2) * 1.0
                                  / (2 * d.term_df + 1)) * 1e6) AS BIGINT)
                    * ((tf.tf * 2200 * 1000000)
                       // (1000 * tf.tf
                           + (1200 * (250 + (750000 * dls.dl)
                                      // s.avgdl_milli)) // 1000)))
                   // 1000000) AS contrib
  FROM tf
  JOIN dfreq d USING (term)
  JOIN dls ON dls.id = tf.id
  JOIN qterms qt USING (term)
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, id, CAST(sum(contrib) AS BIGINT) AS score_micro
  FROM scored GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, id, score_micro,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, id ASC
         ) AS rank
  FROM scores
)
"""

_SQL_BM25 = (
    _BM25_RANKED_CTES
    + r"""
SELECT query_id, id, CAST(rank AS INTEGER) AS rank, score_micro
FROM ranked WHERE rank <= 10
"""
)


def _q_anchor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text rollup through the REAL extraction path (element
    regex scan → href resolution → tag-strip/ws-collapse → keyed agg
    with exact distinct-host count). Pages are synthesized
    algebraically from events so the oracle can derive the expected
    rollup independently — no regex replay, a stronger check. The
    fixture exercises absolute, protocol-relative, and rooted hrefs,
    nested tags in anchor text, a dropped relative link, and one hot
    target (the hub) shared by every page."""
    e = F.col("event_id")
    m = (e % 40).cast("string")
    pages = (
        _t(spark, sf_dir, "events")
        .filter(e < 2500)
        .select(
            F.concat(
                F.lit("https://h"), m, F.lit(".example/p"), e.cast("string")
            ).alias("url"),
            F.concat(
                F.lit('<a href="/d'),
                (e % 97).cast("string"),
                F.lit('">'),
                F.col("event_type"),
                F.lit(" page</a><a href='//h"),
                ((e + 1) % 40).cast("string"),
                F.lit(".example/mirror'>mirror <b>site</b></a>"),
                F.lit('<a href="https://hub.example/all">hub</a>'),
                F.lit('<a href="rel.html">skip</a>'),
            ).alias("html"),
        )
    )
    from docling_eval_spark.operators.web_ops import (
        anchor_text_rollup,
        extract_anchors,
    )

    return anchor_text_rollup(extract_anchors(pages))


_SQL_ANCHOR_ROLLUP = r"""
WITH e AS (
  SELECT event_id, event_type, event_id % 40 AS m
  FROM events WHERE event_id < 2500
),
a AS (
  SELECT 'https://h' || CAST(m AS VARCHAR) || '.example/d'
           || CAST(event_id % 97 AS VARCHAR) AS dst,
         event_type || ' page' AS anchor, m
  FROM e
  UNION ALL
  SELECT 'https://h' || CAST((m + 1) % 40 AS VARCHAR) || '.example/mirror',
         'mirror site', m
  FROM e
  UNION ALL
  SELECT 'https://hub.example/all', 'hub', m FROM e
)
SELECT dst, anchor, count(*) AS n_anchors,
       count(DISTINCT m) AS n_src_hosts
FROM a GROUP BY 1, 2
"""


def _q_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (ftfy-style UTF-8-as-Latin-1 fix) through the
    real operator: even doc_ids get a non-ASCII suffix then are
    GARBLED in-engine (utf8 bytes re-read as Latin-1 — the actual
    corruption, including a 3-byte em-dash sequence); odd doc_ids stay
    clean ASCII and must pass through untouched. The oracle derives
    the expected digests from the ORIGINAL text — so it checks full
    byte-level recovery, not a replay of the repair."""
    from docling_eval_spark.operators.text_analysis import mojibake_repair

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = " café naïve — ß"
    orig = F.concat(F.col("text"), F.lit(suffix))
    garbled = F.decode(F.encode(orig, "UTF-8"), "ISO-8859-1")
    staged = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, garbled)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return mojibake_repair(staged).select(
        F.col("doc_id").alias("id"),
        F.md5("repaired_text").alias("repaired_md5"),
        "was_mojibake",
    )


_SQL_MOJIBAKE = """
SELECT doc_id AS id,
       CASE WHEN doc_id % 2 = 0
            THEN md5(text || ' café naïve — ß')
            ELSE md5(text) END AS repaired_md5,
       doc_id % 2 = 0 AS was_mojibake
FROM documents
"""


def _q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain (eTLD+1, PSL-lite) rollup through the real
    label-cut operator over urls synthesized to cover every branch:
    multi-label public suffixes (co.uk/com.au) with 1-3 subdomain
    levels, a plain gTLD with deep subdomains, an IPv4 literal, a
    single-label host, and two DIFFERENT hosts sharing one registered
    domain (the case host-keyed rollups get wrong). The oracle derives
    each branch algebraically — independent of the label-split code."""
    from docling_eval_spark.operators.web_ops import domain_rollup

    e = F.col("event_id")
    g = (e % 13).cast("string")
    urls = (
        _t(spark, sf_dir, "events")
        .filter(e < 3500)
        .select(
            F.when(e % 7 == 0, F.concat(F.lit("https://www.shop"), g, F.lit(".co.uk/p")))
            .when(e % 7 == 1, F.concat(F.lit("https://news"), g, F.lit(".example.com/p")))
            .when(e % 7 == 2, F.concat(F.lit("https://a.b.site"), g, F.lit(".com.au/p")))
            .when(e % 7 == 3, F.concat(F.lit("https://plain"), g, F.lit(".org/p")))
            .when(e % 7 == 4, F.concat(F.lit("http://10.0.0."), g, F.lit("/p")))
            .when(e % 7 == 5, F.lit("http://localhost/p"))
            .otherwise(
                F.concat(F.lit("https://blog"), g, F.lit(".shop"), g, F.lit(".co.uk/p"))
            )
            .alias("url"),
        )
    )
    return domain_rollup(urls)


_SQL_DOMAIN_ROLLUP = """
WITH e AS (
  SELECT event_id % 7 AS m, CAST(event_id % 13 AS VARCHAR) AS g
  FROM events WHERE event_id < 3500
),
rows_ AS (
  SELECT CASE m
           WHEN 0 THEN 'shop' || g || '.co.uk'
           WHEN 1 THEN 'example.com'
           WHEN 2 THEN 'site' || g || '.com.au'
           WHEN 3 THEN 'plain' || g || '.org'
           WHEN 4 THEN '10.0.0.' || g
           WHEN 5 THEN 'localhost'
           ELSE 'shop' || g || '.co.uk' END AS domain,
         CASE m
           WHEN 0 THEN 'www.shop' || g || '.co.uk'
           WHEN 1 THEN 'news' || g || '.example.com'
           WHEN 2 THEN 'a.b.site' || g || '.com.au'
           WHEN 3 THEN 'plain' || g || '.org'
           WHEN 4 THEN '10.0.0.' || g
           WHEN 5 THEN 'localhost'
           ELSE 'blog' || g || '.shop' || g || '.co.uk' END AS host
  FROM e
)
SELECT domain, count(*) AS n_pages, count(DISTINCT host) AS n_hosts
FROM rows_ GROUP BY domain
"""


def _q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<head> metadata extraction (title ws-collapse, html lang
    lowercased, rel=canonical resolved through the shared href rules
    in both attribute orders, robots-meta noindex) over synthesized
    pages; the oracle reconstructs every signal algebraically."""
    from docling_eval_spark.operators.web_ops import page_metadata

    e = F.col("event_id")
    m = (e % 40).cast("string")
    es = e.cast("string")
    canon = (
        F.when(
            e % 4 == 0,
            F.concat(
                F.lit('<link rel="canonical" href="/c/'),
                (e % 50).cast("string"),
                F.lit('">'),
            ),
        )
        .when(
            e % 4 == 1,
            F.concat(
                F.lit('<link href="https://c.example/x'),
                (e % 50).cast("string"),
                F.lit('" rel=\'canonical\'>'),
            ),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.when(e % 3 == 0, F.lit("<html lang='en-GB'><head>"))
        .when(e % 3 == 1, F.lit('<html lang="fr"><head>'))
        .otherwise(F.lit("<html><head>")),
        F.lit("<title> Doc "),
        es,
        F.lit("\n  "),
        F.col("event_type"),
        F.lit(" </title>"),
        canon,
        F.when(
            e % 5 == 0,
            F.lit("<meta name='robots' content='noindex,follow'>"),
        )
        .when(  # reversed attribute order must also gate
            e % 5 == 1,
            F.lit("<meta content='noindex' name='robots'>"),
        )
        .otherwise(F.lit("")),
        F.lit("</head><body>b</body></html>"),
    )
    pages = (
        _t(spark, sf_dir, "events")
        .filter(e < 3000)
        .select(
            F.concat(F.lit("https://h"), m, F.lit(".example/p"), es).alias("url"),
            html.alias("html"),
        )
    )
    return page_metadata(pages)


_SQL_PAGE_METADATA = """
SELECT 'https://h' || CAST(event_id % 40 AS VARCHAR) || '.example/p'
         || CAST(event_id AS VARCHAR) AS url,
       'Doc ' || CAST(event_id AS VARCHAR) || ' ' || event_type AS title,
       CASE event_id % 3 WHEN 0 THEN 'en-gb' WHEN 1 THEN 'fr'
            ELSE NULL END AS html_lang,
       CASE event_id % 4
            WHEN 0 THEN 'https://h' || CAST(event_id % 40 AS VARCHAR)
                 || '.example/c/' || CAST(event_id % 50 AS VARCHAR)
            WHEN 1 THEN 'https://c.example/x' || CAST(event_id % 50 AS VARCHAR)
            ELSE NULL END AS canonical_url,
       event_id % 5 IN (0, 1) AS meta_noindex
FROM events WHERE event_id < 3000
"""


def _q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt gate (RFC 9309) through the full production stage —
    broadcast robots dim, SQL no-robots fast path, vectorized rule
    kernel. The fixture restricts every robots.txt to one plain
    prefix Disallow (even-numbered hosts disallow /private; odd hosts
    have NO robots row), which makes the decision SQL-expressible:
    allowed ⟺ NOT (even host AND /private path). Wildcards/longest-
    match/allow-ties stay pytest-gated (not SQL-expressible)."""
    from docling_eval_spark.operators.web_ops import robots_filter_stage

    e = F.col("event_id")
    pages = (
        _t(spark, sf_dir, "events")
        .filter(e < 2000)
        .select(
            "event_id",
            F.concat(
                F.lit("http://h"),
                (e % 20).cast("string"),
                F.lit(".example/"),
                F.when(e % 3 == 0, F.lit("private/")).otherwise(
                    F.lit("public/")
                ),
                F.lit("page"),
                e.cast("string"),
            ).alias("url"),
        )
    )
    robots = spark.range(0, 20, 2).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example")).alias(
            "host"
        ),
        F.lit("User-agent: *\nDisallow: /private").alias("robots_txt"),
    )
    return robots_filter_stage(pages, robots).select("event_id", "robots_allowed")


_SQL_ROBOTS_GATE = """
SELECT event_id,
       NOT ((event_id % 20) % 2 = 0 AND event_id % 3 = 0) AS robots_allowed
FROM events WHERE event_id < 2000
"""


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixing sample: per-source keep fractions
    via the portable md5→poly-hash uniform; the oracle replays the
    identical threshold test."""
    from docling_eval_spark.operators.web_ops import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    fr = {"src0": 0.0, "src1": 0.25, "src2": 0.5, "src3": 0.75}
    return stratified_sample(d, "source", "doc_id", fr, default_fraction=0.4)


_SQL_STRATIFIED = r"""
WITH u AS (
  SELECT doc_id, source,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, 33),
               i -> CAST(unicode(substring(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INTEGER), 1)) AS BIGINT))),
           (a, b) -> (a * 1000003 + b) % 2147483647) / 2147483647.0 AS uu
  FROM documents
)
SELECT doc_id, source FROM u
WHERE uu < CASE source
  WHEN 'src0' THEN 0.0 WHEN 'src1' THEN 0.25
  WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.75
  ELSE 0.4 END
"""


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window training chunks (32 tokens, 8 overlap) —
    the LM data-packing step; oracle rebuilds the identical windows
    with range/list_slice."""
    from docling_eval_spark.operators.text_analysis import chunk_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(d, "doc_id", chunk_tokens=32, overlap=8).select(
        "id", "chunk_idx", "n_tokens", F.md5("chunk_text").alias("chunk_md5")
    )


_SQL_CHUNKS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS tk
  FROM documents
),
starts AS (
  SELECT doc_id, tk, CAST(u.s AS INTEGER) AS s,
         CAST((u.s - 1) / 24 AS INTEGER) AS chunk_idx
  FROM toks,
       LATERAL unnest(range(1, 2 + CAST(floor((len(tk) - 1) / 24.0) AS INTEGER) * 24, 24)) AS u(s)
  WHERE len(tk) > 0
),
win AS (
  SELECT doc_id, chunk_idx, list_slice(tk, s, s + 31) AS w
  FROM starts
)
SELECT doc_id AS id, chunk_idx,
       CAST(len(w) AS BIGINT) AS n_tokens,
       md5(array_to_string(w, ' ')) AS chunk_md5
FROM win
WHERE chunk_idx = 0 OR len(w) > 8
"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit packing of whole documents into 200-token
    training sequences, 4 shards by doc_id — the batch-assembly step
    after chunking; the oracle replays the sequential per-shard fold
    with a recursive CTE."""
    from docling_eval_spark.operators.text_analysis import (
        pack_sequences,
        token_count_col,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        token_count_col("text").cast("long").alias("n"),
        F.pmod(F.col("doc_id"), F.lit(4)).cast("int").alias("shard"),
    )
    return pack_sequences(d, "doc_id", "n", capacity=200, shard_col="shard")


_SQL_PACK = r"""
WITH RECURSIVE items AS (
  SELECT CAST(doc_id % 4 AS INTEGER) AS shard, doc_id AS id,
         CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
              x -> x <> '')) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) AS rn
  FROM documents
),
fold AS (
  SELECT shard, id, n, rn,
         CAST(0 AS BIGINT) AS seq, CAST(0 AS BIGINT) AS off, n AS fill
  FROM items WHERE rn = 1
  UNION ALL
  SELECT i.shard, i.id, i.n, i.rn,
         f.seq + (CASE WHEN f.fill + i.n > 200 THEN 1 ELSE 0 END),
         CASE WHEN f.fill + i.n > 200 THEN 0 ELSE f.fill END,
         CASE WHEN f.fill + i.n > 200 THEN i.n ELSE f.fill + i.n END
  FROM fold f JOIN items i ON i.shard = f.shard AND i.rn = f.rn + 1
)
SELECT shard, id, seq AS seq_id, off AS seq_offset, n AS n_tokens
FROM fold
"""


def _q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-unigram
    importance weights ln(p_en/p_raw) over 512 buckets, integer
    micro-nat doc scores, top-50 most-English-like documents. The
    oracle replays the Horner token hash, the single-ln bucket
    quantization, and the BIGINT score sum bit-for-bit."""
    from docling_eval_spark.operators.training import dsir_topk

    # spread the token-hash pipeline across cores
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    return dsir_topk(
        d, "doc_id", "text", F.col("lang") == "en", k=50, buckets=512
    )


_SQL_DSIR = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_transform(list_filter(
           string_split_regex(trim(text), '[ \t\n\r\f\v]+'), x -> x <> ''
         ), x -> lower(x)) AS tk
  FROM documents
),
tok AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(u.t) + 1),
             i -> CAST(unicode(substring(u.t, CAST(i AS INTEGER), 1)) AS BIGINT))),
           (a, b) -> (a * 1000003 + b) % 2147483647) % 512 AS INTEGER) AS bucket
  FROM toks, LATERAL unnest(tk) AS u(t)
),
counts AS (
  SELECT bucket, count(*) AS c_raw,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_tgt
  FROM tok GROUP BY bucket
),
totals AS (SELECT sum(c_raw) AS tot_raw, sum(c_tgt) AS tot_tgt FROM counts),
wts AS (
  SELECT bucket,
         CAST(round(ln(CAST((c_tgt + 1) * (tot_raw + 512) AS DOUBLE)
                     / CAST((c_raw + 1) * (tot_tgt + 512) AS DOUBLE)) * 1e6)
              AS BIGINT) AS w_micro
  FROM counts, totals
),
scores AS (
  SELECT t.doc_id, count(*) AS n_tokens, sum(w.w_micro) AS score_micro
  FROM tok t JOIN wts w USING (bucket) GROUP BY t.doc_id
)
SELECT d.doc_id AS id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.score_micro, 0) AS BIGINT) AS score_micro
FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
ORDER BY score_micro DESC, id ASC
LIMIT 50
"""


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination scan (Brown et al. 2020 App. C style
    token-8-gram overlap): every 50th document plays the benchmark
    set, so those docs come back fully covered (n_hits == n_grams) and
    the rest show only organic boilerplate overlap. Runs the PORTABLE
    token-hash path (per-code-point polynomial) so the oracle
    recomputes both Horner hash levels bit-for-bit; production
    defaults to the xxhash64 token hash in a ~2^43 field (measured
    time-equal on this corpus — window fold dominates — so it gets no
    separate bench entry; see token_ngram_hash_table's docstring)."""
    from docling_eval_spark.operators.text_analysis import contamination_check

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return contamination_check(d, bench, "doc_id", n=8, portable=True)


def _q_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-8-gram fraction per document
    (RefinedWeb's dedup diagnostic / Kandpal et al. 2022): a window
    counts iff ≥2 DISTINCT documents share it, so cross-page
    boilerplate scores and within-doc self-repetition does not.
    Portable token-hash path so the oracle replays both Horner hash
    levels bit-for-bit (prod xxhash64 path is differential-pytest
    gated, the contamination/simhash precedent)."""
    from docling_eval_spark.operators.text_analysis import dup_ngram_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_ngram_stats(d, "doc_id", n=8, portable=True)


_SQL_DUP_NGRAM_FRAC = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(
           string_split_regex(trim(text, ' '), '[ \t\n\r\f\v]+'), x -> x <> ''
         ), x -> lower(x)) AS tk
  FROM documents
),
th AS (
  SELECT doc_id,
         list_transform(tk, t -> list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length(t) + 1),
               i -> CAST(unicode(substring(t, CAST(i AS INTEGER), 1)) AS BIGINT))),
           (a, b) -> (a * 1000003 + b) % 2147483647)) AS hs
  FROM toks
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 8 THEN
           list_transform(range(1, len(hs) - 6), i -> list_reduce(
             list_prepend(CAST(0 AS BIGINT), list_slice(hs, i, i + 7)),
             (a, b) -> (a * 1000003 + b) % 2147483647))
         ELSE [CAST(-1 AS BIGINT)] END AS gs
  FROM th
),
lvl AS (
  SELECT u.g AS g, doc_id,
         sum(CASE WHEN u.g = -1 THEN 0 ELSE 1 END) AS n_win
  FROM grams, LATERAL unnest(gs) AS u(g)
  GROUP BY 1, 2
),
gd AS (SELECT g, count(*) AS n_docs FROM lvl GROUP BY 1),
per AS (
  SELECT doc_id, sum(n_win) AS n_grams,
         sum(CASE WHEN l.g <> -1 AND gd.n_docs >= 2 THEN n_win ELSE 0 END)
           AS n_dup
  FROM lvl l JOIN gd USING (g) GROUP BY 1
)
SELECT doc_id AS id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_dup AS BIGINT) AS n_dup,
       CAST(CASE WHEN n_grams = 0 THEN 0
            ELSE (1000000 * n_dup) // n_grams END AS BIGINT) AS dup_micro
FROM per
"""


_SQL_CONTAMINATION = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(
           string_split_regex(trim(text, ' '), '[ \t\n\r\f\v]+'), x -> x <> ''
         ), x -> lower(x)) AS tk
  FROM documents
),
th AS (
  SELECT doc_id,
         list_transform(tk, t -> list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length(t) + 1),
               i -> CAST(unicode(substring(t, CAST(i AS INTEGER), 1)) AS BIGINT))),
           (a, b) -> (a * 1000003 + b) % 2147483647)) AS hs
  FROM toks
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 8 THEN
           list_transform(range(1, len(hs) - 6), i -> list_reduce(
             list_prepend(CAST(0 AS BIGINT), list_slice(hs, i, i + 7)),
             (a, b) -> (a * 1000003 + b) % 2147483647))
         ELSE [] END AS gs
  FROM th
),
bench AS (
  SELECT DISTINCT u.g FROM grams, LATERAL unnest(gs) AS u(g)
  WHERE doc_id % 50 = 0
),
hits AS (
  SELECT x.doc_id, count(*) AS n_hits
  FROM (SELECT doc_id, u.g FROM grams, LATERAL unnest(gs) AS u(g)) x
  JOIN bench b ON b.g = x.g
  GROUP BY x.doc_id
)
SELECT g.doc_id AS id,
       CAST(len(g.gs) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
FROM grams g LEFT JOIN hits h USING (doc_id)
"""


def _q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning pipeline (pipelines.clean_corpus,
    CLI `clean`): NFC normalization THEN exact dedup — the ordering
    that makes composed/decomposed Unicode twins collide. The oracle
    recomputes the same composition over DuckDB's nfc_normalize."""
    from docling_eval_spark import pipelines

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cleaned = pipelines.clean_corpus(d, "doc_id", annotate=False)
    return cleaned.select(
        F.col("doc_id").alias("id"),
        "dup_count",
        F.md5("text").alias("nfc_md5"),
    )


_SQL_CLEAN_CORPUS = r"""
WITH n AS (
  SELECT doc_id, nfc_normalize(text) AS text FROM documents
),
d AS (
  SELECT md5(trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'))) AS dg,
         min(doc_id) AS id, count(*) AS dup_count
  FROM n GROUP BY 1
)
SELECT d.id, d.dup_count, md5(n.text) AS nfc_md5
FROM d JOIN n ON n.doc_id = d.id
"""


def _q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram LM quality score (CCNet-style perplexity filter,
    Wenzek et al. 2020), self-trained on the documents corpus; the
    oracle recomputes the identical model and the identical BIGINT
    micro-nat sums (integer-exact, so no cross-engine float hazard in
    the compared columns)."""
    from docling_eval_spark.operators.ngram_lm import ngram_lm_score

    d = _t(spark, sf_dir, "documents")
    return ngram_lm_score(d, "doc_id").select("id", "n_grams", "lm_micro_sum")


_SQL_NGRAM_LM = r"""
WITH docs AS (
  SELECT doc_id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g')) AS norm
  FROM documents
),
grams AS (
  SELECT doc_id, substring(norm, CAST(i AS INTEGER), 3) AS gram
  FROM docs, LATERAL unnest(range(1, length(norm) - 1)) AS t(i)
  WHERE length(norm) >= 3
),
tri AS (SELECT gram, count(*) AS c3 FROM grams GROUP BY gram),
ctx AS (
  SELECT substring(gram, 1, 2) AS cx, sum(c3) AS c2 FROM tri GROUP BY 1
),
model AS (
  SELECT gram, round(ln(CAST(c3 AS DOUBLE) / CAST(c2 AS DOUBLE)), 6) AS logp
  FROM tri JOIN ctx ON substring(gram, 1, 2) = cx
),
per AS (
  SELECT g.doc_id, count(*) AS n_grams,
         sum(CAST(round(m.logp * 1e6) AS BIGINT)) AS micro
  FROM grams g JOIN model m USING (gram)
  GROUP BY g.doc_id
)
SELECT d.doc_id AS id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.micro, 0) AS BIGINT) AS lm_micro_sum
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per p USING (doc_id)
"""


def _q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3 —
    the famous head/middle/tail split): per-language terciles of the
    integer micro-nat per-gram LM score, rolled up to per-bucket
    counts and score ranges. ntile over a TOTAL order (ppx, id) so
    the split is deterministic; the downstream mixing decision
    ('train mostly on head+middle') reads this table."""
    from docling_eval_spark.operators.ngram_lm import ngram_lm_score

    d = _t(spark, sf_dir, "documents")
    s = ngram_lm_score(d, "doc_id").select("id", "n_grams", "lm_micro_sum")
    j = (
        s.join(d.select(F.col("doc_id").alias("id"), "lang"), "id")
        .filter(F.col("n_grams") > 0)
        .withColumn("ppx_micro", F.expr("lm_micro_sum DIV n_grams"))
    )
    w = Window.partitionBy("lang").orderBy("ppx_micro", "id")
    b = j.withColumn("bucket", F.ntile(3).over(w).cast("bigint"))
    return b.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("ppx_micro").alias("min_ppx_micro"),
        F.max("ppx_micro").alias("max_ppx_micro"),
    )


def _sql_ccnet_buckets() -> str:
    return f"""
WITH lm AS ({_SQL_NGRAM_LM}),
j AS (
  SELECT l.id, d.lang, l.lm_micro_sum // l.n_grams AS ppx_micro
  FROM lm l JOIN documents d ON d.doc_id = l.id
  WHERE l.n_grams > 0
),
b AS (
  SELECT lang, id, ppx_micro,
         ntile(3) OVER (PARTITION BY lang ORDER BY ppx_micro, id) AS bucket
  FROM j
)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(ppx_micro) AS min_ppx_micro,
       max(ppx_micro) AS max_ppx_micro
FROM b GROUP BY lang, bucket
"""


def _q_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact semi-join (operators/bloom.py): the
    broadcast bitmap must be a strict superset filter, so the final
    result equals the plain semi join the oracle computes."""
    from docling_eval_spark.operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_partkey").alias("k")
    )
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") < 5)
        .select(F.col("p_partkey").alias("k"))
    )
    return bloom_semi_join(li, small, "k").select(
        "l_orderkey", "l_linenumber", "k"
    )


_SQL_BLOOM_SEMI = """
SELECT l_orderkey, l_linenumber, l_partkey AS k
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 5)
"""


def _sql_corpus_ap_cte() -> str:
    """Shared CTE chain computing the per-(label, thr) AP table in
    DuckDB (same IoU-threshold doubles as layout.IOU_THRESHOLDS via
    repr literals)."""
    from docling_eval_spark.evaluators.layout import IOU_THRESHOLDS

    thr_rows = ", ".join(
        f"({t!r}, {round(t * 100)})" for t in IOU_THRESHOLDS
    )
    return f"""
WITH e AS (
  SELECT event_id, event_type AS label,
         CAST(event_id % 5 AS DOUBLE) AS dx,
         event_id % 7 = 0 AS miss, event_id % 11 = 0 AS has_fp
  FROM events WHERE event_id < 2000
),
gtc AS (SELECT label, count(*) AS n_gt FROM e GROUP BY label),
dets0 AS (
  SELECT label, (4000.0 + 2.0 * event_id) / 8000.0 AS score,
         CAST((20.0 - dx) * 10.0 AS DOUBLE) / (400.0 - (20.0 - dx) * 10.0) AS iou
  FROM e WHERE NOT miss
  UNION ALL
  SELECT label, (2000.0 + 2.0 * event_id + 1.0) / 8000.0 AS score, 0.0 AS iou
  FROM e WHERE has_fp
),
thrs AS (SELECT * FROM (VALUES {thr_rows}) AS t(thr, thr_pct)),
dets AS (
  SELECT d.label, t.thr_pct, d.score, d.iou >= t.thr AS tp
  FROM dets0 d CROSS JOIN thrs t
),
curve AS (
  SELECT label, thr_pct, score,
    sum(CASE WHEN tp THEN 1 ELSE 0 END)
      OVER (PARTITION BY label, thr_pct ORDER BY score DESC) AS ctp,
    count(*) OVER (PARTITION BY label, thr_pct ORDER BY score DESC) AS cn
  FROM dets
),
points AS (
  SELECT c.label, c.thr_pct, c.ctp * 1.0 / g.n_gt AS recall, c.ctp * 1.0 / c.cn AS prec
  FROM curve c JOIN gtc g USING (label)
),
rts AS (SELECT unnest(range(0, 101)) AS i),
best AS (
  SELECT p.label, p.thr_pct, r.i, max(p.prec) AS bp
  FROM points p JOIN rts r ON p.recall >= r.i / 100.0
  GROUP BY p.label, p.thr_pct, r.i
),
ap AS (
  SELECT label, thr_pct, sum(bp) / 101.0 AS ap
  FROM best GROUP BY label, thr_pct
)"""


def _sql_corpus_map() -> str:
    return (
        _sql_corpus_ap_cte()
        + """
SELECT round(avg(ap), 6) AS map,
       round(avg(ap) FILTER (WHERE thr_pct = 50), 6) AS map_50,
       round(avg(ap) FILTER (WHERE thr_pct = 75), 6) AS map_75
FROM ap
"""
    )


def _sql_layout_class_ap() -> str:
    return (
        _sql_corpus_ap_cte()
        + """
SELECT label, CAST(thr_pct AS BIGINT) AS thr_pct, round(ap, 6) AS ap FROM ap
"""
    )


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021 §A1.1.1) per doc —
    pure codegen column algebra; DuckDB recomputes every rule."""
    from docling_eval_spark.operators.quality_rules import gopher_flags

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    g = gopher_flags(d)
    return g.select(
        "doc_id",
        F.col("g_n_words").cast("bigint").alias("n_words"),
        F.col("g_mean_word_len").alias("mean_word_len"),
        F.col("g_symbol_ratio").alias("symbol_ratio"),
        F.col("g_alpha_ratio").alias("alpha_ratio"),
        F.col("g_stopword_hits").cast("bigint").alias("stopword_hits"),
        "passes_gopher",
    )


def _q_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-BoW linear quality classifier (CCNet /
    GPT-3 CC-filtering shape): seeded milli-unit weight table, BIGINT
    score fold, integer threshold decision — zero shuffle, and DuckDB
    recomputes the hash + fold + decision bit-for-bit."""
    from docling_eval_spark.operators.text_analysis import quality_lr_score

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_lr_score(d, "doc_id")


def _sql_quality_lr() -> str:
    from docling_eval_spark.operators.text_analysis import lr_weights

    wlist = ", ".join(str(w) for w in lr_weights())
    return rf"""
WITH w AS (SELECT [{wlist}] AS wv),
toks AS (
  SELECT doc_id,
         list_transform(list_filter(
           string_split_regex(trim(text), '[ \t\n\r\f\v]+'), x -> x <> ''
         ), x -> lower(x)) AS tk
  FROM documents
),
sc AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(tk,
      t -> wv[1 + CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length(t) + 1),
               i -> CAST(unicode(substring(t, CAST(i AS INTEGER), 1)) AS BIGINT))),
             (a, b) -> (a * 1000003 + b) % 2147483647) % 256 AS INTEGER)])),
      (a, b) -> a + b) AS score_milli
  FROM toks, w
)
SELECT doc_id AS id, n_tokens, score_milli,
       (score_milli >= 0 AND n_tokens > 0) AS keep
FROM sc
"""


_SQL_GOPHER = r"""
WITH tk AS (
  SELECT doc_id, text AS t,
         list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    round(CASE WHEN len(toks) > 0 THEN
      list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
      ELSE 0.0 END, 6) AS mean_word_len,
    round(CASE WHEN len(toks) > 0 THEN
      (len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\.\.\.|…'))) * 1.0 / len(toks)
      ELSE 0.0 END, 6) AS symbol_ratio,
    round(CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, x -> regexp_matches(x, '[A-Za-zÀ-ÿ]'))) * 1.0 / len(toks)
      ELSE 0.0 END, 6) AS alpha_ratio,
    CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
         ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stopword_hits,
    round(CASE WHEN len(string_split(t, chr(10))) > 0 THEN
      len(list_filter(string_split(t, chr(10)),
          x -> regexp_matches(trim(x), '^([-*•]|[0-9]+[.)])'))) * 1.0
      / len(string_split(t, chr(10))) ELSE 0.0 END, 6) AS bullet_ratio,
    round(CASE WHEN len(string_split(t, chr(10))) > 0 THEN
      len(list_filter(string_split(t, chr(10)),
          x -> regexp_matches(trim(x), '(\.\.\.|…)$'))) * 1.0
      / len(string_split(t, chr(10))) ELSE 0.0 END, 6) AS ellipsis_ratio
  FROM tk
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio, stopword_hits,
  (n_words >= 50 AND n_words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8
   AND stopword_hits >= 2
   AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3) AS passes_gopher
FROM m
"""


def _q_repetition_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent-bigram mass (Gopher §A1.1.2 repetition signal):
    one explode + one map-side-combining hash agg."""
    from docling_eval_spark.operators.quality_rules import top_bigram_fraction

    d = _t(spark, sf_dir, "documents")
    r = top_bigram_fraction(d, "doc_id")
    return r.select(
        "id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("top_count").cast("bigint").alias("top_count"),
        "top_fraction",
    )


_SQL_REPETITION = r"""
WITH tk AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT id, toks[i] || '␟' || toks[i + 1] AS bg
  FROM tk, unnest(range(1, len(toks))) AS u(i)
),
c AS (SELECT id, bg, count(*) AS c FROM bg GROUP BY id, bg)
SELECT id, CAST(sum(c) AS BIGINT) AS n_bigrams, CAST(max(c) AS BIGINT) AS top_count,
       round(max(c) * 1.0 / sum(c), 6) AS top_fraction
FROM c GROUP BY id
"""


def _q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup PAIRS → dedup CLUSTERS: connected components
    (4 unrolled iterations) over the LSH-bucketed cosine pair graph —
    the same transitive-closure apply step near_dup_components runs on
    the text-minhash graph, here over the embedding modality."""
    from docling_eval_spark.operators.web_ops import connected_components

    pairs = _q_near_dup_pairs(spark, sf_dir)
    return connected_components(pairs, "id_l", "id_r", iterations=4).select(
        "node", "component"
    )


def _sql_embedding_dup_clusters(iterations: int = 4) -> str:
    prev = "c0"
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""c{i} AS (
  SELECT node, min(component) AS component FROM (
    SELECT u.b AS node, c.component FROM und u JOIN {prev} c ON c.node = u.a
    UNION ALL SELECT node, component FROM {prev}
  ) GROUP BY node
)"""
        )
        prev = f"c{i}"
    chain = ",\n".join(iters)
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT id_l, id_r FROM ({_sql_near_dup_pairs()})
),
und AS MATERIALIZED (
  SELECT id_l AS a, id_r AS b FROM pairs
  UNION ALL SELECT id_r AS a, id_l AS b FROM pairs
),
c0 AS (SELECT DISTINCT a AS node, a AS component FROM und),
{chain}
SELECT node, component FROM {prev}
"""


def _q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs (hyperplane-LSH bucketed
    self-join + exact cosine verify). Input doubles each vector with a
    ×2-scaled twin (cosine exactly 1.0, bucket-identical by sign
    invariance) so the pair set is non-trivial; the oracle recomputes
    buckets and cosines with the same plane literals."""
    from docling_eval_spark.operators.similarity import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dup = e.unionByName(
        e.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        )
    )
    return embedding_near_dup_pairs(dup, threshold=0.999).select(
        "id_l", "id_r", F.round("cosine", 6).alias("cosine")
    )


def _sql_near_dup_pairs() -> str:
    """DuckDB twin: same seed-7 hyperplanes as literals, same left-fold
    float arithmetic (both engines fold the dot products in array
    order, so signs/buckets/cosines are bit-identical)."""
    from docling_eval_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, 12, seed=7)
    terms = []
    for i, p in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
            f"j -> v[j] * ({arr})[j])), (a, x) -> a + x) >= 0 THEN {1 << i} ELSE 0 END"
        )
    bucket = " + ".join(terms)
    return f"""
WITH base AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
dup AS (
  SELECT id, v FROM base
  UNION ALL
  SELECT id + 100000 AS id, list_transform(v, x -> x * 2.0) AS v FROM base
),
b AS (
  SELECT id, v, ({bucket}) AS bucket FROM dup
),
sizes AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
pairs AS (
  SELECT DISTINCT l.id AS id_l, r.id AS id_r, l.v AS vl, r.v AS vr
  FROM b l
  JOIN b r ON l.bucket = r.bucket AND l.id < r.id
  JOIN sizes s ON s.bucket = l.bucket
  WHERE s.n <= 1000
),
cos AS (
  SELECT id_l, id_r,
    list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> vl[i] * vr[i])),
                (a, x) -> a + x) AS dot,
    sqrt(list_reduce(list_prepend(0.0, list_transform(vl, x -> x * x)), (a, x) -> a + x)) AS na,
    sqrt(list_reduce(list_prepend(0.0, list_transform(vr, x -> x * x)), (a, x) -> a + x)) AS nb
  FROM pairs
)
SELECT DISTINCT id_l, id_r,
       round(dot / (na * nb), 6) AS cosine
FROM cos
WHERE na > 0 AND nb > 0 AND dot / (na * nb) >= 0.999
"""


_URL_EXPR_DOC = """synthesized crawl-style URLs from events: mixed-case
scheme/host, sometimes a default :443 port, unsorted query params, a
fragment — everything canonicalization must fix."""


def _synth_url_col():
    e = F.col("event_id")
    return F.concat(
        F.lit("HTTPS://Host"),
        (F.col("user_id") % 20).cast("string"),
        F.lit(".Example.com"),
        F.when(e % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/P/"),
        e.cast("string"),
        F.when(e % 2 == 0, F.lit("?b=2&a=1")).otherwise(F.lit("")),
        F.when(e % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


_SQL_SYNTH_URL = (
    "'HTTPS://Host' || CAST(user_id % 20 AS VARCHAR) || '.Example.com'"
    " || CASE WHEN event_id % 3 = 0 THEN ':443' ELSE '' END"
    " || '/P/' || CAST(event_id AS VARCHAR)"
    " || CASE WHEN event_id % 2 = 0 THEN '?b=2&a=1' ELSE '' END"
    " || CASE WHEN event_id % 5 = 0 THEN '#frag' ELSE '' END"
)


def _q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (crawl-dedup key normalization)."""
    from docling_eval_spark.operators.web_ops import canonical_url_col, host_col

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    url = _synth_url_col()
    return ev.select(
        "event_id",
        url.alias("raw_url"),
        canonical_url_col(url).alias("canon"),
        host_col(url).alias("host"),
    )


_SQL_CANON_URLS = f"""
WITH u AS (
  SELECT event_id, {_SQL_SYNTH_URL} AS raw_url
  FROM events WHERE event_id < 1000
),
n AS (
  SELECT event_id, raw_url, regexp_replace(raw_url, '#.*$', '', 'g') AS nf FROM u
),
p AS (
  SELECT event_id, raw_url, nf,
    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)) AS hostport,
    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1) AS rawpath,
    regexp_extract(nf, '\\?(.*)$', 1) AS query
  FROM n
)
SELECT event_id, raw_url,
  scheme || '://' ||
  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
       ELSE hostport END ||
  CASE WHEN rawpath = '' THEN '/' ELSE rawpath END ||
  CASE WHEN array_to_string(list_sort(list_filter(string_split(query, '&'), x -> x <> '')), '&') <> ''
       THEN '?' || array_to_string(list_sort(list_filter(string_split(query, '&'), x -> x <> '')), '&')
       ELSE '' END AS canon,
  lower(regexp_extract(raw_url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?]+)', 1)) AS host
FROM p
"""


def _q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host rollup over synthesized URLs (one hash agg; map-side
    combine absorbs the skewed-host distribution)."""
    from docling_eval_spark.operators.web_ops import host_stats

    ev = _t(spark, sf_dir, "events")
    df = ev.select(_synth_url_col().alias("url"), F.col("props").alias("text"))
    return host_stats(df)


_SQL_HOST_STATS = f"""
WITH u AS (SELECT {_SQL_SYNTH_URL} AS url, props AS text FROM events)
SELECT lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?]+)', 1)) AS host,
       count(*) AS docs,
       round(avg(length(text)), 6) AS mean_chars
FROM u GROUP BY host
"""


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (C4 §2.2 style): documents re-chunked
    into fixed 40-char lines; the table is unioned with an exact copy
    so every copied line must dedup away (first-occurrence wins)."""
    from docling_eval_spark.operators.web_ops import line_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    n_chunks = F.ceil(F.length("text") / 40.0).cast("int")
    chunked = dup.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
                lambda i: F.substring(F.col("text"), i * 40 + 1, 40),
            ),
            "\n",
        ).alias("text"),
    )
    return line_dedup(chunked, "doc_id").select("id", "text")


_SQL_LINE_DEDUP = r"""
WITH d AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL SELECT doc_id + 100000 AS id, text FROM documents
),
lines AS (
  SELECT id, u.i AS line_no, substring(text, u.i * 40 + 1, 40) AS line
  FROM d, unnest(range(0, greatest(CAST(ceil(length(text) / 40.0) AS INT), 1))) AS u(i)
  WHERE trim(substring(text, u.i * 40 + 1, 40)) <> ''
),
kept AS (
  SELECT id, line_no, line,
         row_number() OVER (PARTITION BY line ORDER BY id, line_no) AS rn
  FROM lines
)
SELECT id, string_agg(line, chr(10) ORDER BY line_no) AS text
FROM kept WHERE rn = 1 GROUP BY id
"""


def _q_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped template-line strip (Gibson et al. 2005 frequency
    rule): pages get a per-host NAV banner + FOOTER wrapped around the
    40-char-chunked body, and every line on >=3 distinct pages of the
    SAME host is removed — the banners (25 pages/host) must vanish,
    cross-host repeats must survive. host = source."""
    from docling_eval_spark.operators.web_ops import host_boilerplate_strip

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n_chunks = F.ceil(F.length("text") / 40.0).cast("int")
    chunked = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
            lambda i: F.substring(F.col("text"), i * 40 + 1, 40),
        ),
        "\n",
    )
    pages = d.select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("host"),
        F.concat(
            F.lit("NAV "),
            F.col("source"),
            F.lit(" HOME ABOUT CONTACT\n"),
            chunked,
            F.lit("\nFOOTER "),
            F.col("source"),
            F.lit(" ALL RIGHTS RESERVED"),
        ).alias("text"),
    )
    return host_boilerplate_strip(pages, "id", "host", min_pages=3).select(
        "id", "text"
    )


_SQL_HOST_BOILERPLATE = r"""
WITH d AS (SELECT doc_id AS id, source AS host, text FROM documents),
nc AS (
  SELECT id, host, text,
         greatest(CAST(ceil(length(text) / 40.0) AS INT), 1) AS n_chunks
  FROM d
),
chunks AS (
  SELECT id, host, u.i + 1 AS line_no,
         substring(text, u.i * 40 + 1, 40) AS line
  FROM nc, unnest(range(0, n_chunks)) AS u(i)
),
banners AS (
  SELECT id, host, 0 AS line_no,
         'NAV ' || host || ' HOME ABOUT CONTACT' AS line FROM nc
  UNION ALL
  SELECT id, host, n_chunks + 1 AS line_no,
         'FOOTER ' || host || ' ALL RIGHTS RESERVED' AS line FROM nc
),
lines AS (
  SELECT id, host, line_no, line FROM chunks WHERE trim(line) <> ''
  UNION ALL
  SELECT id, host, line_no, line FROM banners
),
boiler AS (
  SELECT host, line FROM lines
  GROUP BY host, line HAVING count(DISTINCT id) >= 3
),
kept AS (
  SELECT l.id, l.line_no, l.line
  FROM lines l LEFT JOIN boiler b ON l.host = b.host AND l.line = b.line
  WHERE b.line IS NULL
)
SELECT id, string_agg(line, chr(10) ORDER BY line_no) AS text
FROM kept GROUP BY id
"""


def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (LBFS 2001 / FastCDC family): rolling
    16-gram hash boundaries at h % 64 == 0, per-chunk md5 — the
    byte-overlap dedup primitive whose boundaries re-sync after
    edits. The oracle recomputes every boundary and digest with the
    same integer rolling hash."""
    from docling_eval_spark.operators.text_analysis import cdc_chunk_table

    return cdc_chunk_table(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=16, divisor=64
    )


_SQL_CDC_CHUNKS = r"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS t
  FROM documents
),
hs AS (
  SELECT id, t,
    list_transform(
      range(1, CASE WHEN length(t) >= 16 THEN length(t) - 14 ELSE 2 END),
      i -> list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(i, least(i + 15, length(t)) + 1),
                              j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
             (acc, x) -> (acc * 1000003 + x) % 2147483647)) AS h
  FROM norm WHERE length(t) > 0
),
ends AS (
  SELECT id, t,
    list_append(
      list_filter(
        list_transform(range(1, len(h) + 1),
                       j -> CASE WHEN h[j] % 64 = 0 THEN j + 15 END),
        e -> e IS NOT NULL AND e < length(t)),
      length(t)) AS es
  FROM hs
),
spans AS (
  SELECT id, t, u.j AS j, es[u.j] AS e,
         CASE WHEN u.j = 1 THEN 1 ELSE es[u.j - 1] + 1 END AS s
  FROM ends, unnest(range(1, len(es) + 1)) AS u(j)
)
SELECT id, CAST(j - 1 AS BIGINT) AS chunk_no,
       CAST(e - s + 1 AS BIGINT) AS chunk_len,
       md5(substring(t, s, e - s + 1)) AS chunk_md5
FROM spans
"""


def _q_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full winnowing fingerprints (Schleimer et al. 2003): distinct
    per-window minima of the rolling k-gram hash sequence."""
    from docling_eval_spark.operators.text_analysis import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=8, w=8
    )


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2021 substring
    dedup, k-gram inverted-index form): maximal [start, end) character
    spans of normalized text whose k-grams occur in >=2 documents."""
    from docling_eval_spark.operators.text_analysis import duplicate_spans

    # spread the k-gram hashing kernel + postings write across cores
    return duplicate_spans(
        _spread(_t(spark, sf_dir, "documents")),
        "doc_id",
        "text",
        k=20,
    )


_SQL_DUP_SPANS = r"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS t
  FROM documents
),
hs AS (
  SELECT id,
    list_transform(range(1, length(t) - 18),
      i -> list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(i, i + 20),
                              j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
             (acc, x) -> (acc * 1000003 + x) % 2147483647)) AS h
  FROM norm WHERE length(t) >= 20
),
posted AS (
  SELECT id, unnest(range(1, len(h) + 1)) - 1 AS pos, unnest(h) AS hh FROM hs
),
dups AS (SELECT hh FROM posted GROUP BY hh HAVING count(DISTINCT id) >= 2),
dp AS (SELECT DISTINCT id, pos FROM posted JOIN dups USING (hh)),
isl AS (
  SELECT id, pos,
    sum(CASE WHEN pos > lag_pos + 20 THEN 1 ELSE 0 END)
      OVER (PARTITION BY id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (SELECT id, pos,
               lag(pos) OVER (PARTITION BY id ORDER BY pos) AS lag_pos
        FROM dp)
)
SELECT id, min(pos) AS span_start, max(pos) + 20 AS span_end
FROM isl GROUP BY id, island
HAVING max(pos) + 20 - min(pos) >= 20
"""


def _q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key cap (per-host crawl downsampling): keep the 5
    md5-order-first events per user — deterministic, engine-portable
    ranking (same convention as deterministic_sample)."""
    from docling_eval_spark.operators.web_ops import cap_per_key

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    return cap_per_key(ev, "user_id", "event_id", 5)


_SQL_HOST_CAP = r"""
SELECT event_id, user_id FROM (
  SELECT event_id, user_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY md5(CAST(event_id AS VARCHAR))
         ) AS rn
  FROM (SELECT event_id, user_id FROM events)
) WHERE rn <= 5
"""


def _q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant Unicode script per document (the script layer under
    language ID — half a real crawl is not Latin-script)."""
    from docling_eval_spark.operators.text_analysis import script_profile

    return script_profile(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _sql_script_profile() -> str:
    from docling_eval_spark.operators.text_analysis import SCRIPT_RANGES

    names = sorted({n for n, _, _ in SCRIPT_RANGES})
    selects = []
    for name in names:
        conds = " OR ".join(
            f"(x BETWEEN {lo} AND {hi})"
            for n, lo, hi in SCRIPT_RANGES
            if n == name
        )
        selects.append(
            f"SELECT id, '{name}' AS script, "
            f"len(list_filter(cds, x -> {conds})) AS n FROM codes"
        )
    union = "\n  UNION ALL ".join(selects)
    return f"""
WITH s AS (
  SELECT doc_id AS id, substring(text, 1, 2000) AS t FROM documents
),
codes AS (
  SELECT id, list_transform(range(1, length(t) + 1),
                            i -> unicode(substring(t, i, 1))) AS cds
  FROM s
),
counts AS (
  {union}
),
tot AS (SELECT id, sum(n) AS total FROM counts GROUP BY id),
best AS (
  SELECT id, script, n,
         row_number() OVER (PARTITION BY id ORDER BY n DESC, script ASC) AS rk
  FROM counts
)
SELECT b.id,
       CASE WHEN b.n > 0 THEN b.script ELSE 'none' END AS script,
       CASE WHEN t.total > 0 THEN round(b.n / t.total, 6) ELSE 0.0 END
         AS script_frac
FROM best b JOIN tot t USING (id) WHERE rk = 1
"""


def _q_page_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (Page et al. 1999) over the
    order→part bipartite edge list; the oracle unrolls the identical
    10 iterations as chained CTEs, which also gates the
    localCheckpoint lineage-truncation branch (the rank values must
    be unaffected by the mid-loop materializations).

    ``tol=0.0`` = exact-fixpoint early stop: the loop ends once an
    iteration reproduces the previous rank frame EXACTLY (L1 delta
    0.0 — every summand |Δ| is 0.0), after which the remaining
    iterations would recompute the identical frame, so the output
    matches the full 10-iteration unroll the oracle replays. On this
    bipartite graph every src node's rank is the constant teleport
    base from iteration 1 on (no in-edges), so dst ranks stop
    changing after iteration 2 and the stop fires at iteration 3 —
    7 of 10 iterations are provably redundant recomputation
    (measured −40% wall at sf0.1; output exceptAll-identical, oracle
    value-exact at sf0.001/0.01/0.1)."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.web_ops import page_rank

    edges = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    ranks = page_rank(edges, iterations=10, tol=0.0)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (XLM alpha-smoothing, α=0.5)
    over the lang column, budget 200 — head lang downsampled, tail
    kept; integer-exact cross-multiplied selection the oracle replays
    bit-for-bit (sqrt is IEEE-correctly-rounded in both engines)."""
    from docling_eval_spark.operators.web_ops import temperature_mix_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix_sample(d, "lang", "doc_id", budget=200, alpha=0.5)


_SQL_TEMPERATURE_MIX = r"""
WITH counts AS (SELECT lang AS k, count(*) AS n FROM documents GROUP BY lang),
sized AS (
  SELECT k, n, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS s
  FROM counts
),
tot AS (SELECT sum(s) AS stot FROM sized),
rates AS (
  SELECT k,
         CAST(stot AS HUGEINT) * CAST(n AS HUGEINT) AS den,
         CAST(2147483647 AS HUGEINT) * CAST(200 AS HUGEINT)
           * CAST(s AS HUGEINT) AS num
  FROM sized, tot
),
h AS (
  SELECT doc_id, lang,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, 33),
             i -> CAST(unicode(substring(md5(CAST(doc_id AS VARCHAR)),
                                         CAST(i AS INTEGER), 1)) AS BIGINT))),
           (a, b) -> (a * 1000003 + b) % 2147483647) AS hv
  FROM documents
)
SELECT h.doc_id, h.lang
FROM h JOIN rates r ON h.lang = r.k
WHERE CAST(h.hv AS HUGEINT) * r.den < r.num
"""


def _q_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style deterministic span corruption (block=20, span=3 →
    15 % corruption rate) over the documents table: input text with
    per-block sentinels, dropped spans as the target sequence. The
    oracle replays the per-block Horner offset and the exact splice
    token-for-token."""
    from docling_eval_spark.operators.training import span_corrupt

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return span_corrupt(d, "doc_id", "text", block=20, span=3)


_SQL_SPAN_CORRUPT = r"""
WITH toks AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS tk
  FROM documents
),
base AS (
  SELECT id, tk, len(tk) AS n,
         CASE WHEN len(tk) > 0
              THEN range(0, CAST((len(tk) - 1) // 20 AS INTEGER) + 1)
              ELSE CAST([] AS BIGINT[]) END AS blocks
  FROM toks
),
blk AS (SELECT id, n, tk, unnest(blocks) AS b FROM base),
per AS (
  SELECT id, n, b,
         list_slice(tk, b * 20 + 1, b * 20 + 20) AS btoks,
         least(n - b * 20, 20) AS blen,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(
               range(1, length(CAST(id AS VARCHAR) || ':'
                               || CAST(b AS VARCHAR)) + 1),
               j -> CAST(unicode(substring(CAST(id AS VARCHAR) || ':'
                                 || CAST(b AS VARCHAR),
                                 CAST(j AS INTEGER), 1)) AS BIGINT))),
             (acc, x) -> (acc * 1000003 + x) % 2147483647)
           % 18 AS INTEGER) AS off
  FROM blk
),
made AS (
  SELECT id, n, b,
         CASE WHEN blen >= off + 3 THEN
           list_slice(btoks, 1, off)
             || ['<extra_id_' || CAST(b AS VARCHAR) || '>']
             || list_slice(btoks, off + 4, blen)
         ELSE btoks END AS inp,
         CASE WHEN blen >= off + 3 THEN
           ['<extra_id_' || CAST(b AS VARCHAR) || '>']
             || list_slice(btoks, off + 1, off + 3)
         ELSE CAST([] AS VARCHAR[]) END AS tgt
  FROM per
),
agg AS (
  SELECT id,
         array_to_string(flatten(list(inp ORDER BY b)), ' ') AS input_text,
         array_to_string(flatten(list(tgt ORDER BY b)), ' ') AS target_text
  FROM made GROUP BY id
)
SELECT base.id AS id,
       CAST(base.n AS BIGINT) AS n_tokens,
       CAST(CASE WHEN coalesce(a.target_text, '') = '' THEN 0
            ELSE len(list_filter(string_split(a.target_text, ' '),
                     x -> NOT starts_with(x, '<extra_id_'))) END
            AS BIGINT) AS n_masked,
       coalesce(a.input_text, '') AS input_text,
       coalesce(a.target_text, '') AS target_text
FROM base LEFT JOIN agg a ON base.id = a.id
"""


def _q_term_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style bad-words gate, audit mode: per (lang, source) cell,
    documents blocked by a whole-token case-insensitive blocklist vs
    kept — the content-filter accounting a corpus release publishes."""
    from docling_eval_spark.operators.text_analysis import term_filter

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    flagged = term_filter(d, ["slow", "hash", "shuffle"], keep=True)
    return (
        flagged.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("blocked").cast("long")).alias("n_blocked"),
            F.min(F.when(F.col("blocked"), F.col("doc_id"))).alias(
                "first_blocked_id"
            ),
        )
        .orderBy("lang", "source")
    )


_SQL_TERM_FILTER = r"""
WITH f AS (
  SELECT doc_id, lang, source,
         len(list_filter(
               list_transform(
                 list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                             x -> x <> ''),
                 x -> lower(x)),
               x -> x IN ('hash', 'shuffle', 'slow'))) > 0 AS blocked
  FROM documents
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       min(CASE WHEN blocked THEN doc_id END) AS first_blocked_id
FROM f GROUP BY lang, source ORDER BY lang, source
"""


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer induction (Sennrich 2016): the first
    8 merge rules learned from the documents corpus. One corpus-scale
    counting shuffle, then every iteration runs over the small word
    table; the oracle unrolls all 8 iterations (pair counts → argmax
    with the freq-desc/lexicographic tie-break → greedy leftmost
    fold) as CTEs."""
    from docling_eval_spark.operators.bpe import bpe_train

    d = _t(spark, sf_dir, "documents").select("text")
    return bpe_train(d, merges=8)


def _sql_bpe(k: int = 8) -> str:
    parts = [
        r"""WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         chr(31) || array_to_string(
           list_transform(range(1, length(word) + 1),
             j -> substring(word, CAST(j AS INTEGER), 1)), chr(31))
           || chr(31) || '</w>' AS s
  FROM (SELECT lower(unnest(list_filter(
          string_split_regex(trim(text, ' '), '[ \t\n\r\f\v]+'),
          x -> x <> ''))) AS word FROM documents)
  GROUP BY word
)"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", s{i} AS (
  SELECT word, freq,
         list_filter(string_split(s, chr(31)), x -> x <> '') AS sy
  FROM w{i - 1}
), p{i} AS (
  SELECT struct_extract(pr, 'l') AS l, struct_extract(pr, 'r') AS r,
         CAST(sum(freq) AS BIGINT) AS freq
  FROM (SELECT freq,
          unnest(list_transform(range(1, len(sy)),
            j -> {{'l': list_extract(sy, CAST(j AS INTEGER)),
                   'r': list_extract(sy, CAST(j + 1 AS INTEGER))}})) AS pr
        FROM s{i})
  GROUP BY 1, 2
), t{i} AS (
  SELECT l, r, freq FROM p{i} ORDER BY freq DESC, l, r LIMIT 1
)"""
        )
        if i < k:
            parts.append(
                f""", w{i} AS (
  SELECT w.word AS word, w.freq AS freq,
         list_reduce(list_prepend('', w.sy),
           (acc, x) -> CASE WHEN ends_with(acc, chr(31) || t.l) AND x = t.r
                            THEN acc || x
                            ELSE acc || chr(31) || x END) AS s
  FROM s{i} w CROSS JOIN t{i} t
)"""
            )
    union = "\nUNION ALL\n".join(
        f'SELECT {i} AS "rank", l AS "left", r AS "right",'
        f' l || r AS merged, freq FROM t{i}'
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n" + union


def _q_mlm_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style deterministic MLM masking over documents: 15 %
    selection, 80/10/10 mask/random/keep, random replacements drawn
    from the top-8 corpus tokens (freq desc, token asc — computed
    first, rides as a literal). The oracle replays every per-position
    hash decision and the vocab derivation."""
    from docling_eval_spark.operators.text_analysis import tokens_col
    from docling_eval_spark.operators.training import mlm_mask

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = [
        r.w
        for r in d.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(8)
        .collect()
    ]
    return mlm_mask(d, "doc_id", vocab)


_SQL_MLM = r"""
WITH vocab AS (
  SELECT list(word ORDER BY cnt DESC, word) AS vs
  FROM (
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(list_filter(
            string_split_regex(trim(text, ' '), '[ \t\n\r\f\v]+'),
            x -> x <> '')) AS word FROM documents)
    GROUP BY word ORDER BY cnt DESC, word LIMIT 8
  )
),
docs AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS tk
  FROM documents
),
per AS (
  SELECT id, tk, unnest(range(1, len(tk) + 1)) AS i FROM docs
),
hashed AS (
  SELECT id, i, list_extract(tk, CAST(i AS INTEGER)) AS tok,
         (h0 * h0) % 2147483647 AS h
  FROM (
    SELECT id, i, tk,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(
          range(1, length(CAST(id AS VARCHAR) || ':'
                          || CAST(i AS VARCHAR)) + 1),
          j -> CAST(unicode(substring(CAST(id AS VARCHAR) || ':'
                            || CAST(i AS VARCHAR),
                            CAST(j AS INTEGER), 1)) AS BIGINT))),
        (acc, x) -> (acc * 1000003 + x) % 2147483647) AS h0
    FROM per
  )
),
decided AS (
  SELECT id, i, tok,
         h % 100 < 15 AS selected,
         (h // 100) % 10 AS branch,
         (h // 1000) % 8 + 1 AS vidx
  FROM hashed
),
masked AS (
  SELECT d.id, d.i,
         CASE WHEN NOT d.selected THEN d.tok
              WHEN d.branch < 8 THEN '[MASK]'
              WHEN d.branch = 8 THEN list_extract(v.vs, CAST(d.vidx AS INTEGER))
              ELSE d.tok END AS m,
         CASE WHEN d.selected
              THEN CAST(d.i AS VARCHAR) || ':' || d.tok END AS lb
  FROM decided d CROSS JOIN vocab v
),
agg AS (
  SELECT id,
         array_to_string(list(m ORDER BY i), ' ') AS masked_text,
         array_to_string(list(lb ORDER BY i) FILTER (lb IS NOT NULL), ' ')
           AS labels,
         CAST(count(*) FILTER (lb IS NOT NULL) AS BIGINT) AS n_selected
  FROM masked GROUP BY id
)
SELECT docs.id AS id,
       CAST(len(docs.tk) AS BIGINT) AS n_tokens,
       coalesce(a.n_selected, 0) AS n_selected,
       coalesce(a.masked_text, '') AS masked_text,
       coalesce(a.labels, '') AS labels
FROM docs LEFT JOIN agg a ON docs.id = a.id
"""


def _q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle data prep (Bavarian 2022) in PSM order over
    documents: a deterministic 50 % of docs rewritten as
    prefix/suffix/middle with sentinel tokens, the rest passed through
    — the oracle replays the apply decision and both cut points."""
    from docling_eval_spark.operators.training import fim_transform

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return fim_transform(d, "doc_id", fim_pct=50, min_tokens=4)


_SQL_FIM = r"""
WITH docs AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS tk
  FROM documents
),
keys AS (
  SELECT id, k, (h0 * h0) % 2147483647 AS h
  FROM (
    SELECT d.id AS id, u.k AS k,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(
          range(1, length(CAST(d.id AS VARCHAR) || ':fim' || u.k) + 1),
          j -> CAST(unicode(substring(CAST(d.id AS VARCHAR) || ':fim'
                            || u.k, CAST(j AS INTEGER), 1)) AS BIGINT))),
        (acc, x) -> (acc * 1000003 + x) % 2147483647) AS h0
    FROM docs d
    CROSS JOIN (SELECT unnest(['apply', 'c1', 'c2']) AS k) u
  )
),
hs AS (
  SELECT id,
         max(CASE WHEN k = 'apply' THEN h END) AS ha,
         max(CASE WHEN k = 'c1' THEN h END) AS h1,
         max(CASE WHEN k = 'c2' THEN h END) AS h2
  FROM keys GROUP BY id
),
cut AS (
  SELECT d.id, d.tk, len(d.tk) AS n, hs.ha,
         least(hs.h1 % nullif(len(d.tk) - 1, 0) + 1,
               hs.h2 % nullif(len(d.tk) - 1, 0) + 1) AS a,
         greatest(hs.h1 % nullif(len(d.tk) - 1, 0) + 1,
                  hs.h2 % nullif(len(d.tk) - 1, 0) + 1) AS b
  FROM docs d JOIN hs ON d.id = hs.id
)
SELECT id,
       CAST(n AS BIGINT) AS n_tokens,
       (ha % 100 < 50 AND n >= 4) AS fim_applied,
       CASE WHEN ha % 100 < 50 AND n >= 4 THEN
         '<fim_prefix> '
         || coalesce(array_to_string(list_slice(tk, 1, a), ' '), '')
         || ' <fim_suffix> '
         || coalesce(array_to_string(list_slice(tk, b + 1, n), ' '), '')
         || ' <fim_middle> '
         || coalesce(array_to_string(list_slice(tk, a + 1, b), ' '), '')
       ELSE array_to_string(tk, ' ') END AS output_text
FROM cut
"""


def _q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility evaluation: train 4 BPE merges on the
    corpus, encode every document with them, and report per-lang
    words / symbols / integer-micro fertility (symbols per word) —
    the standard tokenizer-quality rollup. Driver-gates bpe_encode
    end-to-end: the oracle re-learns the merges AND replays the
    greedy encode fold per word."""
    from docling_eval_spark.operators.bpe import bpe_encode, bpe_train
    from docling_eval_spark.operators.text_analysis import tokens_col

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    rules = [
        (r.left, r.right)
        for r in bpe_train(d.select("text"), merges=4).collect()
    ]
    enc = bpe_encode(d, rules)
    return (
        enc.groupBy("lang")
        .agg(
            F.sum(F.size(tokens_col("text"))).cast("long").alias("n_words"),
            F.sum(F.size(F.col("bpe_tokens"))).cast("long").alias("n_symbols"),
        )
        .withColumn(
            "fertility_micro",
            F.expr("1000000 * n_symbols DIV n_words").cast("long"),
        )
        .orderBy("lang")
    )


def _sql_bpe_fertility(k: int = 4) -> str:
    """Re-learn k merges (same CTEs as _sql_bpe) then replay the
    greedy encode fold over every word occurrence."""
    learn = _sql_bpe(k)
    learn_ctes = learn[: learn.index("\nSELECT 1 AS")]  # keep WITH chain
    parts = [
        learn_ctes,
        r""", dw AS (
  SELECT lang, lower(unnest(list_filter(
           string_split_regex(trim(text, ' '), '[ \t\n\r\f\v]+'),
           x -> x <> ''))) AS w
  FROM documents
), e0 AS (
  SELECT lang,
         chr(31) || array_to_string(
           list_transform(range(1, length(w) + 1),
             j -> substring(w, CAST(j AS INTEGER), 1)), chr(31))
           || chr(31) || '</w>' AS s
  FROM dw
)""",
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", e{i} AS (
  SELECT e.lang AS lang,
         list_reduce(list_prepend('',
             list_filter(string_split(e.s, chr(31)), x -> x <> '')),
           (acc, x) -> CASE WHEN ends_with(acc, chr(31) || t.l) AND x = t.r
                            THEN acc || x
                            ELSE acc || chr(31) || x END) AS s
  FROM e{i - 1} e CROSS JOIN t{i} t
)"""
        )
    parts.append(
        f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(list_filter(string_split(s, chr(31)), x -> x <> '')))
            AS BIGINT) AS n_symbols,
       (1000000 * CAST(sum(len(list_filter(string_split(s, chr(31)),
                                           x -> x <> ''))) AS BIGINT))
         // CAST(count(*) AS BIGINT) AS fertility_micro
FROM e{k} GROUP BY lang ORDER BY lang"""
    )
    return "".join(parts)


def _q_bitext_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate mining (CCAligned/WikiMatrix shape): en→zh
    document alignment by rare-trigram blocking (df <= 5 bounds the
    join fanout), integer-micro Jaccard scoring, deterministic top-1
    per source doc. The oracle replays blocking, scoring, and the
    tie-break."""
    from docling_eval_spark.operators.alignment import (
        align_top1,
        bitext_candidates,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    c = bitext_candidates(
        d, "doc_id", "en", "zh", max_df=5, min_shared=2, ngram=3
    )
    return align_top1(c)


_SQL_BITEXT = r"""
WITH toks AS (
  SELECT doc_id AS id, lang,
         list_transform(
           list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                       x -> x <> ''),
           x -> lower(x)) AS tk
  FROM documents
),
units AS (
  SELECT id, lang, unnest(list_distinct(
      list_transform(range(1, len(tk) - 1),
        j -> array_to_string(list_slice(tk, j, j + 2), ' ')))) AS tok
  FROM toks
),
d AS (SELECT tok FROM units GROUP BY tok HAVING count(*) <= 5),
rare AS (SELECT u.id, u.lang, u.tok FROM units u JOIN d USING (tok)),
sizes AS (SELECT id, count(*) AS n_rare FROM rare GROUP BY id),
p AS (SELECT r.id, r.lang, r.tok, s.n_rare
      FROM rare r JOIN sizes s USING (id)),
pairs AS (
  SELECT s.id AS src_id, t.id AS tgt_id,
         CAST(count(*) AS BIGINT) AS n_shared,
         any_value(s.n_rare) AS n_src, any_value(t.n_rare) AS n_tgt
  FROM p s JOIN p t ON s.tok = t.tok
  WHERE s.lang = 'en' AND t.lang = 'zh'
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT src_id, tgt_id, n_shared,
       CAST((1000000 * n_shared) // (n_src + n_tgt - n_shared) AS BIGINT)
         AS jaccard_micro
FROM pairs
QUALIFY row_number() OVER (
  PARTITION BY src_id
  ORDER BY (1000000 * n_shared) // (n_src + n_tgt - n_shared) DESC, tgt_id
) = 1
"""


def _q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style per-domain quality percentile gate: keep each
    source's top quartile by per-token classifier score, threshold
    learned per group from the integer quantile sketch. Gates the
    COMPOSED pipeline (classifier → sketch → broadcast threshold →
    filter); the oracle replays score, bucket walk, and rollup."""
    from docling_eval_spark.pipelines import quality_percentile_gate

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    g = quality_percentile_gate(d, "doc_id", "source")
    return (
        g.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.min("thr").cast("long").alias("thr_milli"),
        )
        .orderBy("grp")
    )


def _sql_quality_gate() -> str:
    from docling_eval_spark.operators.sketch import (
        qsketch_idx_sql,
        qsketch_lo_sql,
    )
    from docling_eval_spark.operators.text_analysis import lr_weights

    wlist = ", ".join(str(w) for w in lr_weights())
    return rf"""
WITH w AS (SELECT [{wlist}] AS wv),
toks AS (
  SELECT doc_id, source,
         list_transform(list_filter(
           string_split_regex(trim(text), '[ \t\n\r\f\v]+'), x -> x <> ''
         ), x -> lower(x)) AS tk
  FROM documents
),
sc AS (
  SELECT doc_id, source AS grp, CAST(len(tk) AS BIGINT) AS n_tokens,
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(tk,
      t -> wv[1 + CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, length(t) + 1),
               i -> CAST(unicode(substring(t, CAST(i AS INTEGER), 1)) AS BIGINT))),
             (a, b) -> (a * 1000003 + b) % 2147483647) % 256 AS INTEGER)])),
      (a, b) -> a + b) AS score_milli
  FROM toks, w
),
m AS (
  SELECT doc_id, grp, n_tokens,
         CASE WHEN n_tokens > 0
              THEN (score_milli + 1024 * n_tokens) // n_tokens END
           AS mean_milli
  FROM sc
),
b AS (
  SELECT grp, {qsketch_idx_sql("mean_milli", k=8)} AS idx, count(*) AS c
  FROM m WHERE n_tokens > 0 GROUP BY grp, idx
),
cum AS (
  SELECT grp, idx,
         sum(c) OVER (PARTITION BY grp ORDER BY idx) AS cum,
         sum(c) OVER (PARTITION BY grp) AS total
  FROM b
),
thr AS (
  SELECT grp, CAST({qsketch_lo_sql("min(idx)", k=8)} AS BIGINT) AS thr
  FROM cum WHERE cum * 100 >= 75 * total GROUP BY grp
)
SELECT m.grp AS grp,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN m.n_tokens > 0 AND m.mean_milli >= thr.thr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(min(thr.thr) AS BIGINT) AS thr_milli
FROM m LEFT JOIN thr ON m.grp = thr.grp
GROUP BY m.grp ORDER BY m.grp
"""


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over the order→part
    bipartite edge list, exact-integer mode: the oracle unrolls the
    identical 4 alternating updates as chained CTEs and matches
    bit-for-bit before the final round(6)."""
    from docling_eval_spark.operators.web_ops import hits

    edges = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    out = hits(edges, iterations=4)
    return out.select(
        "node", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def _sql_hits(iterations: int = 4) -> str:
    prev_h = "h0"
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""a{i} AS (
  SELECT n.node, coalesce(s.s, 0) AS auth
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(h.hub) AS s
    FROM ed e JOIN {prev_h} h ON h.node = e.src GROUP BY e.dst
  ) s USING (node)
),
h{i} AS (
  SELECT n.node, coalesce(s.s, 0) AS hub
  FROM nodes n LEFT JOIN (
    SELECT e.src AS node, sum(a.auth) AS s
    FROM ed e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
  ) s USING (node)
)"""
        )
        prev_h = f"h{i}"
    chain = ",\n".join(iters)
    k = iterations
    return f"""
WITH ed AS (
  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem
),
nodes AS (
  SELECT src AS node FROM ed UNION SELECT dst FROM ed
),
h0 AS (SELECT node, CAST(1 AS DOUBLE) AS hub FROM nodes),
{chain}
SELECT n.node,
       round(CASE WHEN (SELECT max(hub) FROM h{k}) > 0
             THEN h.hub / (SELECT max(hub) FROM h{k}) ELSE 0 END, 6) AS hub,
       round(CASE WHEN (SELECT max(auth) FROM a{k}) > 0
             THEN a.auth / (SELECT max(auth) FROM a{k}) ELSE 0 END, 6) AS auth
FROM nodes n JOIN h{k} h USING (node) JOIN a{k} a USING (node)
"""


def _sql_page_rank(iterations: int = 5, damping: float = 0.85) -> str:
    prev = "r0"
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""r{i} AS (
  SELECT n.node,
         (1 - {damping}) / (SELECT count(*) FROM nodes)
           + {damping} * coalesce(s.s, 0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT ed.dst AS node, sum(r.rank / ed.deg) AS s
    FROM ed JOIN {prev} r ON r.node = ed.src
    GROUP BY ed.dst
  ) s USING (node)
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH edges AS (
  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
r0 AS (
  SELECT node, 1.0 / (SELECT count(*) FROM nodes) AS rank FROM nodes
),
{chain}
SELECT node, round(rank, 6) AS rank FROM {prev}
"""


def _synth_budget_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for crawl_budget / budgeted_frontier: the synth
    fetch log + injected calendar-trap urls on hosts 0-6."""
    f = _synth_fetches(spark, sf_dir)
    e = _t(spark, sf_dir, "events")
    k = (F.col("event_id") % 1500) % 20
    extra = e.filter(k < 7).select(
        F.concat(
            F.lit("https://host"),
            k.cast("string"),
            F.lit(".example.com/cal?d="),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.col("ts").alias("crawl_ts"),
        F.lit("dx").alias("digest"),
    )
    return f.select("url", "crawl_ts", "digest").unionByName(extra)


def _q_budgeted_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END frontier budgeting: crawl_budget_plan produces the
    per-host allowances, cap_per_key_budget APPLIES them — each host
    keeps at most its budget of distinct urls (md5-rank order,
    engine-portable), trap hosts (budget 0) drop out entirely.
    Output: per surviving host, kept-url count + its budget."""
    from docling_eval_spark.operators.frontier import crawl_budget_plan
    from docling_eval_spark.operators.web_ops import (
        cap_per_key_budget,
        host_col,
    )

    # lazy localCheckpoint: the log feeds THREE consumers (trap
    # branch, churn branch, url listing) — without truncation each
    # re-derives the union lineage, 10 source scans in the audited
    # plan; materialized once on first use instead
    log = _synth_budget_log(spark, sf_dir).localCheckpoint(eager=False)
    # the budget plan (trap gate + churn rollup, the heavy half of the
    # lineage) feeds TWO consumers — cap_per_key_budget's join and the
    # final reporting join; pin the slim (host, budget) frame so the
    # second consumer reads the materialization instead of re-running
    # the whole plan subtree
    budgets = (
        crawl_budget_plan(log, min_urls=100, trap_ratio=5.0)
        .select("host", "budget")
        .localCheckpoint(eager=False)
    )
    urls = log.select(host_col("url").alias("host"), "url").distinct()
    kept = cap_per_key_budget(urls, budgets, "host", "url")
    return (
        kept.groupBy("host")
        .agg(F.count("*").alias("n_kept"))
        .join(budgets, "host")
        .select("host", "n_kept", "budget")
    )


def _sql_budgeted_frontier() -> str:
    return f"""
WITH budgets AS MATERIALIZED ({_sql_crawl_budget()}),
f0 AS ({_SQL_SYNTH_FETCHES}),
extra AS (
  SELECT 'https://host' || CAST((event_id % 1500) % 20 AS VARCHAR)
           || '.example.com/cal?d=' || CAST(event_id AS VARCHAR) AS url,
         ts AS crawl_ts, 'dx' AS digest
  FROM events WHERE (event_id % 1500) % 20 < 7
),
lg AS (
  SELECT url, crawl_ts, digest FROM f0
  UNION ALL SELECT url, crawl_ts, digest FROM extra
),
urls AS (
  SELECT DISTINCT
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?]+)', 2))
      AS host,
    url
  FROM lg
),
r AS (
  SELECT u.host, u.url, b.budget,
         row_number() OVER (PARTITION BY u.host ORDER BY md5(u.url)) AS rn
  FROM urls u JOIN budgets b USING (host)
)
SELECT host, CAST(count(*) AS BIGINT) AS n_kept, max(budget) AS budget
FROM r WHERE rn <= budget GROUP BY host
"""


def _q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-planning rollup: trap-gated, churn-weighted per-host
    recrawl budgets over the synthetic fetch log, with extra
    calendar-trap URLs injected on hosts 0-6 (skeleton '/cal?d') so
    the trap gate and the budget formula both discriminate. All
    integer arithmetic; the oracle recomposes skeletons, churn and the
    DIV formula bit-for-bit."""
    from docling_eval_spark.operators.frontier import crawl_budget_plan

    log = _synth_budget_log(spark, sf_dir)
    plan = crawl_budget_plan(log, min_urls=100, trap_ratio=5.0)
    # NULL→-1 sentinel (hosts never re-fetched): keeps the double
    # column hashable cross-engine, same convention as snapshot_delta
    return plan.withColumn(
        "change_rate", F.coalesce("change_rate", F.lit(-1.0))
    )


def _sql_crawl_budget() -> str:
    # deferred: _SQL_SYNTH_FETCHES is defined later in this module
    return f"""
WITH f0 AS ({_SQL_SYNTH_FETCHES}),
extra AS (
  SELECT 'https://host' || CAST((event_id % 1500) % 20 AS VARCHAR)
           || '.example.com/cal?d=' || CAST(event_id AS VARCHAR) AS url,
         ts AS crawl_ts, 'dx' AS digest
  FROM events WHERE (event_id % 1500) % 20 < 7
),
lg AS (
  SELECT url, crawl_ts, digest FROM f0
  UNION ALL SELECT url, crawl_ts, digest FROM extra
),
h AS (
  SELECT url, crawl_ts, digest,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?]+)', 2)) AS host
  FROM lg
),
n AS (SELECT DISTINCT url, host FROM h),
s AS (
  SELECT url, host,
    regexp_replace(
      regexp_extract(regexp_replace(url, '#.*$', '', 'g'),
                     '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1),
      '[0-9]+', 'N', 'g') AS pathn,
    regexp_extract(regexp_replace(url, '#.*$', '', 'g'), '\\?(.*)$', 1) AS query
  FROM n
),
k AS (
  SELECT url, host,
         pathn || '?' ||
         CASE WHEN query = '' THEN ''
              ELSE list_aggr(
                     list_sort(list_transform(
                       string_split(query, '&'),
                       p -> split_part(p, '=', 1))),
                     'string_agg', ',')
         END AS skel
  FROM s
),
traps AS (
  SELECT host,
         count(DISTINCT url) AS n_urls,
         count(DISTINCT skel) AS n_skeletons,
         (count(DISTINCT url) >= 100
          AND count(DISTINCT url) >= 5.0 * count(DISTINCT skel)) AS trap
  FROM k GROUP BY host
),
d AS (
  SELECT host,
       CASE WHEN lag(digest) OVER w IS NULL AND lag(crawl_ts) OVER w IS NULL
              THEN 'NEW'
            WHEN lag(digest) OVER w = digest THEN 'UNCHANGED'
            ELSE 'CHANGED' END AS st
  FROM h
  WINDOW w AS (PARTITION BY url ORDER BY crawl_ts, digest)
),
churn AS (
  SELECT host, count(*) AS n_fetches,
       CAST(sum(CASE WHEN st = 'CHANGED' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN st = 'UNCHANGED' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
       coalesce(round(sum(CASE WHEN st = 'CHANGED' THEN 1 ELSE 0 END)
             / CAST(nullif(sum(CASE WHEN st <> 'NEW' THEN 1 ELSE 0 END), 0)
                    AS DOUBLE), 6), -1.0) AS change_rate
  FROM d GROUP BY host
)
SELECT t.host, t.n_urls, t.n_skeletons, t.trap,
       c.n_fetches, c.n_changed, c.n_unchanged, c.change_rate,
       CAST(CASE WHEN t.trap THEN 0
                 ELSE (100 * (1 + 2 * c.n_changed))
                      // (1 + c.n_changed + c.n_unchanged) END
            AS BIGINT) AS budget
FROM traps t JOIN churn c USING (host)
"""


def _q_merge_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental recrawl MERGE (lakehouse upsert shape): base = one
    row per url from part; fresh = a batch with repeats, stale rows
    and brand-new urls from events. Only the batch aggregates; base
    joins once on the key. The oracle replays the identical
    (ts, digest) total-order winner rule via a row_number collapse +
    full-outer CASE."""
    from docling_eval_spark.operators.temporal import merge_recrawl

    p = _t(spark, sf_dir, "part")
    base = p.select(
        F.concat(F.lit("u"), F.col("p_partkey").cast("string")).alias("url"),
        (F.col("p_partkey") % 5).cast("bigint").alias("crawl_ts"),
        F.concat(F.lit("d"), (F.col("p_partkey") % 7).cast("string")).alias(
            "digest"
        ),
    )
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    fresh = e.select(
        F.concat(F.lit("u"), (F.col("event_id") % 300).cast("string")).alias(
            "url"
        ),
        (F.col("event_id") % 9).cast("bigint").alias("crawl_ts"),
        F.concat(F.lit("d"), (F.col("event_id") % 7).cast("string")).alias(
            "digest"
        ),
    )
    return merge_recrawl(base, fresh)


_SQL_MERGE_RECRAWL = """
WITH base AS (
  SELECT 'u' || CAST(p_partkey AS VARCHAR) AS url,
         CAST(p_partkey % 5 AS BIGINT) AS crawl_ts,
         'd' || CAST(p_partkey % 7 AS VARCHAR) AS digest
  FROM part
),
freshraw AS (
  SELECT 'u' || CAST(event_id % 300 AS VARCHAR) AS url,
         CAST(event_id % 9 AS BIGINT) AS crawl_ts,
         'd' || CAST(event_id % 7 AS VARCHAR) AS digest
  FROM events WHERE event_id < 2000
),
f1 AS (
  SELECT url, crawl_ts, digest FROM (
    SELECT url, crawl_ts, digest,
           row_number() OVER (
             PARTITION BY url ORDER BY crawl_ts DESC, digest DESC
           ) AS rn
    FROM freshraw
  ) WHERE rn = 1
),
m AS (
  SELECT f.url AS f_url, b.url AS b_url,
         f.crawl_ts AS f_ts, f.digest AS f_d,
         b.crawl_ts AS b_ts, b.digest AS b_d,
         f.url IS NOT NULL AND (
           b.url IS NULL
           OR (f.crawl_ts, f.digest) >= (b.crawl_ts, b.digest)
         ) AS fw
  FROM f1 f FULL OUTER JOIN base b ON f.url = b.url
)
SELECT coalesce(f_url, b_url) AS url,
       CASE WHEN fw THEN f_ts ELSE b_ts END AS crawl_ts,
       CASE WHEN fw THEN f_d ELSE b_d END AS digest,
       CASE WHEN b_url IS NULL THEN 'ADDED'
            WHEN f_url IS NULL THEN 'KEPT'
            WHEN fw AND f_d = b_d THEN 'REFRESHED'
            WHEN fw THEN 'UPDATED'
            ELSE 'STALE' END AS merge_status
FROM m
"""


def _q_extractor_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractor-vs-extractor agreement — docling-eval's converter-
    comparison discipline turned on the extraction stage itself:
    extractor A (Boilerpipe NumWordsRules, the byte-identity kernel)
    and extractor B (Readability-core link-density-only) run over the
    SAME rendered pages in one narrow map; per-doc md5s, identity
    flag, char edit distance and lengths. On the synthetic corpus the
    disagreement is analytic — B additionally keeps the linkless logo
    and copyright-footer chrome — so the DuckDB oracle reproduces
    BOTH extractions symbolically and the whole A/B pipeline is
    value-gated end-to-end (levenshtein included)."""
    from docling_eval_spark.datagen.pages import render_documents_stage
    from docling_eval_spark.extraction.stage import extract_ab_stage

    # spread the dual-parse kernels across cores
    docs = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    ab = extract_ab_stage(render_documents_stage(docs))
    return ab.select(
        "doc_id",
        "lang",
        F.md5("text_a").alias("md5_a"),
        F.md5("text_b").alias("md5_b"),
        (F.col("text_a") == F.col("text_b")).alias("identical"),
        # levenshtein over an ASCII-folded pair: DuckDB's levenshtein
        # is BYTE-based, Spark's is char-based; the A/B delta is a
        # pure ASCII prefix+suffix insertion except the 2-byte (c)
        # sign, so folding (c) -> 'C' in BOTH engines makes byte and
        # char distances provably identical without changing the
        # true char-level value.
        # Substring fast path (exact for ALL inputs): if x is a
        # substring of y then levenshtein(x, y) = |y| - |x| — an
        # insertion-only script achieves it and ||y|-|x|| is the
        # universal lower bound. contains() is a linear scan; the
        # O(n·m) DP only runs for genuinely diverged pairs. Measured
        # 9.4s -> ~0s on the bench corpus (extractor B wraps A's text
        # verbatim), value-identical by construction.
        _lev_fast(
            F.translate("text_a", "©", "C"),
            F.translate("text_b", "©", "C"),
        ).alias("edit_ab"),
        F.length("text_a").cast("bigint").alias("len_a"),
        F.length("text_b").cast("bigint").alias("len_b"),
    )


_SQL_EXTRACTOR_AGREEMENT = r"""
WITH g AS (
  SELECT doc_id, lang,
         trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'))
           || chr(10) || chr(10)
           || 'Synthetic corpus document ' || CAST(doc_id AS VARCHAR)
           || ' rendered deterministically for extraction parity checking with exactly eighteen words in this closing sentinel paragraph here.'
           AS ta
  FROM documents
),
b AS (
  SELECT doc_id, lang, ta,
         'SynthSite' || chr(10) || chr(10) || ta || chr(10) || chr(10)
           || chr(169) || ' 2024 SynthSite ' || CAST(doc_id AS VARCHAR)
           AS tb
  FROM g
)
SELECT doc_id, lang,
       md5(ta) AS md5_a, md5(tb) AS md5_b,
       ta = tb AS identical,
       CAST(levenshtein(replace(ta, chr(169), 'C'),
                        replace(tb, chr(169), 'C')) AS BIGINT) AS edit_ab,
       CAST(length(ta) AS BIGINT) AS len_a,
       CAST(length(tb) AS BIGINT) AS len_b
FROM b
"""


def _q_crawl_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection (Mercator/IRLbot budgeting signal):
    URL-skeleton collapse (digit runs → N, sorted query-param names)
    + per-host distinct-URL vs distinct-skeleton counts. The synth
    URL space mints every event a fresh path id, so hosts with >= 20
    urls flag as traps at ratio 5 — the oracle recomputes the same
    skeletons with DuckDB's regex/list engine."""
    from docling_eval_spark.operators.web_ops import crawl_trap_score

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    return crawl_trap_score(
        ev.select(_synth_url_col().alias("url")),
        min_urls=20,
        ratio=5.0,
    )


_SQL_CRAWL_TRAPS = f"""
WITH u AS (
  SELECT {_SQL_SYNTH_URL} AS url FROM events WHERE event_id < 5000
),
n AS (SELECT url, regexp_replace(url, '#.*$', '', 'g') AS nf FROM u),
s AS (
  SELECT url,
    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?]+)', 2)) AS host,
    regexp_replace(
      regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1),
      '[0-9]+', 'N', 'g') AS pathn,
    regexp_extract(nf, '\\?(.*)$', 1) AS query
  FROM n
),
k AS (
  SELECT url, host,
         pathn || '?' ||
         CASE WHEN query = '' THEN ''
              ELSE list_aggr(
                     list_sort(list_transform(
                       string_split(query, '&'),
                       p -> split_part(p, '=', 1))),
                     'string_agg', ',')
         END AS skel
  FROM s
)
SELECT host,
       count(DISTINCT url) AS n_urls,
       count(DISTINCT skel) AS n_skeletons,
       round(count(DISTINCT url) * 1.0 / count(DISTINCT skel), 6)
         AS urls_per_skeleton,
       (count(DISTINCT url) >= 20
        AND count(DISTINCT url) >= 5.0 * count(DISTINCT skel)) AS trap
FROM k GROUP BY host
"""


def _q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-link spam feature (Davison 2000) over a synthetic
    50-node host graph derived from events — dense enough that both
    reciprocated and one-way edges occur."""
    from docling_eval_spark.operators.web_ops import link_reciprocity

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    edges = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias(
            "src"
        ),
        F.concat(F.lit("h"), (F.col("event_id") % 50).cast("string")).alias(
            "dst"
        ),
    )
    return link_reciprocity(edges)


_SQL_LINK_RECIPROCITY = """
WITH e AS (
  SELECT DISTINCT 'h' || CAST(user_id % 50 AS VARCHAR) AS src,
                  'h' || CAST(event_id % 50 AS VARCHAR) AS dst
  FROM events WHERE event_id < 5000
),
ne AS (SELECT src, dst FROM e WHERE src <> dst)
SELECT a.src AS node,
       count(*) AS out_deg,
       CAST(coalesce(sum(CASE WHEN b.src IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS n_reciprocal,
       round(coalesce(sum(CASE WHEN b.src IS NOT NULL THEN 1 END), 0)
             * 1.0 / count(*), 6) AS reciprocity
FROM ne a LEFT JOIN ne b ON a.src = b.dst AND a.dst = b.src
GROUP BY a.src
"""


def _q_trust_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (Gyongyi et al. 2004): seed-teleport PageRank over
    the same order→part bipartite graph as page_rank, seeds = every
    10th part node. The oracle — which unrolls the identical
    seed-biased recurrence as 8 chained CTEs — also gates the
    lineage-truncation branch.

    ``tol=0.0`` = exact-fixpoint early stop (same contract as
    page_rank's): stop once an iteration reproduces the previous
    sparse trust vector exactly (full-outer L1 delta 0.0, absent
    rows = 0.0 — the value the final output fold gives them). On
    this graph the seeds are all sinks (p nodes never appear as
    src), so the trust vector is its own fixpoint after iteration 1
    and the stop fires at iteration 2 — 6 of 8 iterations are
    provably redundant recomputation (output exceptAll-identical,
    oracle value-exact at sf0.001/0.01/0.1)."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.web_ops import trust_rank

    edges = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(
            F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias(
                "node"
            )
        )
    )
    ranks = trust_rank(edges, seeds, iterations=8, tol=0.0)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _sql_trust_rank(iterations: int = 8, damping: float = 0.85) -> str:
    prev = "r0"
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""r{i} AS (
  SELECT t.node,
         CASE WHEN t.t > 0 THEN (1 - {damping}) * t.t ELSE 0.0 END
           + {damping} * coalesce(s.s, 0) AS rank
  FROM t LEFT JOIN (
    SELECT ed.dst AS node, sum(r.rank / ed.deg) AS s
    FROM ed JOIN {prev} r ON r.node = ed.src
    GROUP BY ed.dst
  ) s USING (node)
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH edges AS (
  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
         'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
seed_ids AS (
  SELECT DISTINCT 'p' || CAST(p_partkey AS VARCHAR) AS node
  FROM part WHERE p_partkey % 10 = 0
),
seeds AS (SELECT n.node FROM nodes n JOIN seed_ids s USING (node)),
t AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN 1.0 / (SELECT count(*) FROM seeds)
              ELSE 0.0 END AS t
  FROM nodes n LEFT JOIN seeds s USING (node)
),
r0 AS (SELECT node, t AS rank FROM t),
{chain}
SELECT node, round(rank, 6) AS rank FROM {prev}
"""


def _q_nfc_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-canonicalized text digests (UAX #15): the normalization
    every hash-based dedup runs behind; DuckDB's nfc_normalize is the
    independent implementation of the same public algorithm."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.text_analysis import (
        nfc_normalize_stage,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return nfc_normalize_stage(d, "text", out_col="nfc_text").select(
        F.col("doc_id").alias("id"),
        F.md5("nfc_text").alias("nfc_md5"),
        (F.length("nfc_text") != F.length("text")).alias("changed_len"),
    )


_SQL_NFC = r"""
SELECT doc_id AS id,
       md5(nfc_normalize(text)) AS nfc_md5,
       length(nfc_normalize(text)) != length(text) AS changed_len
FROM documents
"""


def _q_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply step of substring dedup (Lee et al. 2021): cut every
    cross-document duplicated span out of the normalized text and
    digest the survivor."""
    import pyspark.sql.functions as F

    from docling_eval_spark.operators.text_analysis import (
        cut_spans,
        duplicate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    spans = duplicate_spans(docs, "doc_id", "text", k=20)
    return cut_spans(docs, spans, "doc_id", "text").select(
        F.col("doc_id").alias("id"),
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").alias("clean_len"),
    )


_SQL_DEDUP_CLEAN = r"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS t
  FROM documents
),
hs AS (
  SELECT id,
    list_transform(range(1, length(t) - 18),
      i -> list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(i, i + 20),
                              j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
             (acc, x) -> (acc * 1000003 + x) % 2147483647)) AS h
  FROM norm WHERE length(t) >= 20
),
posted AS (
  SELECT id, unnest(range(1, len(h) + 1)) - 1 AS pos, unnest(h) AS hh FROM hs
),
dups AS (SELECT hh FROM posted GROUP BY hh HAVING count(DISTINCT id) >= 2),
dp AS (SELECT DISTINCT id, pos FROM posted JOIN dups USING (hh)),
isl AS (
  SELECT id, pos,
    sum(CASE WHEN pos > lag_pos + 20 THEN 1 ELSE 0 END)
      OVER (PARTITION BY id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (SELECT id, pos,
               lag(pos) OVER (PARTITION BY id ORDER BY pos) AS lag_pos
        FROM dp)
),
sp AS (
  SELECT id, min(pos) AS s, max(pos) + 20 AS e
  FROM isl GROUP BY id, island
  HAVING max(pos) + 20 - min(pos) >= 20
),
seg AS (
  SELECT id,
         coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 0) AS ks,
         s AS ke
  FROM sp
  UNION ALL
  SELECT sp.id, max(sp.e) AS ks, max(length(n.t)) AS ke
  FROM sp JOIN norm n USING (id) GROUP BY sp.id
),
cut AS (
  SELECT seg.id,
         string_agg(substring(n.t, ks + 1, greatest(ke - ks, 0)),
                    '' ORDER BY ks) AS clean
  FROM seg JOIN norm n ON n.id = seg.id
  GROUP BY seg.id
)
SELECT n.id,
       md5(coalesce(c.clean, n.t)) AS clean_md5,
       length(coalesce(c.clean, n.t)) AS clean_len
FROM norm n LEFT JOIN cut c ON c.id = n.id
"""


_SQL_WINNOW = r"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g')) AS t
  FROM documents
),
hs AS (
  SELECT id,
    list_transform(
      range(1, CASE WHEN length(t) >= 8 THEN length(t) - 6 ELSE 2 END),
      i -> list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(range(i, least(i + 7, length(t)) + 1),
                              j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
             (acc, x) -> (acc * 1000003 + x) % 2147483647)) AS h
  FROM norm WHERE length(t) > 0
)
SELECT DISTINCT id,
  unnest(list_transform(range(1, greatest(len(h) - 7, 1) + 1),
                        i -> list_min(h[i : i + 7]))) AS fp
FROM hs
"""


def _q_asof_latest_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (time-series operator Spark lacks as a built-in; the
    brief's canonical custom-operator example): every click event gets
    the latest error event of the same user at-or-before its
    timestamp. Oracle = DuckDB's native ASOF JOIN."""
    from docling_eval_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    j = asof_join(clicks, errors, key="user_id", ts="ts", right_cols=["err_value"])
    return j.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.round(F.coalesce("err_value_asof", F.lit(-1.0)), 6).alias("err_value"),
        F.coalesce(
            F.unix_millis(F.col("ts_asof").cast("timestamp")), F.lit(-1)
        ).alias("asof_ts_ms"),
    )


_SQL_ASOF = """
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
e AS (
  SELECT user_id, ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       epoch_ms(c.ts) AS ts_ms,
       round(coalesce(e.err_value, -1.0), 6) AS err_value,
       coalesce(epoch_ms(e.ts), -1) AS asof_ts_ms
FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts
"""


def _q_asof_dup_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join tiebreak gate: the right side carries DUPLICATE
    (user_id, ts) rows with different payloads, and asof_join must pick
    the greatest payload struct (lexicographic over right_cols)
    deterministically. Two duplicates per error event: code=1 keeps the
    raw value, code=2 halves it — lexicographic order means code wins
    first, so the code=2 row must be carried even though its err_value
    is smaller. Oracle reduces the right side to the max-struct row per
    (user_id, ts) explicitly, then runs DuckDB's native ASOF."""
    from docling_eval_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    raw = ev.filter(
        (F.col("event_type") == "error") & F.col("value").isNotNull()
    ).select("user_id", "ts", "value")
    dup = raw.select(
        "user_id",
        "ts",
        F.lit(1).cast("bigint").alias("code"),
        F.col("value").alias("err_value"),
    ).unionByName(
        raw.select(
            "user_id",
            "ts",
            F.lit(2).cast("bigint").alias("code"),
            (F.col("value") * F.lit(0.5)).alias("err_value"),
        )
    )
    j = asof_join(
        clicks, dup, key="user_id", ts="ts", right_cols=["code", "err_value"]
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.coalesce("code_asof", F.lit(-1).cast("bigint")).alias("code"),
        F.round(F.coalesce("err_value_asof", F.lit(-1.0)), 6).alias("err_value"),
        F.coalesce(
            F.unix_millis(F.col("ts_asof").cast("timestamp")), F.lit(-1)
        ).alias("asof_ts_ms"),
    )


_SQL_ASOF_DUP = """
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
raw AS (
  SELECT user_id, ts, value FROM events
  WHERE event_type = 'error' AND value IS NOT NULL
),
dup AS (
  SELECT user_id, ts, CAST(1 AS BIGINT) AS code, value AS err_value FROM raw
  UNION ALL
  SELECT user_id, ts, CAST(2 AS BIGINT) AS code, value * 0.5 AS err_value FROM raw
),
rk AS (
  SELECT user_id, ts, code, err_value,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY code DESC, err_value DESC) AS rn
  FROM dup
),
e AS (SELECT user_id, ts, code, err_value FROM rk WHERE rn = 1)
SELECT c.event_id, c.user_id,
       epoch_ms(c.ts) AS ts_ms,
       coalesce(e.code, CAST(-1 AS BIGINT)) AS code,
       round(coalesce(e.err_value, -1.0), 6) AS err_value,
       coalesce(epoch_ms(e.ts), -1) AS asof_ts_ms
FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of the stateful streaming
    operator): lag + cumulative-sum windows, one shuffle."""
    from docling_eval_spark.operators.temporal import sessionize_batch

    s = sessionize_batch(_t(spark, sf_dir, "events"), gap_sec=1800)
    return s.select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.unix_millis(F.col("start_ts").cast("timestamp")).alias("start_ms"),
        F.unix_millis(F.col("end_ts").cast("timestamp")).alias("end_ms"),
    )


_SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms
FROM s GROUP BY user_id, session_id
"""


def _synth_fetches(spark: SparkSession, sf_dir: str, with_host: bool = False) -> DataFrame:
    """Recrawl fixture: events → fetch log. url keys repeat (~N/1500
    fetches each), the content digest varies on an integer schedule so
    some recrawls change and some don't — all engine-portable integer
    arithmetic + md5."""
    ev = _t(spark, sf_dir, "events")
    p = F.col("event_id") % 1500
    host = F.concat(F.lit("host"), (p % 20).cast("string"))
    url = F.concat(
        F.lit("https://"), host, F.lit(".example.com/p/"), p.cast("string")
    )
    digest = F.md5(
        F.concat(
            p.cast("string"),
            F.lit(":"),
            ((F.col("event_id") % 7) % 3).cast("string"),
        )
    )
    cols = [url.alias("url"), F.col("ts").alias("crawl_ts"), digest.alias("digest")]
    if with_host:
        cols.append(host.alias("host"))
    return ev.select(*cols)


_SQL_SYNTH_FETCHES = """
  SELECT 'https://host' || CAST((event_id % 1500) % 20 AS VARCHAR)
           || '.example.com/p/' || CAST(event_id % 1500 AS VARCHAR) AS url,
         ts AS crawl_ts,
         md5(CAST(event_id % 1500 AS VARCHAR) || ':'
             || CAST((event_id % 7) % 3 AS VARCHAR)) AS digest,
         'host' || CAST((event_id % 1500) % 20 AS VARCHAR) AS host
  FROM events
"""


def _q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL recrawl change detection (NEW/CHANGED/UNCHANGED): one
    window lag per url — a single hash shuffle, O(1) window state."""
    from docling_eval_spark.operators.temporal import snapshot_delta

    d = snapshot_delta(_synth_fetches(spark, sf_dir))
    return d.select(
        "url",
        F.unix_millis(F.col("crawl_ts").cast("timestamp")).alias("crawl_ms"),
        "digest",
        # NULL→-1: a nullable BIGINT column degrades to float64 (NaN)
        # in the comparator's fetch, so keep the sentinel integral
        F.coalesce(
            F.unix_millis(F.col("prev_ts").cast("timestamp")), F.lit(-1)
        ).alias("prev_ms"),
        "prev_digest",
        "change_status",
    )


_SQL_SNAPSHOT_DELTA = f"""
WITH f AS ({_SQL_SYNTH_FETCHES})
SELECT url, epoch_ms(crawl_ts) AS crawl_ms, digest,
       coalesce(epoch_ms(lag(crawl_ts) OVER w), -1) AS prev_ms,
       lag(digest) OVER w AS prev_digest,
       CASE WHEN lag(digest) OVER w IS NULL AND lag(crawl_ts) OVER w IS NULL
              THEN 'NEW'
            WHEN lag(digest) OVER w = digest THEN 'UNCHANGED'
            ELSE 'CHANGED' END AS change_status
FROM f
WINDOW w AS (PARTITION BY url ORDER BY crawl_ts, digest)
"""


def _q_snapshot_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host recrawl churn rollup: delta window + one map-side-
    combining hash agg."""
    from docling_eval_spark.operators.temporal import snapshot_churn

    return snapshot_churn(_synth_fetches(spark, sf_dir, with_host=True), host="host")


_SQL_SNAPSHOT_CHURN = f"""
WITH f AS ({_SQL_SYNTH_FETCHES}),
d AS (
  SELECT host,
       CASE WHEN lag(digest) OVER w IS NULL AND lag(crawl_ts) OVER w IS NULL
              THEN 'NEW'
            WHEN lag(digest) OVER w = digest THEN 'UNCHANGED'
            ELSE 'CHANGED' END AS change_status
  FROM f
  WINDOW w AS (PARTITION BY url ORDER BY crawl_ts, digest)
)
SELECT host, count(*) AS n_fetches,
       CAST(sum(CASE WHEN change_status = 'NEW' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN change_status = 'CHANGED' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN change_status = 'UNCHANGED' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
       round(sum(CASE WHEN change_status = 'CHANGED' THEN 1 ELSE 0 END)
             / CAST(nullif(sum(CASE WHEN change_status <> 'NEW' THEN 1 ELSE 0 END), 0)
                    AS DOUBLE), 6) AS change_rate
FROM d GROUP BY host
"""


def _q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus vocabulary statistics: explode → term-
    frequency hash agg (map-side combine) → per-group reduction."""
    from docling_eval_spark.operators.text_analysis import vocab_stats

    return vocab_stats(_t(spark, sf_dir, "documents"), group_col="lang")


_SQL_VOCAB_STATS = r"""
WITH tok AS (
  SELECT lang, lower(t) AS tok
  FROM documents,
       unnest(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                          x -> x <> '')) AS u(t)
),
tf AS (SELECT lang, tok, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT lang,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS hapax_ratio,
       max(c) AS top_freq
FROM tf GROUP BY lang
"""


def _q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve at 16 md5-permutation
    checkpoints: one per-token min-epoch hash agg (the only wide
    shuffle, map-side combined) + ≤16-row rollup and cumsum window."""
    from docling_eval_spark.operators.text_analysis import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"))


_SQL_VOCAB_GROWTH = r"""
WITH d AS (
  SELECT CAST(strpos('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
              AS INTEGER) AS epoch,
         list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS toks
  FROM documents
),
doc_agg AS (
  SELECT epoch, count(*) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         CAST(0 AS BIGINT) AS new_types
  FROM d GROUP BY epoch
),
first_seen AS (
  SELECT epoch, CAST(0 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_tokens,
         count(*) AS new_types
  FROM (
    SELECT min(epoch) AS epoch
    FROM d, unnest(toks) AS u(t)
    GROUP BY lower(t)
  ) GROUP BY epoch
),
per_epoch AS (
  SELECT epoch, CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(new_types) AS BIGINT) AS new_types
  FROM (SELECT * FROM doc_agg UNION ALL SELECT * FROM first_seen)
  GROUP BY epoch
)
SELECT epoch, n_docs, n_tokens, new_types,
       CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(sum(new_types) OVER w AS BIGINT) AS cum_types,
       round(sum(new_types) OVER w / CAST(sum(n_tokens) OVER w AS DOUBLE), 6)
         AS cum_ttr
FROM per_epoch
WINDOW w AS (ORDER BY epoch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking + per-category counts: pure regexp column algebra,
    zero shuffle. Fixture plants one email/IP/phone per doc_id%4
    residue so every pattern and the no-PII path are exercised."""
    from docling_eval_spark.operators.text_analysis import pii_scrub

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" contact a"), did.cast("string"), F.lit("@mail.example.com now")
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.lit(" origin 10."), (did % 256).cast("string"), F.lit(".0.1 replied")
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.lit(" call +1415555"),
                (did % 10).cast("string"),
                F.lit("0"),
                (did % 7).cast("string"),
            ),
        )
        .otherwise(F.lit("")),
    )
    return pii_scrub(d.select("doc_id", planted.alias("text"))).select(
        "doc_id", "scrubbed_text", "n_emails", "n_ips", "n_phones"
    )


_SQL_PII = r"""
WITH aug AS (
  SELECT doc_id,
    text || CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN ' contact a' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
      WHEN 1 THEN ' origin 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 replied'
      WHEN 2 THEN ' call +1415555' || CAST(doc_id % 10 AS VARCHAR) || '0'
                   || CAST(doc_id % 7 AS VARCHAR)
      ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
    '\+[0-9][0-9()\ .-]{6,14}[0-9]', '<PHONE>', 'g') AS scrubbed_text,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
       AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
       AS INTEGER) AS n_ips,
  CAST(len(regexp_extract_all(t, '\+[0-9][0-9()\ .-]{6,14}[0-9]'))
       AS INTEGER) AS n_phones
FROM aug
"""


def _q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain blocklist flag: broadcast join on eTLD+1 —
    the pages side never shuffles."""
    from docling_eval_spark.operators.web_ops import blocklist_filter

    ev = _t(spark, sf_dir, "events")
    pages = ev.select(
        "event_id",
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 5).cast("string"),
            F.lit(".site"),
            (F.col("event_id") % 7).cast("string"),
            F.lit(".com/p/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
    )
    blocked = spark.createDataFrame(
        [("site0.com",), ("site3.com",)], "domain string"
    )
    return blocklist_filter(pages, blocked)


_SQL_BLOCKLIST = """
SELECT event_id,
  'https://h' || CAST(user_id % 5 AS VARCHAR) || '.site'
    || CAST(event_id % 7 AS VARCHAR) || '.com/p/'
    || CAST(event_id AS VARCHAR) AS url,
  (event_id % 7) IN (0, 3) AS blocked
FROM events
"""


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates: sketch the whole corpus
    into 3x512 counters (ONE bounded-key shuffle — the exchange carries
    counters, never tokens), then point-estimate every distinct token
    of the first 20 docs via a broadcast join against the sketch."""
    from docling_eval_spark.operators.sketch import cms_build, cms_estimate
    from docling_eval_spark.operators.text_analysis import tokens_col

    d = _t(spark, sf_dir, "documents")
    sketch = cms_build(d, depth=3, width=512)
    cand = d.filter(F.col("doc_id") < 20).select(
        F.explode(tokens_col("text")).alias("term")
    )
    return cms_estimate(sketch, cand, depth=3, width=512)


_SQL_CMS = r"""
WITH tok AS (
  SELECT lower(t) AS tok
  FROM documents,
       unnest(list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\v]+'),
                          x -> x <> '')) AS u(t)
),
h AS (
  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(tok) + 1),
                          j -> CAST(unicode(substring(tok, j, 1)) AS BIGINT))),
           (acc, x) -> (acc * 1000003 + x) % 2147483647) AS bh
  FROM tok
),
sk AS (
  SELECT d, idx, count(*) AS c FROM (
    SELECT 0 AS d, ((bh * 999983 + 17) % 2147483647) % 512 AS idx FROM h
    UNION ALL
    SELECT 1, ((bh * 1000003 + 257) % 2147483647) % 512 FROM h
    UNION ALL
    SELECT 2, ((bh * 524287 + 65537) % 2147483647) % 512 FROM h
  ) GROUP BY d, idx
),
cand AS (
  SELECT DISTINCT lower(t) AS term
  FROM documents,
       unnest(list_filter(string_split_regex(trim(text, ' '), '[ \t\n\r\f\v]+'),
                          x -> x <> '')) AS u(t)
  WHERE doc_id < 20
),
ch AS (
  SELECT term, list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(term) + 1),
                          j -> CAST(unicode(substring(term, j, 1)) AS BIGINT))),
           (acc, x) -> (acc * 1000003 + x) % 2147483647) AS bh
  FROM cand
),
cells AS (
  SELECT term, 0 AS d, ((bh * 999983 + 17) % 2147483647) % 512 AS idx FROM ch
  UNION ALL
  SELECT term, 1, ((bh * 1000003 + 257) % 2147483647) % 512 FROM ch
  UNION ALL
  SELECT term, 2, ((bh * 524287 + 65537) % 2147483647) % 512 FROM ch
)
SELECT cells.term, min(coalesce(sk.c, 0)) AS est
FROM cells LEFT JOIN sk ON sk.d = cells.d AND sk.idx = cells.idx
GROUP BY cells.term
"""


def _q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current corpus view after recrawls: one max-struct hash agg per
    url (map-side combine; no window sort)."""
    from docling_eval_spark.operators.temporal import latest_snapshot

    cur = latest_snapshot(_synth_fetches(spark, sf_dir))
    return cur.select(
        "url",
        F.unix_millis(F.col("crawl_ts").cast("timestamp")).alias("crawl_ms"),
        "digest",
    )


_SQL_LATEST_SNAPSHOT = f"""
WITH f AS ({_SQL_SYNTH_FETCHES})
SELECT url,
       epoch_ms(max(struct_pack(crawl_ts := crawl_ts, digest := digest)).crawl_ts)
         AS crawl_ms,
       max(struct_pack(crawl_ts := crawl_ts, digest := digest)).digest AS digest
FROM f GROUP BY url
"""


def _q_web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSED crawl-ingest pipeline (latest view → blocklist → PII →
    entropy), gated end-to-end — the web-table sibling of clean_corpus."""
    from docling_eval_spark.pipelines import web_ingest

    ev = _t(spark, sf_dir, "events")
    p = F.col("event_id") % 1200
    url = F.concat(
        F.lit("https://h"),
        (p % 11).cast("string"),
        F.lit(".site"),
        (p % 7).cast("string"),
        F.lit(".com/p/"),
        p.cast("string"),
    )
    text = F.concat(
        F.substring("props", 1, 64),
        F.when(
            p % 3 == 0,
            F.concat(F.lit(" mail u"), p.cast("string"), F.lit("@ex.com")),
        )
        .when(p % 3 == 1, F.lit(" ip 10.1.2.3"))
        .otherwise(F.lit("")),
    )
    fetches = ev.select(
        url.alias("url"), F.col("ts").alias("crawl_ts"), text.alias("text")
    )
    blocked = spark.createDataFrame([("site2.com",)], "domain string")
    out = web_ingest(fetches, blocked)
    return out.select(
        "url",
        F.unix_millis(F.col("crawl_ts").cast("timestamp")).alias("crawl_ms"),
        "scrubbed_text",
        "n_emails",
        "n_ips",
        "n_phones",
        "entropy",
    )


_SQL_WEB_INGEST = r"""
WITH f AS (
  SELECT 'https://h' || CAST((event_id % 1200) % 11 AS VARCHAR)
           || '.site' || CAST((event_id % 1200) % 7 AS VARCHAR)
           || '.com/p/' || CAST(event_id % 1200 AS VARCHAR) AS url,
         ts AS crawl_ts,
         substring(props, 1, 64) || CASE CAST((event_id % 1200) % 3 AS INTEGER)
           WHEN 0 THEN ' mail u' || CAST(event_id % 1200 AS VARCHAR) || '@ex.com'
           WHEN 1 THEN ' ip 10.1.2.3' ELSE '' END AS text
  FROM events
),
latest AS (
  SELECT url,
    max(struct_pack(crawl_ts := crawl_ts, text := text)).crawl_ts AS crawl_ts,
    max(struct_pack(crawl_ts := crawl_ts, text := text)).text AS text
  FROM f GROUP BY url
),
unblocked AS (
  SELECT * FROM latest
  WHERE CAST(regexp_extract(url, '\.site([0-9]+)\.com', 1) AS INTEGER) <> 2
),
scrub AS (
  SELECT url, crawl_ts,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
        '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
      '\+[0-9][0-9()\ .-]{6,14}[0-9]', '<PHONE>', 'g') AS scrubbed_text,
    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         AS INTEGER) AS n_emails,
    CAST(len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))
         AS INTEGER) AS n_ips,
    CAST(len(regexp_extract_all(text, '\+[0-9][0-9()\ .-]{6,14}[0-9]'))
         AS INTEGER) AS n_phones
  FROM unblocked
),
ch AS (
  SELECT url, crawl_ts, scrubbed_text, n_emails, n_ips, n_phones,
    list_transform(range(1, length(substring(scrubbed_text, 1, 2000)) + 1),
                   j -> substring(substring(scrubbed_text, 1, 2000), j, 1)) AS chars
  FROM scrub
)
SELECT url, epoch_ms(crawl_ts) AS crawl_ms, scrubbed_text,
       n_emails, n_ips, n_phones,
  CASE WHEN len(chars) > 0 THEN
    round(
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(list_distinct(chars),
          c -> CAST(len(list_filter(chars, x -> x = c)) AS BIGINT)
               * CAST(round(ln(CAST(len(chars) AS DOUBLE)
                               / len(list_filter(chars, x -> x = c)))
                            * 1000000) AS BIGINT))),
        (a, b) -> a + b)
      / CAST(len(chars) AS DOUBLE) / 1000000, 6)
  ELSE 0.0 END AS entropy
FROM ch
"""


def _q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing: deterministic md5-order selection up to a
    per-source token budget (src0/src2/src3 truncate, src1 keeps all,
    the other 16 sources are dropped)."""
    from docling_eval_spark.operators.text_analysis import token_count_col
    from docling_eval_spark.operators.web_ops import token_budget_sample

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        token_count_col("text").cast("long").alias("n_tokens"),
    )
    return token_budget_sample(
        d, {"src0": 600, "src1": 100000, "src2": 400, "src3": 750}
    )


_SQL_TOKEN_BUDGET = r"""
WITH t AS (
  SELECT doc_id, source,
    CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                         x -> x <> '')) AS BIGINT) AS n_tokens,
    md5(CAST(doc_id AS VARCHAR)) AS ord
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2', 'src3')
),
b AS (
  SELECT t.*, CASE source WHEN 'src0' THEN 600 WHEN 'src1' THEN 100000
                          WHEN 'src2' THEN 400 ELSE 750 END AS budget
  FROM t
),
c AS (
  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY ord, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM b
)
SELECT doc_id, source, n_tokens FROM c WHERE cum <= budget
"""


def _q_crawl_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host daily fetch/url rollup over tumbling windows (the
    streaming-compatible F.window expression, batch-gated here)."""
    from docling_eval_spark.operators.temporal import crawl_rate

    r = crawl_rate(_synth_fetches(spark, sf_dir, with_host=True))
    return r.select(
        "host",
        F.unix_millis(F.col("window_start")).alias("day_ms"),
        "n_fetches",
        "n_urls",
    )


_SQL_CRAWL_RATE = f"""
WITH f AS ({_SQL_SYNTH_FETCHES})
SELECT host, epoch_ms(date_trunc('day', crawl_ts)) AS day_ms,
       count(*) AS n_fetches, count(DISTINCT url) AS n_urls
FROM f GROUP BY host, date_trunc('day', crawl_ts)
"""


def _q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-sentence removal: zero-shuffle narrow map.
    Fixture plants a triple-repeated CTA (even docs) and a separated
    repeat (odd docs) so both adjacency patterns are exercised."""
    from docling_eval_spark.operators.text_analysis import dedup_sentences_col

    d = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.substring("text", 1, 120),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit(" Subscribe today! Subscribe today! Subscribe today!"),
        ).otherwise(
            F.lit(" All rights reserved. Unique tail here. All rights reserved.")
        ),
    )
    return d.select(
        "doc_id", dedup_sentences_col(planted).alias("deduped")
    )


_SQL_SENTENCE_DEDUP = r"""
WITH aug AS (
  SELECT doc_id,
    substring(text, 1, 120) || CASE WHEN doc_id % 2 = 0
      THEN ' Subscribe today! Subscribe today! Subscribe today!'
      ELSE ' All rights reserved. Unique tail here. All rights reserved.'
    END AS t
  FROM documents
),
sp AS (
  SELECT doc_id,
    list_filter(
      list_transform(
        string_split(regexp_replace(t, '([.!?])\s+', '\1' || chr(1), 'g'),
                     chr(1)),
        s -> trim(s)),
      s -> s <> '') AS ss
  FROM aug
)
SELECT doc_id,
  array_to_string(list_filter(ss, (s, i) -> list_position(ss, s) = i), ' ')
    AS deduped
FROM sp
"""


def _q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc char-distribution entropy (nats/char): zero-shuffle
    narrow map; micro-nat integer quantization keeps it engine-exact."""
    from docling_eval_spark.operators.text_analysis import char_entropy_col

    # spread the per-char histogram HOFs across cores
    d = _spread(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", char_entropy_col("text").alias("entropy"))


_SQL_CHAR_ENTROPY = r"""
WITH ch AS (
  SELECT doc_id,
    list_transform(range(1, length(substring(text, 1, 2000)) + 1),
                   j -> substring(substring(text, 1, 2000), j, 1)) AS chars
  FROM documents
)
SELECT doc_id,
  CASE WHEN len(chars) > 0 THEN
    round(
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(list_distinct(chars),
          c -> CAST(len(list_filter(chars, x -> x = c)) AS BIGINT)
               * CAST(round(ln(CAST(len(chars) AS DOUBLE)
                               / len(list_filter(chars, x -> x = c)))
                            * 1000000) AS BIGINT))),
        (a, b) -> a + b)
      / CAST(len(chars) AS DOUBLE) / 1000000, 6)
  ELSE 0.0 END AS entropy
FROM ch
"""


def _q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-distance outlier flags per label: every cross-partition
    aggregate is over BIGINTs (quantized vectors, exact integer
    centroid sums, quantized distances) so the result is identical
    across partitionings — the full-width vectors never shuffle."""
    from docling_eval_spark.operators.similarity import embedding_outliers

    return embedding_outliers(_t(spark, sf_dir, "embeddings"))


_SQL_EMBEDDING_OUTLIERS = r"""
WITH q AS (
  SELECT vec_id, label,
    list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
),
dims AS (
  SELECT label, j, sum(q[j]) AS s, count(*) AS n
  FROM q, unnest(range(1, 65)) AS r(j)
  GROUP BY label, j
),
cent AS (
  SELECT label, list(s ORDER BY j) AS S, max(n) AS n FROM dims GROUP BY label
),
scored AS (
  SELECT vec_id, q.label,
    CAST(round(sqrt(list_reduce(list_prepend(0.0,
          list_transform(range(1, 65),
            j -> CAST(q[j] * n - S[j] AS DOUBLE)
                 * CAST(q[j] * n - S[j] AS DOUBLE))),
          (a, b) -> a + b)) / n) AS BIGINT) AS dist_milli
  FROM q JOIN cent ON q.label = cent.label
),
stats AS (
  SELECT label, sum(dist_milli) AS sd,
         sum(dist_milli * dist_milli) AS sd2, count(*) AS cnt
  FROM scored GROUP BY label
)
SELECT vec_id, scored.label, dist_milli,
  round(sd / CAST(cnt AS DOUBLE), 6) AS group_mean,
  round(sqrt(greatest(sd2 / CAST(cnt AS DOUBLE)
                      - (sd / CAST(cnt AS DOUBLE)) * (sd / CAST(cnt AS DOUBLE)),
                      0.0)), 6) AS group_std,
  dist_milli > sd / CAST(cnt AS DOUBLE)
               + sqrt(greatest(sd2 / CAST(cnt AS DOUBLE)
                               - (sd / CAST(cnt AS DOUBLE))
                                 * (sd / CAST(cnt AS DOUBLE)), 0.0)) * 3.0
    AS is_outlier
FROM scored JOIN stats ON scored.label = stats.label
"""


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docling_eval_spark.operators.dedup import minhash_dedup_pairs

    # spread the CPU-heavy shingling across cores AFTER the twin
    # union, so the shingle kernel runs one core-count stage instead
    # of 2× core-count concatenated partitions.
    d = _t(spark, sf_dir, "documents")
    dup = _spread(
        d.select("doc_id", "text").unionByName(
            d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
    )
    return minhash_dedup_pairs(dup, "doc_id", threshold=0.7).select(
        "id_l", "id_r", F.round("jaccard", 6).alias("jaccard")
    )


def _q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: connected components (min-label propagation,
    6 unrolled iterations) over the minhash near-dup pair graph — the
    transitive-closure apply step that turns similar PAIRS into
    dedup GROUPS. The oracle recomputes the identical pair graph
    (bit-for-bit minhash signatures) and unrolls the same 6
    label-propagation iterations as CTEs."""
    from docling_eval_spark.operators.dedup import minhash_dedup_pairs
    from docling_eval_spark.operators.web_ops import connected_components

    d = _t(spark, sf_dir, "documents")
    dup = _spread(
        d.select("doc_id", "text").unionByName(
            d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
    )
    pairs = minhash_dedup_pairs(dup, "doc_id", threshold=0.7)
    return connected_components(
        pairs, "id_l", "id_r", iterations=6
    ).select("node", "component")


def _q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster canonicalization: minhash pairs → connected components
    → elect the BEST copy per group (max (n_chars, id) — quality-
    first, deterministic tie-break) instead of first-occurrence-wins.
    The oracle recomputes the bit-exact pair graph, unrolls the same
    6 label-propagation iterations, then replays the election as a
    row_number window."""
    from docling_eval_spark.operators.dedup import (
        elect_survivors,
        minhash_dedup_pairs,
    )
    from docling_eval_spark.operators.web_ops import connected_components

    d = _t(spark, sf_dir, "documents")
    dup = _spread(
        d.select("doc_id", "text", "n_chars").unionByName(
            d.select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text", "n_chars"
            )
        )
    )
    pairs = minhash_dedup_pairs(dup, "doc_id", threshold=0.7)
    comp = connected_components(pairs, "id_l", "id_r", iterations=6)
    scores = dup.select(
        F.col("doc_id").alias("node"), F.col("n_chars").alias("score")
    )
    return elect_survivors(comp.select("node", "component"), scores)


def _sql_cluster_survivors() -> str:
    return f"""
WITH comp AS MATERIALIZED ({_sql_near_dup_components()}),
scores AS (
  SELECT doc_id AS node, n_chars AS score FROM documents
  UNION ALL SELECT doc_id + 100000 AS node, n_chars FROM documents
),
j AS (
  SELECT c.component, c.node, s.score
  FROM comp c JOIN scores s USING (node)
),
r AS (
  SELECT component, node, score,
         row_number() OVER (
           PARTITION BY component ORDER BY score DESC, node DESC
         ) AS rn,
         count(*) OVER (PARTITION BY component) AS n_members
  FROM j
)
SELECT component, node AS survivor, score AS survivor_score, n_members
FROM r WHERE rn = 1
"""


def _sql_near_dup_components(iterations: int = 6) -> str:
    prev = "c0"
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""c{i} AS (
  SELECT node, min(component) AS component FROM (
    SELECT u.b AS node, c.component FROM und u JOIN {prev} c ON c.node = u.a
    UNION ALL SELECT node, component FROM {prev}
  ) GROUP BY node
)"""
        )
        prev = f"c{i}"
    chain = ",\n".join(iters)
    # AS MATERIALIZED: DuckDB inlines multiply-referenced CTEs by
    # default, which would recompute the minhash pair graph once per
    # unrolled iteration — force one evaluation
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT id_l, id_r FROM ({_sql_minhash_pairs()})
),
und AS MATERIALIZED (
  SELECT id_l AS a, id_r AS b FROM pairs
  UNION ALL SELECT id_r AS a, id_l AS b FROM pairs
),
c0 AS (SELECT DISTINCT a AS node, a AS component FROM und),
{chain}
SELECT node, component FROM {prev}
"""


def _q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental minhash dedup: NEW docs (ids +100000, same texts —
    guaranteed est=1.0 self-collisions plus organic near-dups) against
    the existing signature store. Only new×all band collisions join;
    old×old pairs never re-emit — the continuously-ingesting-corpus
    shape. Oracle recomputes signatures/bands and replicates the
    new-side join + estimate threshold."""
    from docling_eval_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    d = _spread(_t(spark, sf_dir, "documents"))
    store = minhash_signatures(
        d.select(F.col("doc_id").alias("id"), "text"), "id"
    )
    new = minhash_signatures(
        d.select((F.col("doc_id") + 100000).alias("id"), "text"), "id"
    )
    return minhash_incremental_pairs(new, store, threshold=0.7).select(
        "id_l", "id_r", "est"
    )


def _sql_minhash_incremental() -> str:
    """Oracle for _q_minhash_incremental: same seed-1 coefficients and
    md5 banding as _sql_minhash_pairs; candidate join restricted to
    new-side (id >= 100000) rows vs all, estimate = matching minima /
    30 >= 0.7."""
    from docling_eval_spark.operators.dedup import _perm_coeffs

    mins = ",\n      ".join(
        f"coalesce(list_min(list_transform(sh, x -> ((x * {a}) % {_POLY_P} + {b}) % {_POLY_P})), {_POLY_P})"
        for a, b in _perm_coeffs(30, seed=1)
    )
    return rf"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS t
  FROM documents
),
dup AS (
  SELECT id, t FROM norm UNION ALL SELECT id + 100000 AS id, t FROM norm
),
codes AS (
  SELECT id,
    CASE WHEN length(t) = 0 THEN CAST([] AS BIGINT[]) ELSE
      list_distinct(list_transform(
        range(1, CASE WHEN length(t) >= 5 THEN length(t) - 3 ELSE 2 END),
        i -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(i, least(i + 4, length(t)) + 1),
                                j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
               (acc, x) -> (acc * {_POLY_B1} + x) % {_POLY_P})))
    END AS sh
  FROM dup
),
sigs AS (
  SELECT id, [
      {mins}
  ] AS sig
  FROM codes
),
bands AS (
  SELECT id, b.b AS band,
         md5(array_to_string(list_slice(sig, b.b * 5 + 1, b.b * 5 + 5), ',')) AS band_hash
  FROM sigs, (SELECT unnest(range(0, 6)) AS b) b
),
bucket_sizes AS (
  SELECT band, band_hash, count(*) AS n FROM bands GROUP BY band, band_hash
),
cand AS (
  SELECT DISTINCT least(n.id, a.id) AS id_l, greatest(n.id, a.id) AS id_r
  FROM bands n
  JOIN bands a ON n.band = a.band AND n.band_hash = a.band_hash AND n.id <> a.id
  JOIN bucket_sizes s ON s.band = n.band AND s.band_hash = n.band_hash
  WHERE n.id >= 100000 AND s.n <= 1000
),
est AS (
  SELECT c.id_l, c.id_r,
         len(list_filter(range(1, 31), i -> sl.sig[i] = sr.sig[i])) / 30.0 AS est
  FROM cand c
  JOIN sigs sl ON sl.id = c.id_l
  JOIN sigs sr ON sr.id = c.id_r
)
SELECT id_l, id_r, round(est, 6) AS est
FROM est WHERE est >= 0.7
"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate runs the portable dual-polynomial token hash (DuckDB
    recomputes it bit-for-bit); production default is xxhash64 —
    bench.py times that path separately as simhash_prod."""
    from docling_eval_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), "doc_id", portable=True)


# DuckDB twins of the portable-hash dedup family. The shingle/token
# hashes are polynomial mod 2^31-1 over code points — identical integer
# sequences in both engines (same trick as _SQL_FINGERPRINT), so the
# whole MinHash→LSH→verify and SimHash pipelines are value-exact.

_POLY_P = 2147483647
_POLY_B1 = 1000003
_POLY_B2 = 1000033


def _sql_minhash_pairs() -> str:
    """Oracle for _q_minhash_pairs: same coefficients (seed 1), same
    banding (30 perms / 6 bands), same 0.5 estimate prefilter and 0.7
    exact-Jaccard threshold, same ≤1000 bucket cap."""
    from docling_eval_spark.operators.dedup import _perm_coeffs

    mins = ",\n      ".join(
        f"coalesce(list_min(list_transform(sh, x -> ((x * {a}) % {_POLY_P} + {b}) % {_POLY_P})), {_POLY_P})"
        for a, b in _perm_coeffs(30, seed=1)
    )
    return rf"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g'), ' ') AS t
  FROM documents
),
dup AS (
  SELECT id, t FROM norm UNION ALL SELECT id + 100000 AS id, t FROM norm
),
codes AS (
  SELECT id,
    CASE WHEN length(t) = 0 THEN CAST([] AS BIGINT[]) ELSE
      list_distinct(list_transform(
        range(1, CASE WHEN length(t) >= 5 THEN length(t) - 3 ELSE 2 END),
        i -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(i, least(i + 4, length(t)) + 1),
                                j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
               (acc, x) -> (acc * {_POLY_B1} + x) % {_POLY_P})))
    END AS sh
  FROM dup
),
sigs AS (
  SELECT id, [
      {mins}
  ] AS sig
  FROM codes
),
bands AS (
  SELECT id, b.b AS band,
         md5(array_to_string(list_slice(sig, b.b * 5 + 1, b.b * 5 + 5), ',')) AS band_hash
  FROM sigs, (SELECT unnest(range(0, 6)) AS b) b
),
bucket_sizes AS (
  SELECT band, band_hash, count(*) AS n FROM bands GROUP BY band, band_hash
),
cand AS (
  SELECT DISTINCT l.id AS id_l, r.id AS id_r
  FROM bands l
  JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash AND l.id < r.id
  JOIN bucket_sizes s ON s.band = l.band AND s.band_hash = l.band_hash
  WHERE s.n <= 1000
),
est AS (
  SELECT c.id_l, c.id_r
  FROM cand c
  JOIN sigs sl ON sl.id = c.id_l
  JOIN sigs sr ON sr.id = c.id_r
  WHERE len(list_filter(range(1, 31), i -> sl.sig[i] = sr.sig[i])) / 30.0 >= 0.5
),
jac AS (
  SELECT e.id_l, e.id_r,
         len(list_intersect(cl.sh, cr.sh)) AS inter,
         len(cl.sh) + len(cr.sh) - len(list_intersect(cl.sh, cr.sh)) AS un
  FROM est e
  JOIN codes cl ON cl.id = e.id_l
  JOIN codes cr ON cr.id = e.id_r
)
SELECT id_l, id_r,
       round(inter * 1.0 / un, 6) AS jaccard
FROM jac
WHERE un > 0 AND inter * 1.0 / un >= 0.7
"""


_SQL_SIMHASH = rf"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g')) AS t
  FROM documents
),
toks AS (
  SELECT id, list_filter(string_split(t, ' '), x -> x <> '') AS tk FROM norm
),
hs AS (
  SELECT id, list_transform(tk, w ->
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(w) + 1),
                       j -> CAST(unicode(substring(w, j, 1)) AS BIGINT))),
        (acc, x) -> (acc * {_POLY_B1} + x) % {_POLY_P})
    + 2147483648 * list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(w) + 1),
                       j -> CAST(unicode(substring(w, j, 1)) AS BIGINT))),
        (acc, x) -> (acc * {_POLY_B2} + x) % {_POLY_P})
  ) AS hashes
  FROM toks
)
SELECT id,
  CASE WHEN len(hashes) = 0 THEN CAST(0 AS BIGINT) ELSE
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 62), b ->
      CASE WHEN list_sum(list_transform(hashes,
                   h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
      (a, x) -> a + x)
  END AS simhash
FROM hs
"""


def _q_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table: distinct event ids per event type
    sketched into 2^6 registers per key. ONE bounded-key shuffle
    (|event types| x 64 max-rank cells, map-side combine); the
    register table merges across days by the same max — the mergeable
    daily-distinct rollup a 100 TB crawl ledger needs instead of a
    COUNT(DISTINCT) reshuffle of every value. Integer-exact up to the
    registers (the DuckDB oracle replays them bit-for-bit); the
    floating-point estimate is pytest-gated against exact distinct."""
    from docling_eval_spark.operators.sketch import hll_registers

    ev = _t(spark, sf_dir, "events")
    return hll_registers(ev, ["event_type"], "event_id", b=6)


def _hll_rank_case_sql(w_expr: str, wbits: int) -> str:
    whens = "\n    ".join(
        f"WHEN {w_expr} >= {1 << (wbits - r)} THEN {r}"
        for r in range(1, wbits + 1)
    )
    return f"CASE {whens}\n    ELSE {wbits + 1} END"


_SQL_HLL_USERS = f"""
WITH h AS (
  SELECT event_type,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, length(CAST(event_id AS VARCHAR)) + 1),
        j -> CAST(unicode(substring(CAST(event_id AS VARCHAR), j, 1)) AS BIGINT))),
      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS bh
  FROM events
),
mixed AS (
  SELECT event_type, (bh * 48271) % 2147483647 AS mh FROM h
)
SELECT event_type,
       mh % 64 AS reg,
       CAST(max({_hll_rank_case_sql("(mh >> 6)", 25)}) AS INT) AS max_rank
FROM mixed
GROUP BY event_type, mh % 64
"""


def _q_len_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: per-lang p50/p90/p99 document-length
    bucket bounds from the integer log-bucket sketch (DDSketch-style,
    power-of-two buckets with 4 mantissa bits; <= 6.25% relative
    error). Integer-exact end to end — bucket index, cumulative walk,
    nearest-rank pick (cum*100 >= pct*total), decoded bound — so the
    DuckDB oracle gates every value bit-for-bit. One bounded-key
    shuffle (|langs| x ~600 counter rows) + a window over <= ~600
    bucket rows per key; the accuracy-vs-exact-percentile claim is
    pytest-gated separately."""
    from docling_eval_spark.operators.sketch import (
        qsketch_buckets,
        qsketch_quantiles,
    )

    docs = _t(spark, sf_dir, "documents")
    b = qsketch_buckets(docs, ["lang"], "n_chars")
    return qsketch_quantiles(b, ["lang"], pcts=(50, 90, 99))


def _sql_len_quantiles() -> str:
    from docling_eval_spark.operators.sketch import (
        qsketch_idx_sql,
        qsketch_lo_sql,
    )

    return f"""
WITH b AS (
  SELECT lang,
         {qsketch_idx_sql("n_chars")} AS idx,
         count(*) AS c
  FROM documents
  WHERE n_chars IS NOT NULL
  GROUP BY lang, idx
),
cum AS (
  SELECT lang, idx,
         sum(c) OVER (PARTITION BY lang ORDER BY idx) AS cum,
         sum(c) OVER (PARTITION BY lang) AS total
  FROM b
),
hit AS (
  SELECT lang, p.pct, min(idx) AS idx
  FROM cum, (VALUES (50), (90), (99)) p(pct)
  WHERE cum * 100 >= p.pct * total
  GROUP BY lang, p.pct
)
SELECT lang, pct, CAST({qsketch_lo_sql("idx")} AS BIGINT) AS q_lo
FROM hit
"""


_SQL_LEN_QUANTILES = _sql_len_quantiles()


def _q_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle manifest: corpus order for training
    epoch 1 in 8 shards, as (shard, n_docs, min/max key, first/last id,
    order_digest). The digest sum(pos * key) mod P is permutation-
    sensitive, so the oracle gates the ENTIRE training order, not just
    shard membership. Scale shape: one hash exchange on the shard +
    per-shard local sorts — never a global orderBy(rand())."""
    from docling_eval_spark.operators.training import epoch_shard_stats

    docs = _t(spark, sf_dir, "documents")
    return epoch_shard_stats(docs, "doc_id", epoch=1, num_shards=8)


_SQL_EPOCH_SHARDS = """
WITH s AS (
  SELECT doc_id, CAST(doc_id AS VARCHAR) || ':1' AS es FROM documents
),
k AS (
  SELECT doc_id AS id,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, length(es) + 1),
        j -> CAST(unicode(substring(es, j, 1)) AS BIGINT))),
      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS k
  FROM s
),
sh AS (
  SELECT id, k, CAST(k % 8 AS INT) AS shard,
         row_number() OVER (PARTITION BY k % 8 ORDER BY k, id) AS pos
  FROM k
)
SELECT shard,
       count(*) AS n_docs,
       min(k) AS min_key,
       max(k) AS max_key,
       min_by(id, pos) AS first_id,
       max_by(id, pos) AS last_id,
       CAST(sum((pos * k) % 2147483647) % 2147483647 AS BIGINT)
         AS order_digest
FROM sh
GROUP BY shard
"""


def _q_change_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho & Garcia-Molina change-rate estimation + recrawl priority
    over the synthetic recrawl log: per url the bias-stabilized Poisson
    rate -ln((n-X+0.5)/(n+0.5))/avg_interval and the expected missed
    changes at the corpus-latest timestamp. One shared url-keyed
    exchange for the lag window and the rollup; the corpus 'now' is a
    broadcast scalar. NULL rates (urls seen once) -> -1 sentinel so the
    float column hashes identically cross-engine."""
    from docling_eval_spark.operators.temporal import change_rate_estimate

    est = change_rate_estimate(_synth_fetches(spark, sf_dir))
    return est.select(
        "url",
        "n_intervals",
        "n_changed",
        "span_ms",
        "stale_ms",
        F.coalesce("lambda_per_day", F.lit(-1.0)).alias("lambda_per_day"),
        F.coalesce("expected_changes", F.lit(-1.0)).alias("expected_changes"),
    )


_SQL_CHANGE_RATES = f"""
WITH f AS ({_SQL_SYNTH_FETCHES}),
d AS (
  SELECT url, epoch_ms(crawl_ts) AS ms,
         CASE WHEN lag(digest) OVER w IS NULL
                   AND lag(crawl_ts) OVER w IS NULL THEN 'NEW'
              WHEN lag(digest) OVER w = digest THEN 'UNCHANGED'
              ELSE 'CHANGED' END AS st
  FROM f
  WINDOW w AS (PARTITION BY url ORDER BY crawl_ts, digest)
),
per AS (
  SELECT url,
         CAST(sum(CASE WHEN st <> 'NEW' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_intervals,
         CAST(sum(CASE WHEN st = 'CHANGED' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changed,
         max(ms) - min(ms) AS span_ms,
         max(ms) AS last_ms
  FROM d GROUP BY url
),
nw AS (SELECT max(epoch_ms(crawl_ts)) AS now_ms FROM f)
SELECT url, n_intervals, n_changed, span_ms,
       now_ms - last_ms AS stale_ms,
       coalesce(round(CASE WHEN n_intervals > 0 AND span_ms > 0 THEN
           -ln((n_intervals - n_changed + 0.5) / (n_intervals + 0.5))
             / ((span_ms / n_intervals) / 86400000.0) END, 6), -1.0)
         AS lambda_per_day,
       coalesce(round(CASE WHEN n_intervals > 0 AND span_ms > 0 THEN
           (-ln((n_intervals - n_changed + 0.5) / (n_intervals + 0.5))
             / ((span_ms / n_intervals) / 86400000.0))
           * ((now_ms - last_ms) / 86400000.0) END, 6), -1.0)
         AS expected_changes
FROM per, nw
"""


def _synth_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap fixture: one sitemaps.org-0.9 XML document per host,
    announcing that host's pages (the same url scheme as
    ``_synth_fetches``). Every third entry omits <lastmod>, every fifth
    omits <priority> (protocol default 0.5), so the parser's missing-
    tag paths are exercised. Deterministic integer arithmetic only."""
    ev = _t(spark, sf_dir, "events")
    p = (F.col("event_id") % 1500).alias("p")
    pages = ev.select(p).distinct()
    pc = F.col("p")
    host = F.concat(F.lit("host"), (pc % 20).cast("string"))
    loc = F.concat(
        F.lit("https://"), host, F.lit(".example.com/p/"), pc.cast("string")
    )
    lastmod = F.when(pc % 3 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("<lastmod>2026-01-"),
            F.lpad(((pc % 28) + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"),
        )
    )
    prio_txt = F.when((pc % 11) == 10, F.lit("1.0")).otherwise(
        F.concat(F.lit("0."), (pc % 11).cast("string"))
    )
    prio = F.when(pc % 5 == 0, F.lit("")).otherwise(
        F.concat(F.lit("<priority>"), prio_txt, F.lit("</priority>"))
    )
    # newlines INSIDE each block: pretty-printed like real sitemaps,
    # so the oracle gate exercises the (?s) DOTALL block match
    entry_s = F.concat(
        F.lit("<url>\n  <loc>"), loc, F.lit("</loc>\n  "), lastmod, prio,
        F.lit("\n</url>"),
    )
    return (
        pages.select(host.alias("host"), entry_s.alias("e"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(F.array_sort(F.collect_list("e")), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )


_SQL_SYNTH_SITEMAPS = """
  SELECT 'host' || CAST(p % 20 AS VARCHAR) AS host,
         '<?xml version="1.0"?><urlset>'
           || string_agg(e, '' ORDER BY e)
           || '</urlset>' AS xml
  FROM (
    SELECT p,
      '<url>' || chr(10) || '  <loc>https://host' || CAST(p % 20 AS VARCHAR)
        || '.example.com/p/' || CAST(p AS VARCHAR) || '</loc>' || chr(10)
        || '  '
        || CASE WHEN p % 3 = 0 THEN '' ELSE
             '<lastmod>2026-01-' || lpad(CAST((p % 28) + 1 AS VARCHAR), 2, '0')
               || '</lastmod>' END
        || CASE WHEN p % 5 = 0 THEN '' ELSE
             '<priority>'
               || CASE WHEN p % 11 = 10 THEN '1.0'
                       ELSE '0.' || CAST(p % 11 AS VARCHAR) END
               || '</priority>' END
        || chr(10) || '</url>' AS e
    FROM (SELECT DISTINCT event_id % 1500 AS p FROM events)
  )
  GROUP BY p % 20
"""


def _q_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-driven frontier: parse per-host sitemap XML with pure
    regexp expressions (zero UDF, whole-stage codegen), left-join the
    announced urls against the crawl ledger's seen set (column-pruned
    to the url), and rank each host's top-40 fetch candidates —
    never-crawled urls first, then sitemap priority, url as the
    deterministic tie-break. The window sorts only one host's announced
    urls; the seen set broadcasts when small."""
    from docling_eval_spark.operators.frontier import (
        frontier_merge,
        sitemap_parse,
    )

    ann = sitemap_parse(_synth_sitemaps(spark, sf_dir))
    # ledger: pages 0..1199 were crawled; 1200+ are new to the frontier
    seen = _synth_fetches(spark, sf_dir).filter(
        F.regexp_extract(F.col("url"), r"/p/(\d+)$", 1).cast("int") < 1200
    )
    fr = frontier_merge(ann, seen, per_host_k=40)
    return fr.select(
        "host",
        "loc",
        "lastmod",
        "priority_pct",
        F.col("is_new").cast("int").alias("is_new"),
        "fetch_rank",
    )


_SQL_SITEMAP_FRONTIER = f"""
WITH sm AS ({_SQL_SYNTH_SITEMAPS}),
ann AS (
  SELECT host,
         regexp_extract(b, '<loc>([^<]*)</loc>', 1) AS loc,
         nullif(regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1), '')
           AS lastmod,
         CASE WHEN regexp_extract(b, '<priority>([^<]*)</priority>', 1) = ''
              THEN 50
              ELSE CAST(round(CAST(
                regexp_extract(b, '<priority>([^<]*)</priority>', 1)
                AS DOUBLE) * 100) AS INT) END AS priority_pct
  FROM (
    SELECT host, unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b
    FROM sm
  )
),
f AS ({_SQL_SYNTH_FETCHES}),
seen AS (
  SELECT DISTINCT url FROM f
  WHERE CAST(regexp_extract(url, '/p/(\\d+)$', 1) AS INT) < 1200
),
ranked AS (
  SELECT a.host, a.loc, a.lastmod, a.priority_pct,
         CASE WHEN s.url IS NULL THEN 1 ELSE 0 END AS is_new,
         row_number() OVER (
           PARTITION BY a.host
           ORDER BY (s.url IS NULL) DESC, a.priority_pct DESC, a.loc
         ) AS fetch_rank
  FROM ann a LEFT JOIN seen s ON a.loc = s.url
)
SELECT * FROM ranked WHERE fetch_rank <= 40
"""


def _q_politeness_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduler over the sitemap frontier: every host pins
    to worker = horner(host) mod 32 (per-host crawl-delay holds with no
    cross-worker coordination) and its fetches space out at 1000 ms
    slots by frontier rank. Narrow arithmetic over the ranked frontier
    — no extra shuffle."""
    from docling_eval_spark.operators.frontier import (
        frontier_merge,
        politeness_schedule,
        sitemap_parse,
    )

    ann = sitemap_parse(_synth_sitemaps(spark, sf_dir))
    seen = _synth_fetches(spark, sf_dir).filter(
        F.regexp_extract(F.col("url"), r"/p/(\d+)$", 1).cast("int") < 1200
    )
    fr = frontier_merge(ann, seen, per_host_k=40)
    return politeness_schedule(fr, delay_ms=1000, num_workers=32)


_SQL_POLITENESS_SLOTS = f"""
WITH fr AS ({_SQL_SITEMAP_FRONTIER})
SELECT host, loc,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(range(1, length(host) + 1),
           j -> CAST(unicode(substring(host, j, 1)) AS BIGINT))),
         (acc, x) -> (acc * 1000003 + x) % 2147483647) % 32 AS INT)
         AS worker,
       CAST((fetch_rank - 1) * 1000 AS BIGINT) AS slot_ms
FROM fr
"""


def _q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation of the LSH candidate stage itself:
    precision/recall of raw band collisions against exact-Jaccard
    ground truth (shingle-inverted-index generation, df-capped) at
    threshold 0.7 — the measured version of the 1-(1-s^r)^b S-curve
    the band geometry promises. The evaluator discipline docling-eval
    applies to extraction metrics, turned on the dedup operator."""
    from docling_eval_spark.operators.dedup import lsh_quality_eval

    d = _t(spark, sf_dir, "documents")
    dup = _spread(
        d.select("doc_id", "text").unionByName(
            d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        )
    )
    return lsh_quality_eval(dup, "doc_id", threshold=0.7)


def _sql_lsh_eval() -> str:
    """Oracle for _q_lsh_eval: identical signatures/banding to
    _sql_minhash_pairs, candidates stop at band collisions; ground
    truth replays the df<=200-capped inverted-index pair generation
    and the exact Jaccard threshold."""
    from docling_eval_spark.operators.dedup import _perm_coeffs

    mins = ",\n      ".join(
        f"coalesce(list_min(list_transform(sh, x -> ((x * {a}) % {_POLY_P} + {b}) % {_POLY_P})), {_POLY_P})"
        for a, b in _perm_coeffs(30, seed=1)
    )
    return rf"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g')) AS t
  FROM documents
),
dup AS (
  SELECT id, t FROM norm UNION ALL SELECT id + 100000 AS id, t FROM norm
),
codes AS MATERIALIZED (
  SELECT id,
    CASE WHEN length(t) = 0 THEN CAST([] AS BIGINT[]) ELSE
      list_distinct(list_transform(
        range(1, CASE WHEN length(t) >= 5 THEN length(t) - 3 ELSE 2 END),
        i -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(i, least(i + 4, length(t)) + 1),
                                j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
               (acc, x) -> (acc * {_POLY_B1} + x) % {_POLY_P})))
    END AS sh
  FROM dup
),
sigs AS (
  SELECT id, [
      {mins}
  ] AS sig
  FROM codes
),
bands AS MATERIALIZED (
  SELECT id, b.b AS band,
         md5(array_to_string(list_slice(sig, b.b * 5 + 1, b.b * 5 + 5), ',')) AS band_hash
  FROM sigs, (SELECT unnest(range(0, 6)) AS b) b
),
bucket_sizes AS (
  SELECT band, band_hash, count(*) AS n FROM bands GROUP BY band, band_hash
),
cand AS MATERIALIZED (
  SELECT DISTINCT l.id AS id_l, r.id AS id_r
  FROM bands l
  JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash AND l.id < r.id
  JOIN bucket_sizes s ON s.band = l.band AND s.band_hash = l.band_hash
  WHERE s.n <= 1000
),
postings AS MATERIALIZED (
  SELECT id, unnest(sh) AS code FROM codes
),
pdf AS (SELECT code, count(*) AS n FROM postings GROUP BY code),
gpairs AS (
  SELECT DISTINCT a.id AS id_l, b.id AS id_r
  FROM postings a
  JOIN postings b ON a.code = b.code AND a.id < b.id
  JOIN pdf ON pdf.code = a.code
  WHERE pdf.n BETWEEN 2 AND 200
),
gt AS MATERIALIZED (
  SELECT g.id_l, g.id_r
  FROM gpairs g
  JOIN codes cl ON cl.id = g.id_l
  JOIN codes cr ON cr.id = g.id_r
  WHERE len(cl.sh) + len(cr.sh) - len(list_intersect(cl.sh, cr.sh)) > 0
    AND len(list_intersect(cl.sh, cr.sh)) * 1.0
        / (len(cl.sh) + len(cr.sh) - len(list_intersect(cl.sh, cr.sh))) >= 0.7
),
tp AS (
  SELECT c.id_l FROM cand c JOIN gt ON gt.id_l = c.id_l AND gt.id_r = c.id_r
)
SELECT
  (SELECT count(*) FROM cand) AS n_candidates,
  (SELECT count(*) FROM gt) AS n_true,
  (SELECT count(*) FROM tp) AS n_tp,
  round((SELECT count(*) FROM tp) * 1.0
        / nullif((SELECT count(*) FROM cand), 0), 6) AS precision,
  round((SELECT count(*) FROM tp) * 1.0
        / nullif((SELECT count(*) FROM gt), 0), 6) AS recall
"""


def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join result-identity gate: lineitem ⋈ orders with
    the big side scattered over 16 salt replicas of the orders
    projection (the explicit hot-key fix AQE's skew split cannot apply
    to an atomic key), aggregated per order priority. The oracle is the
    PLAIN join + agg — proving the salted plan changes the shuffle, not
    the answer."""
    from docling_eval_spark.operators.skew import salted_equi_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lno"),
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1).cast("decimal(18,6)") - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("rev"),
    )
    od = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderpriority").alias("priority"),
    )
    j = salted_equi_join(li, od, on="okey", big_id="lno", num_salts=16)
    return j.groupBy("priority").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("rev").cast("double"), 4).alias("revenue"),
    )


_SQL_SALTED_JOIN = """
SELECT o.o_orderpriority AS priority,
       count(*) AS n_items,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))) AS DOUBLE), 4)
         AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


def _q_skew_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the exact top-10 hottest hosts of the
    recrawl log with integer ppm shares — the measurement that decides
    num_salts before a salted join. Counts collapse map-side; the
    top-N window ranks |keys| count rows, never data rows."""
    from docling_eval_spark.operators.skew import skew_report

    f = _synth_fetches(spark, sf_dir, with_host=True)
    return skew_report(f, ["host"], top_n=10)


_SQL_SKEW_HOT_KEYS = f"""
WITH f AS ({_SQL_SYNTH_FETCHES}),
c AS (SELECT host, count(*) AS n_rows FROM f GROUP BY host),
t AS (SELECT sum(n_rows) AS total FROM c),
r AS (
  SELECT host, n_rows,
         row_number() OVER (ORDER BY n_rows DESC, host) AS rank
  FROM c
)
SELECT host, n_rows,
       CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm,
       rank
FROM r, t
WHERE rank <= 10
"""


def _q_crawl_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact burst detection over daily crawl windows: the
    z-score test squared into pure integer algebra ((n·W − S)² >
    z²·(W·Q − S²)) so the flag is bit-exact cross-engine — no sqrt, no
    float threshold. Fixture injects a 3× fetch spike for host3 on
    each month's 5th day; the detector must flag those windows and
    stay quiet on the uniform baseline."""
    from docling_eval_spark.operators.temporal import crawl_bursts

    f = _synth_fetches(spark, sf_dir, with_host=True)
    spike = f.filter(
        (F.col("host") == "host3") & (F.dayofmonth("crawl_ts") == 5)
    )
    # the spike branch re-derives the fetch synthesis 3x and the burst
    # detector double-references its input — persist the union once
    boosted = (
        f.unionByName(spike).unionByName(spike).unionByName(spike).persist()
    )
    b = crawl_bursts(boosted, z=3, min_fetches=10)
    return b.select(
        "host",
        F.unix_millis(F.col("window_start")).alias("day_ms"),
        "n_fetches",
        "w_windows",
        "sum_fetches",
        "is_burst",
    )


_SQL_CRAWL_BURSTS = f"""
WITH f AS ({_SQL_SYNTH_FETCHES}),
boosted AS (
  SELECT url, crawl_ts, host FROM f
  UNION ALL
  SELECT url, crawl_ts, host FROM f, (VALUES (1), (2), (3)) r(i)
  WHERE host = 'host3' AND date_part('day', crawl_ts) = 5
),
rate AS (
  SELECT host, epoch_ms(date_trunc('day', crawl_ts)) AS day_ms,
         count(*) AS n_fetches
  FROM boosted GROUP BY host, date_trunc('day', crawl_ts)
),
m AS (
  SELECT host, count(*) AS w_windows, sum(n_fetches) AS sum_fetches,
         sum(n_fetches * n_fetches) AS q
  FROM rate GROUP BY host
)
SELECT r.host, r.day_ms, r.n_fetches,
       CAST(m.w_windows AS BIGINT) AS w_windows,
       CAST(m.sum_fetches AS BIGINT) AS sum_fetches,
       CASE WHEN r.n_fetches >= 10
             AND r.n_fetches * m.w_windows - m.sum_fetches > 0
             AND (r.n_fetches * m.w_windows - m.sum_fetches)
                 * (r.n_fetches * m.w_windows - m.sum_fetches)
               > 9 * (m.w_windows * m.q - m.sum_fetches * m.sum_fetches)
            THEN 1 ELSE 0 END AS is_burst
FROM rate r JOIN m ON m.host = r.host
"""


def _q_robots_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt (RFC 9309 §2.3): one row per
    case-insensitive ``Sitemap:`` directive, hosts without one emit
    nothing, multi-directive hosts emit all. Zero shuffle, zero UDF —
    the regexp explode runs inside codegen. Closes the frontier loop:
    robots -> sitemap urls -> sitemap_parse -> frontier_merge."""
    from docling_eval_spark.operators.frontier import robots_sitemaps

    ev = _t(spark, sf_dir, "events")
    h = ((F.col("event_id") % 1500) % 20).alias("h")
    hosts = ev.select(h).distinct()
    hn = F.concat(F.lit("host"), F.col("h").cast("string"))
    base = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.when(
            F.col("h") % 3 == 0,
            F.concat(
                F.lit("Sitemap: https://"), hn, F.lit(".example.com/sitemap.xml\n")
            ),
        )
        .when(
            F.col("h") % 3 == 1,
            F.concat(
                F.lit("sitemap: https://"), hn,
                F.lit(".example.com/sm1.xml\nSITEMAP: https://"), hn,
                F.lit(".example.com/sm2.xml\n"),
            ),
        )
        .otherwise(F.lit("Crawl-delay: 2\n")),
    )
    robots = hosts.select(hn.alias("host"), base.alias("robots_txt"))
    return robots_sitemaps(robots)


_SQL_ROBOTS_SITEMAP_URLS = """
WITH hosts AS (SELECT DISTINCT (event_id % 1500) % 20 AS h FROM events),
robots AS (
  SELECT 'host' || CAST(h AS VARCHAR) AS host,
         'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
         CASE WHEN h % 3 = 0 THEN
                'Sitemap: https://host' || CAST(h AS VARCHAR)
                  || '.example.com/sitemap.xml' || chr(10)
              WHEN h % 3 = 1 THEN
                'sitemap: https://host' || CAST(h AS VARCHAR)
                  || '.example.com/sm1.xml' || chr(10)
                  || 'SITEMAP: https://host' || CAST(h AS VARCHAR)
                  || '.example.com/sm2.xml' || chr(10)
              ELSE 'Crawl-delay: 2' || chr(10) END AS robots_txt
  FROM hosts
)
SELECT host,
       unnest(regexp_extract_all(robots_txt,
         '(?im)^[ \\t]*sitemap:[ \\t]*(\\S+)', 1)) AS sitemap_url
FROM robots
"""


def _q_template_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection census: pages synthesized from documents with
    one of three HTML skeletons; the structural fingerprint (Horner
    fold over the tag-name sequence, text/attributes ignored) must
    collapse every page to exactly its skeleton's row regardless of
    copy. One bounded-key hash agg — keys = distinct templates."""
    from docling_eval_spark.operators.web_ops import template_rollup

    d = _t(spark, sf_dir, "documents")
    body = F.regexp_replace(F.col("text"), "[<>]", "")
    t = F.col("doc_id") % 3
    html = (
        F.when(
            t == 0,
            F.concat(
                F.lit("<html><head><title>d</title></head><body><div><p>"),
                body,
                F.lit("</p></div></body></html>"),
            ),
        )
        .when(
            t == 1,
            F.concat(
                F.lit("<html><body><article><h1>d</h1><p>"),
                body,
                F.lit("</p></article></body></html>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<html><body><table><tr><td>"),
                body,
                F.lit("</td></tr></table></body></html>"),
            )
        )
    )
    pages = d.select(
        F.concat(F.lit("https://doc/"), F.col("doc_id").cast("string")).alias(
            "url"
        ),
        html.alias("html"),
    )
    return template_rollup(pages)


_SQL_TEMPLATE_CENSUS = """
WITH pages AS (
  SELECT 'https://doc/' || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 3 = 0 THEN
                '<html><head><title>d</title></head><body><div><p>'
                  || regexp_replace(text, '[<>]', '', 'g')
                  || '</p></div></body></html>'
              WHEN doc_id % 3 = 1 THEN
                '<html><body><article><h1>d</h1><p>'
                  || regexp_replace(text, '[<>]', '', 'g')
                  || '</p></article></body></html>'
              ELSE
                '<html><body><table><tr><td>'
                  || regexp_replace(text, '[<>]', '', 'g')
                  || '</td></tr></table></body></html>' END AS html
  FROM documents
),
fps AS (
  SELECT url,
    list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(
        regexp_extract_all(lower(html), '</?([a-z][a-z0-9]*)', 1),
        t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(t) + 1),
                 j -> CAST(unicode(substring(t, j, 1)) AS BIGINT))),
               (acc, x) -> (acc * 1000003 + x) % 2147483647))),
      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS template_fp
  FROM pages
)
SELECT template_fp, count(*) AS n_pages, min(url) AS sample_url
FROM fps GROUP BY template_fp
"""


def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluator turned on the lang-ID operator itself: the confusion
    matrix of the table's declared lang vs the detector's prediction,
    with integer ppm share within each declared language (DIV, not
    float). The docling-eval discipline — measure your own model —
    applied to a pipeline stage. One hash agg + a broadcast-sized
    per-lang total join."""
    from docling_eval_spark.operators.text_analysis import lang_id

    # spread the per-doc lang-ID scoring expressions across cores
    d = _spread(_t(spark, sf_dir, "documents"))
    cm = (
        lang_id(d, "text")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )
    tot = cm.groupBy("lang").agg(F.sum("n").alias("__t"))
    return cm.join(tot, "lang").select(
        "lang",
        "lang_pred",
        "n",
        F.expr("n * 1000000L DIV __t").alias("share_ppm"),
    )


_SQL_LANG_CONFUSION = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_transform(list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
             x -> x <> ''), x -> lower(x)) AS tk
  FROM documents
), hits AS (
  SELECT doc_id, lang,
         len(list_filter(tk, x -> list_contains({en}, x))) AS h_en,
         len(list_filter(tk, x -> list_contains({de}, x))) AS h_de,
         len(list_filter(tk, x -> list_contains({fr}, x))) AS h_fr,
         len(list_filter(tk, x -> list_contains({es}, x))) AS h_es
  FROM toks
), preds AS (
  SELECT lang,
         CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
              WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
              WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
              WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
              ELSE 'de' END AS lang_pred
  FROM hits
), cm AS (
  SELECT lang, lang_pred, count(*) AS n FROM preds GROUP BY lang, lang_pred
)
SELECT lang, lang_pred, n,
       CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang) AS BIGINT)
         AS share_ppm
FROM cm
""".format(en=_sql_list(_EN), de=_sql_list(_DE), fr=_sql_list(_FR), es=_sql_list(_ES))


def _q_compaction_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction plan over a synthesized file listing
    (one 'file' per document, size from n_chars, partitioned by lang):
    smallest-first cumsum binning into 2 MB merge groups, single-file
    tail groups dropped. One window over each partition's FILE LIST —
    metadata rows, never data bytes; the plan is data for a compactor
    job, so the plan itself is what the oracle gates."""
    from docling_eval_spark.operators.layout_maintenance import (
        compaction_plan,
    )

    d = _t(spark, sf_dir, "documents")
    listing = d.select(
        "lang",
        F.concat(F.lit("part-"), F.col("doc_id").cast("string")).alias(
            "file"
        ),
        (F.col("n_chars") * 1000).alias("size_bytes"),
    )
    return compaction_plan(
        listing, ["lang"], target_bytes=2_000_000
    )


_SQL_COMPACTION_GROUPS = """
WITH listing AS (
  SELECT lang, 'part-' || CAST(doc_id AS VARCHAR) AS file,
         n_chars * 1000 AS size_bytes
  FROM documents
),
planned AS (
  SELECT lang, file, CAST(size_bytes AS BIGINT) AS size_bytes,
         CAST(floor((sum(size_bytes) OVER (
                 PARTITION BY lang ORDER BY size_bytes, file
                 ROWS UNBOUNDED PRECEDING) - size_bytes)
               / 2000000) AS BIGINT) AS grp
  FROM listing
)
SELECT lang, file, size_bytes, grp,
       count(*) OVER (PARTITION BY lang, grp) AS grp_files
FROM planned
QUALIFY grp_files >= 2
"""


def _q_morton_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout envelope: Morton-interleave (l_orderkey,
    l_partkey) into a 32-bit key and roll up per key-prefix bucket —
    the min/max envelopes a Z-ordered file layout would expose to
    min/max pruning on EITHER column. Pure shift-mask algebra; the
    oracle replays every bit."""
    from docling_eval_spark.operators.layout_maintenance import morton_key

    li = _t(spark, sf_dir, "lineitem")
    z = morton_key(
        F.pmod(F.col("l_orderkey"), F.lit(1 << 16)),
        F.pmod(F.col("l_partkey"), F.lit(1 << 16)),
        16,
    )
    keyed = li.select(z.alias("zkey"))
    return (
        keyed.groupBy(F.shiftright(F.col("zkey"), 24).alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("zkey").alias("zmin"),
            F.max("zkey").alias("zmax"),
        )
    )


def _sql_morton_layout() -> str:
    from docling_eval_spark.operators.layout_maintenance import (
        morton_key_sql,
    )

    z = morton_key_sql("(l_orderkey % 65536)", "(l_partkey % 65536)", 16)
    return f"""
WITH keyed AS (SELECT {z} AS zkey FROM lineitem)
SELECT zkey >> 24 AS bucket, count(*) AS n_rows,
       min(zkey) AS zmin, max(zkey) AS zmax
FROM keyed GROUP BY zkey >> 24
"""


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN self-evaluation: recall of the two approximate paths (IVF
    n_probe=2, hyperplane-LSH multiprobe) against brute-force cosine
    truth on the SAME gated fixtures — (method, n_true, n_hit,
    recall_ppm), integer-exact via DIV. Third member of the
    measure-your-own-operator family (lsh_eval, lang_confusion).

    The brute-force truth table is persisted: it feeds the hit join
    AND the n_true census for BOTH methods (4 references), and each
    unpersisted evaluation re-runs the full brute-force cosine pass —
    the plan audit counted 12 embedding scans for this one query."""
    brute = (
        _q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id").persist()
    )
    approx = {
        "ivf": _q_ivf_topk(spark, sf_dir),
        "lsh": _q_lsh_topk(spark, sf_dir),
    }
    frames = []
    for name, df in approx.items():
        hits = df.select("query_id", "neighbor_id").join(
            brute, ["query_id", "neighbor_id"]
        )
        frames.append(
            hits.agg(F.count("*").alias("n_hit"))
            .crossJoin(brute.agg(F.count("*").alias("n_true")))
            .select(
                F.lit(name).alias("method"),
                "n_true",
                "n_hit",
                F.expr("n_hit * 1000000L DIV n_true").alias("recall_ppm"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _sql_ann_recall() -> str:
    return f"""
WITH brute AS (
  SELECT query_id, neighbor_id FROM ({_SQL_COSINE_TOPK})
),
ivf AS (
  SELECT query_id, neighbor_id FROM ({_sql_ivf_topk()})
),
lsh AS (
  SELECT query_id, neighbor_id FROM ({_sql_lsh_topk()})
),
m AS (
  SELECT 'ivf' AS method,
         (SELECT count(*) FROM brute) AS n_true,
         (SELECT count(*) FROM ivf i
            JOIN brute b ON b.query_id = i.query_id
                        AND b.neighbor_id = i.neighbor_id) AS n_hit
  UNION ALL
  SELECT 'lsh',
         (SELECT count(*) FROM brute),
         (SELECT count(*) FROM lsh l
            JOIN brute b ON b.query_id = l.query_id
                        AND b.neighbor_id = l.neighbor_id)
)
SELECT method, CAST(n_true AS BIGINT) AS n_true,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(n_hit * 1000000 // n_true AS BIGINT) AS recall_ppm
FROM m
"""


def _q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over a binary media column, END TO
    END on real pixels: render a deterministic 72x64 PNG per doc
    (cell-grid fixture, `operators.multimodal.cell_grid_image`), add a
    +10-brightness twin for every 10th doc, then PNG-decode → 8x9
    box-mean → dHash → pigeonhole Hamming-block join (shared with
    simhash). The fixture's dHash is ANALYTIC from the seed, so the
    DuckDB oracle recomputes the expected 64-bit hashes in SQL and
    replays the pairing — the whole codec+hash+join path is
    value-gated, not just row-counted. Expected: each twin pairs with
    its base at Hamming 0."""
    from docling_eval_spark.operators.multimodal import (
        cell_grid_image_stage,
        image_near_dup_pairs,
    )

    # spread the render+decode kernels across cores
    docs = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    )
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.col("doc_id").cast("string").alias("seed"),
        F.lit(0).alias("bright"),
    )
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("id"),
        F.col("doc_id").cast("string").alias("seed"),
        F.lit(10).alias("bright"),
    )
    rendered = cell_grid_image_stage(base.unionByName(twins))
    return image_near_dup_pairs(rendered, "id", "media", max_hamming=2).select(
        F.col("id_l").cast("long").alias("id_l"),
        F.col("id_r").cast("long").alias("id_r"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def _sql_image_near_dups() -> str:
    # Recompute the fixture's analytic dHash per id: cell k value is
    # md5(seed:k) first byte % 201 (brightness twins share the base's
    # comparisons), bit j set iff cell[(j/8)*9+j%8] > its right
    # neighbor; bit 63 is the BIGINT sign bit (two's complement).
    return """
WITH ids AS (
  SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS seed FROM documents
  UNION ALL
  SELECT doc_id + 1000000, CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 10 = 0
), cells AS (
  SELECT id, list_transform(range(72), k ->
      CAST(('0x' || substr(md5(concat(seed, ':', k)), 1, 2)) AS INT) % 201
  ) AS v
  FROM ids
), hashes AS (
  SELECT id, CAST(list_aggregate(list_transform(range(64), j ->
      CASE WHEN v[(j // 8) * 9 + (j % 8) + 1] > v[(j // 8) * 9 + (j % 8) + 2]
           THEN CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                     ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
           ELSE 0 END), 'sum') AS BIGINT) AS dhash
  FROM cells
)
SELECT a.id AS id_l, b.id AS id_r,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
FROM hashes a
JOIN hashes b ON a.id < b.id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
"""


def _q_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup dedup over a binary WAV column, END TO END on
    real PCM: render a deterministic tone-block WAV per doc
    (`multimodal.tone_block_wav`), add a 2x-gain twin for every 10th
    doc, then WAV-decode → 65-frame RMS → energy-difference hash →
    pigeonhole Hamming-block join. The fixture's hash is ANALYTIC from
    the seed (constant-amplitude frames; dyadic /32768 scaling makes
    the RMS exact), so the DuckDB oracle recomputes the expected
    64-bit hashes in SQL and replays the pairing. Expected: each
    gain twin pairs with its base at Hamming 0."""
    from docling_eval_spark.operators.multimodal import (
        audio_near_dup_pairs,
        tone_block_wav_stage,
    )

    docs = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    )
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.col("doc_id").cast("string").alias("seed"),
        F.lit(1).alias("gain"),
    )
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("id"),
        F.col("doc_id").cast("string").alias("seed"),
        F.lit(2).alias("gain"),
    )
    rendered = tone_block_wav_stage(base.unionByName(twins))
    return audio_near_dup_pairs(rendered, "id", "media", max_hamming=2).select(
        F.col("id_l").cast("long").alias("id_l"),
        F.col("id_r").cast("long").alias("id_r"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def _q_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup dedup over a binary AVI column, END TO END on
    real decoded frames: render a deterministic 65-frame constant-gray
    DIB AVI per doc (`multimodal.tone_block_avi`), add a
    +10-brightness twin for every 10th doc, then AVI-decode →
    per-frame mean intensity → temporal-energy hash → pigeonhole
    Hamming-block join. The fixture's hash is ANALYTIC from the seed
    (constant frames recover their gray level exactly), so the DuckDB
    oracle recomputes the expected 64-bit hashes in SQL and replays
    the pairing. Completes the near-dup hash family:
    text (simhash) / image (dHash) / audio (energy) / video
    (temporal)."""
    from docling_eval_spark.operators.multimodal import (
        tone_block_avi_stage,
        video_near_dup_pairs,
    )

    docs = _spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    )
    # 'v'-prefixed seeds: distinct hash values from the audio twin, so
    # the two modality gates are independent evidence
    seed = F.concat(F.lit("v"), F.col("doc_id").cast("string"))
    base = docs.select(
        F.col("doc_id").alias("id"),
        seed.alias("seed"),
        F.lit(0).alias("bright"),
    )
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("id"),
        seed.alias("seed"),
        F.lit(10).alias("bright"),
    )
    rendered = tone_block_avi_stage(base.unionByName(twins))
    return video_near_dup_pairs(rendered, "id", "media", max_hamming=2).select(
        F.col("id_l").cast("long").alias("id_l"),
        F.col("id_r").cast("long").alias("id_r"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def _sql_video_near_dups() -> str:
    # Identical analytic shape to the audio oracle: 65 md5 frame
    # values per id, bit j set iff v[j] > v[j+1] (brightness twins
    # share the base's ordering); bit 63 is the sign bit.
    return """
WITH ids AS (
  SELECT doc_id AS id, concat('v', CAST(doc_id AS VARCHAR)) AS seed
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, concat('v', CAST(doc_id AS VARCHAR))
  FROM documents WHERE doc_id % 10 = 0
), cells AS (
  SELECT id, list_transform(range(65), k ->
      CAST(('0x' || substr(md5(concat(seed, ':', k)), 1, 2)) AS INT) % 201
  ) AS v
  FROM ids
), hashes AS (
  SELECT id, CAST(list_aggregate(list_transform(range(64), j ->
      CASE WHEN v[j + 1] > v[j + 2]
           THEN CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                     ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
           ELSE 0 END), 'sum') AS BIGINT) AS thash
  FROM cells
)
SELECT a.id AS id_l, b.id AS id_r,
       CAST(bit_count(xor(a.thash, b.thash)) AS INT) AS hamming
FROM hashes a
JOIN hashes b ON a.id < b.id
WHERE bit_count(xor(a.thash, b.thash)) <= 2
"""


def _sql_audio_near_dups() -> str:
    # 65 analytic frame values per id (gain twins share the base's RMS
    # ordering), bit j set iff v[j] > v[j+1]; bit 63 is the sign bit.
    return """
WITH ids AS (
  SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS seed FROM documents
  UNION ALL
  SELECT doc_id + 1000000, CAST(doc_id AS VARCHAR)
  FROM documents WHERE doc_id % 10 = 0
), cells AS (
  SELECT id, list_transform(range(65), k ->
      CAST(('0x' || substr(md5(concat(seed, ':', k)), 1, 2)) AS INT) % 201
  ) AS v
  FROM ids
), hashes AS (
  SELECT id, CAST(list_aggregate(list_transform(range(64), j ->
      CASE WHEN v[j + 1] > v[j + 2]
           THEN CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                     ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
           ELSE 0 END), 'sum') AS BIGINT) AS ehash
  FROM cells
)
SELECT a.id AS id_l, b.id AS id_r,
       CAST(bit_count(xor(a.ehash, b.ehash)) AS INT) AS hamming
FROM hashes a
JOIN hashes b ON a.id < b.id
WHERE bit_count(xor(a.ehash, b.ehash)) <= 2
"""


# --------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: render documents → full extraction kernel → per-lang
    byte-identity match rollup on sf0.001."""
    _ensure_pkg(spark)
    return _q_extract_match_stats(spark, "/root/testdata/sf0.001")


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 (Jégou et al. 2011) against
    FIXED seeded codebooks (8 subspaces × 16 codes over 64 dims): the
    encode (argmin ``c·c − 2·s·c``, low-code tiebreak) and ADC scoring
    (one sequential 64-fold over the reconstruction) replay exactly in
    the oracle, which recomputes codes relationally from codebook
    literals and reassembles the reconstruction with an ordered list
    aggregate."""
    from docling_eval_spark.operators.pq import pq_codebooks, pq_topk

    e, q = _emb_tables(spark, sf_dir)
    cb = pq_codebooks(64, m=8, n_codes=16, seed=13)
    out = pq_topk(e, q, cb, k=3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("score", 4).alias("score"),
    )


def _sql_pq_topk() -> str:
    from docling_eval_spark.operators.pq import pq_codebooks

    cb = pq_codebooks(64, m=8, n_codes=16, seed=13)
    m, n_codes, _sub = cb.shape
    rows = ", ".join(
        "("
        + str(j)
        + ", "
        + str(c)
        + ", ["
        + ", ".join(repr(float(x)) for x in cb[j, c])
        + "])"
        for j in range(m)
        for c in range(n_codes)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
cb AS (SELECT * FROM (VALUES {rows}) AS t(j, code, cv)),
sub AS (
  SELECT e.vec_id, js.j, list_slice(e.v, js.j * 8 + 1, js.j * 8 + 8) AS sv
  FROM e CROSS JOIN (SELECT unnest(range(0, {m})) AS j) js
),
dist AS (
  SELECT s.vec_id, s.j, c.code, c.cv,
         list_inner_product(c.cv, c.cv)
           - 2 * list_inner_product(s.sv, c.cv) AS d
  FROM sub s JOIN cb c ON c.j = s.j
),
codes AS (
  SELECT vec_id, j, cv FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, j ORDER BY d ASC, code ASC) AS rn
    FROM dist
  ) WHERE rn = 1
),
recon AS (
  SELECT vec_id, flatten(list(cv ORDER BY j)) AS rv FROM codes GROUP BY vec_id
),
scores AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         list_inner_product(q.qv, r.rv) AS score
  FROM recon r CROSS JOIN q
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank,
         score
  FROM scores
)
SELECT query_id, neighbor_id, rank, round(score, 4) AS score
FROM ranked WHERE rank <= 3
"""


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): centroid-clustered embedding
    near-dup flags. Same fixed seed-11 centroids the IVF gate proved
    assign-exact; input doubles each vector with a ×2-scaled twin
    (same cluster by scale invariance, cosine exactly 1.0) so every
    twin must flag — plus whatever organic near-pairs the corpus
    holds. The oracle replays cluster assignment and the within-
    cluster lower-id pair sweep relationally."""
    from docling_eval_spark.operators.similarity import (
        hyperplanes,
        semantic_dedup,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dup = e.unionByName(
        e.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        )
    )
    cents = hyperplanes(64, 8, seed=11)
    out = semantic_dedup(dup, cents, threshold=0.999)
    return out.select("vec_id", F.col("centroid").cast("int").alias("centroid"), "is_dup")


def _sql_semantic_dedup() -> str:
    from docling_eval_spark.operators.similarity import hyperplanes

    cents = hyperplanes(64, 8, seed=11)
    cent_rows = ", ".join(
        "(" + str(i) + ", [" + ", ".join(repr(float(x)) for x in c) + "])"
        for i, c in enumerate(cents)
    )
    cos_assign = _DUCK_COSINE.format(l="d.v", r="c.cv")
    cos_pair = _DUCK_COSINE.format(l="l.v", r="r.v")
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
dup AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 2.0) AS v
  FROM base
),
cents AS (SELECT * FROM (VALUES {cent_rows}) AS t(cidx, cv)),
csims AS (
  SELECT d.vec_id, d.v, c.cidx, {cos_assign} AS sim
  FROM dup d CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, v, cidx AS centroid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
           ORDER BY sim DESC, cidx ASC) AS rn
    FROM csims
  ) WHERE rn = 1
),
sizes AS (SELECT centroid, count(*) AS n FROM assign GROUP BY centroid),
ok AS (SELECT centroid FROM sizes WHERE n <= 100000),
dup_ids AS (
  SELECT DISTINCT r.vec_id
  FROM assign l
  JOIN assign r ON l.centroid = r.centroid AND l.vec_id < r.vec_id
  JOIN ok ON ok.centroid = l.centroid
  WHERE ({cos_pair}) >= 0.999
)
SELECT a.vec_id, CAST(a.centroid AS INTEGER) AS centroid,
       (d.vec_id IS NOT NULL) AS is_dup
FROM assign a LEFT JOIN dup_ids d USING (vec_id)
"""


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 hard-negative mining (DPR recipe): top-20 candidates per
    query, anti-join the labeled positives (here the deterministic
    rule doc_id % 5 == 2, so the oracle can regenerate the label set),
    keep the 10 best survivors. Scores ride the fixed-point BM25
    pipeline — bit-replayable ranking."""
    from docling_eval_spark.operators.retrieval import hard_negatives

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    q = spark.createDataFrame(
        [
            ("q1", "hash join"),
            ("q2", "slow table scan"),
            ("q3", "spark window the window"),
        ],
        ["query_id", "qtext"],
    )
    positives = q.select("query_id").crossJoin(
        d.select(F.col("doc_id").alias("id")).filter(F.col("id") % 5 == 2)
    )
    return hard_negatives(
        d, q, positives, "doc_id", k_retrieve=20, n_neg=10
    )


_SQL_HARD_NEGATIVES = (
    _BM25_RANKED_CTES
    + r"""
, neg AS (
  SELECT query_id, id, score_micro, rank
  FROM ranked WHERE rank <= 20 AND id % 5 <> 2
),
renr AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY rank ASC)
           AS neg_rank,
         score_micro
  FROM neg
)
SELECT query_id, id, CAST(neg_rank AS INTEGER) AS neg_rank, score_micro
FROM renr WHERE neg_rank <= 10
"""
)


def _q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-n lexical diversity (Li et al. 2016) —
    integer micro-ratios over exact two-level gram aggregates; the
    oracle replays tokenization, the \\x01 bigram join, and the
    integer division."""
    from docling_eval_spark.operators.text_analysis import (
        distinct_ngram_stats,
    )

    d = _t(spark, sf_dir, "documents").select("lang", "text")
    return distinct_ngram_stats(d, "text", "lang")


_SQL_DISTINCT_NGRAMS = r"""
WITH docs AS (
  SELECT lang,
         list_transform(
           list_filter(string_split_regex(trim(text), '[ \t\n\r\f\v]+'),
                       x -> x <> ''),
           t -> lower(t)) AS toks
  FROM documents
),
uni AS (SELECT lang, t FROM docs, LATERAL unnest(toks) AS u(t)),
utf AS (SELECT lang, t, count(*) AS c FROM uni GROUP BY 1, 2),
u AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS distinct_unigrams
  FROM utf GROUP BY lang
),
big AS (
  SELECT lang, toks[CAST(i AS INTEGER)] || chr(1)
               || toks[CAST(i AS INTEGER) + 1] AS g
  FROM docs, LATERAL unnest(range(1, len(toks))) AS r(i)
),
btf AS (SELECT lang, g, count(*) AS c FROM big GROUP BY 1, 2),
b AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n_bigrams,
         count(*) AS distinct_bigrams
  FROM btf GROUP BY lang
)
SELECT u.lang, n_tokens,
       coalesce(n_bigrams, 0) AS n_bigrams,
       distinct_unigrams,
       coalesce(distinct_bigrams, 0) AS distinct_bigrams,
       (1000000 * distinct_unigrams) // n_tokens AS distinct1_micro,
       CAST(CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN (1000000 * coalesce(distinct_bigrams, 0))
                 // coalesce(n_bigrams, 1)
            ELSE 0 END AS BIGINT) AS distinct2_micro
FROM u LEFT JOIN b USING (lang)
"""


def _q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release data-card rollup per (lang, source): volume, exact-dup
    rate, Gopher pass rate — integer micro-units throughout. The
    fixture doubles doc_id<25 so the dup-rate path is non-trivial; the
    oracle recomputes digests, replays the full Gopher rule set, and
    mirrors the two-level distinct-by-digest aggregation."""
    from docling_eval_spark.pipelines import data_card

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    dup = d.unionByName(
        d.filter(F.col("doc_id") < 25).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "lang",
            "source",
            "text",
        )
    )
    return data_card(dup)


def _sql_data_card() -> str:
    # replay the Gopher pass flag over the doubled corpus by swapping
    # the table reference inside the shared gopher CTE chain
    gopher_on_dup = _SQL_GOPHER.replace("FROM documents", "FROM dup")
    return f"""
WITH dup AS (
  SELECT doc_id, lang, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lang, source, text
  FROM documents WHERE doc_id < 25
),
g AS ({gopher_on_dup}),
per AS (
  SELECT d.lang, d.source,
         CAST(len(list_filter(string_split_regex(trim(d.text),
              '[ \t\n\r\f\v]+'), x -> x <> '')) AS BIGINT) AS tk,
         CAST(length(d.text) AS BIGINT) AS ch,
         sha256(d.text) AS dg,
         CASE WHEN g.passes_gopher THEN 1 ELSE 0 END AS gp
  FROM dup d JOIN g USING (doc_id)
),
lvl AS (
  SELECT lang, source, dg, count(*) AS n, sum(tk) AS tk,
         sum(ch) AS ch, sum(gp) AS gp
  FROM per GROUP BY 1, 2, 3
)
SELECT lang, source,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(tk) AS BIGINT) AS n_tokens,
       CAST(sum(ch) AS BIGINT) AS n_chars,
       count(*) AS distinct_texts,
       CAST((1000000 * (sum(n) - count(*))) // sum(n) AS BIGINT)
         AS dup_rate_micro,
       CAST(sum(gp) AS BIGINT) AS gopher_pass,
       CAST((1000000 * sum(gp)) // sum(n) AS BIGINT) AS gopher_pass_micro
FROM lvl GROUP BY 1, 2
"""


def _with_pkg(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_pkg(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def _q_chrf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF character n-gram F-score (Popović 2015) on adjacent doc
    pairs — the character-level member of the reference's text-metric
    family (markdown_text_evaluator.py:189-225). One explode + one
    (id, n, gram)-keyed count shuffle; per-order P/R quantized to
    integer micros before the per-doc sum so the order average is an
    order-independent BIGINT sum (engine-exact)."""
    from docling_eval_spark.evaluators.chrf import chrf_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    l = d.select(F.col("doc_id").alias("id_l"), F.col("text").alias("t_l"))
    r = d.select((F.col("doc_id") - 1).alias("id_l"), F.col("text").alias("t_r"))
    return chrf_pairs(l.join(r, "id_l"))


_SQL_CHRF = r"""
WITH p AS (
  SELECT a.doc_id AS id_l, a.text AS t_l, b.text AS t_r
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
sides AS (
  SELECT id_l, 'h' AS side,
         substring(regexp_replace(t_l, '[ \t\n\r\f\v]+', '', 'g'), 1, 2000) AS s
  FROM p
  UNION ALL
  SELECT id_l, 'r' AS side,
         substring(regexp_replace(t_r, '[ \t\n\r\f\v]+', '', 'g'), 1, 2000) AS s
  FROM p
),
g AS (
  SELECT id_l, side, n,
         unnest(list_transform(range(1, greatest(length(s) - n + 1, 0) + 1),
                               i -> substring(s, i, n))) AS gr
  FROM sides CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) ns
),
c AS (
  SELECT id_l, n, gr,
         CAST(count(*) FILTER (side = 'h') AS BIGINT) AS hc,
         CAST(count(*) FILTER (side = 'r') AS BIGINT) AS rc
  FROM g GROUP BY id_l, n, gr
),
pn AS (
  SELECT id_l, n,
         CAST(sum(least(hc, rc)) AS BIGINT) AS tp,
         CAST(sum(hc) AS BIGINT) AS h,
         CAST(sum(rc) AS BIGINT) AS r
  FROM c GROUP BY id_l, n
),
m AS (
  SELECT id_l,
         CAST(count(*) AS BIGINT) AS n_eff,
         CAST(sum(CASE WHEN h > 0
                  THEN CAST(round(1000000.0 * tp / h) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS sp,
         CAST(sum(CASE WHEN r > 0
                  THEN CAST(round(1000000.0 * tp / r) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS sr
  FROM pn GROUP BY id_l
)
SELECT p.id_l,
  CAST(CASE WHEN coalesce(n_eff, 0) > 0
       THEN sp // n_eff ELSE 0 END AS BIGINT) AS chrf_prec_micro,
  CAST(CASE WHEN coalesce(n_eff, 0) > 0
       THEN sr // n_eff ELSE 0 END AS BIGINT) AS chrf_rec_micro,
  CAST(CASE WHEN coalesce(n_eff, 0) > 0 AND 4 * coalesce(sp, 0) + coalesce(sr, 0) > 0
       THEN (5 * sp * sr) // (n_eff * (4 * sp + sr))
       ELSE 0 END AS BIGINT) AS chrf_micro
FROM p LEFT JOIN m ON m.id_l = p.id_l
"""


def _q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade (public 1948/1975
    formulas, vowel-group syllable heuristic) in exact milli units:
    zero-shuffle narrow codegen map, BIGINT counts, one shifted
    integer division per score (no float round anywhere)."""
    from docling_eval_spark.operators.quality_rules import readability

    return readability(_t(spark, sf_dir, "documents"))


_SQL_READABILITY = r"""
WITH base AS (
  SELECT doc_id, lower(substring(text, 1, 2000)) AS t FROM documents
),
c AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(t, '[ \t\n\r\f\v]+'),
                x -> x <> '') AS words,
    CAST(len(list_filter(regexp_split_to_array(t, '[.!?]+'),
                         x -> trim(x) <> '')) AS BIGINT) AS n_sentences
  FROM base
),
k AS (
  SELECT doc_id,
    CAST(len(words) AS BIGINT) AS n_words,
    n_sentences,
    CAST(list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(words,
          x -> greatest(CAST(1 AS BIGINT),
                        CAST(len(regexp_extract_all(x, '[aeiouy]+')) AS BIGINT)))),
      (a, b) -> a + b) AS BIGINT) AS n_syllables
  FROM c
)
SELECT doc_id, n_words, n_sentences, n_syllables,
  CAST(CASE WHEN n_words > 0 AND n_sentences > 0 THEN
    (206835 * n_sentences * n_words - 1015 * n_words * n_words
     - 84600 * n_syllables * n_sentences
     + 10000000 * n_sentences * n_words)
    // (n_sentences * n_words) - 10000000 ELSE 0 END AS BIGINT) AS flesch_milli,
  CAST(CASE WHEN n_words > 0 AND n_sentences > 0 THEN
    (390 * n_words * n_words + 11800 * n_syllables * n_sentences
     - 15590 * n_sentences * n_words
     + 10000000 * n_sentences * n_words)
    // (n_sentences * n_words) - 10000000 ELSE 0 END AS BIGINT) AS fk_grade_milli
FROM k
"""


def _q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen–Shannon drift vs rest-of-corpus (micro-nats):
    one token explode + (source, token) count agg; global counts
    re-aggregated from the SAME persisted frame (no second corpus
    pass); absent-token ln2 mass folded in closed form."""
    from docling_eval_spark.operators.text_analysis import js_drift

    return js_drift(_t(spark, sf_dir, "documents"))


_SQL_JS_DRIFT = r"""
WITH tok AS (
  SELECT source AS g,
         unnest(list_filter(regexp_split_to_array(trim(text),
                                                  '[ \t\n\r\f\v]+'),
                            x -> x <> '')) AS t
  FROM documents
),
per_gt AS (
  SELECT g, t, CAST(count(*) AS BIGINT) AS a FROM tok GROUP BY g, t
),
gl0 AS (SELECT t, CAST(sum(a) AS BIGINT) AS tot FROM per_gt GROUP BY t),
totals AS (SELECT g, CAST(sum(a) AS BIGINT) AS ga FROM per_gt GROUP BY g),
corpus AS (SELECT CAST(sum(ga) AS BIGINT) AS tt FROM totals),
j AS (
  SELECT p.g, p.a, gl.tot - p.a AS b, t2.ga, c.tt - t2.ga AS gb
  FROM per_gt p
  JOIN gl0 gl USING (t)
  JOIN totals t2 ON t2.g = p.g
  CROSS JOIN corpus c
),
terms AS (
  SELECT g, ga, gb, b,
    a * CAST(round(ln(2.0 * (a * gb) / (a * gb + b * ga)) * 1000000)
             AS BIGINT) AS t1,
    CASE WHEN b > 0 THEN
      b * CAST(round(ln(2.0 * (b * ga) / (a * gb + b * ga)) * 1000000)
               AS BIGINT)
    ELSE 0 END AS t2
  FROM j WHERE gb > 0
),
per_g AS (
  SELECT g, ga, gb,
         CAST(sum(t1) AS BIGINT) AS s1,
         CAST(sum(t2) AS BIGINT) AS s2,
         CAST(sum(b) AS BIGINT) AS sb
  FROM terms GROUP BY g, ga, gb
)
SELECT g AS source, ga AS n_tokens,
  CAST(greatest(s1, 0) // (2 * ga)
       + greatest(s2 + (gb - sb) * 693147, 0) // (2 * gb)
       AS BIGINT) AS js_micro
FROM per_g
"""


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment + relation classification over three
    engineered pair families — self (→ dup), first-half vs full
    (→ r_in_l: prefix shingles are a subset by construction), and
    adjacent docs (→ none on this corpus) — so every classifier
    branch is value-gated, not just the happy path."""
    from docling_eval_spark.operators.dedup import char_shingles, containment_pairs

    # spread the CPU-heavy shingling across cores first
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    full = char_shingles("text", 5)
    base = d.select(
        "doc_id",
        full.alias("sh_full"),
        F.expr("substring(text, 1, length(text) DIV 2)").alias("__half_txt"),
    ).select(
        "doc_id",
        "sh_full",
        char_shingles("__half_txt", 5).alias("sh_half"),
    )
    # the three pair families below fork FOUR plan branches off this
    # frame (self, half, adj-left, adj-right); without pinning, each
    # branch re-runs the whole shingle pipeline — same discipline as
    # image_near_dups' hash frame (at warehouse scale: a materialized
    # shingle table)
    base = base.localCheckpoint(eager=True)
    self_pairs = base.select(
        F.lit("self").alias("family"),
        F.col("doc_id").alias("id_l"),
        F.col("sh_full").alias("sh_l"),
        F.col("sh_full").alias("sh_r"),
    )
    half_pairs = base.select(
        F.lit("half").alias("family"),
        F.col("doc_id").alias("id_l"),
        F.col("sh_full").alias("sh_l"),
        F.col("sh_half").alias("sh_r"),
    )
    adj = base.select(F.col("doc_id").alias("id_l"), F.col("sh_full").alias("sh_l")).join(
        base.select(
            (F.col("doc_id") - 1).alias("id_l"), F.col("sh_full").alias("sh_r")
        ),
        "id_l",
    ).select(F.lit("adj").alias("family"), "id_l", "sh_l", "sh_r")
    pairs = self_pairs.unionAll(half_pairs).unionAll(adj)
    return containment_pairs(pairs).select(
        "family", "id_l", "c_lr_micro", "c_rl_micro", "relation"
    )


_SQL_CONTAINMENT = r"""
WITH nrm AS (
  SELECT doc_id,
         trim(regexp_replace(text, '[ \t\n\r\f\v]+', ' ', 'g')) AS s_full,
         trim(regexp_replace(substring(text, 1, length(text) // 2),
                             '[ \t\n\r\f\v]+', ' ', 'g')) AS s_half
  FROM documents
),
sh AS (
  SELECT doc_id,
    CASE WHEN length(s_full) >= 5 THEN
           list_distinct(list_transform(range(1, length(s_full) - 3),
                                        i -> substring(s_full, i, 5)))
         WHEN length(s_full) > 0 THEN [s_full] ELSE [] END AS sh_full,
    CASE WHEN length(s_half) >= 5 THEN
           list_distinct(list_transform(range(1, length(s_half) - 3),
                                        i -> substring(s_half, i, 5)))
         WHEN length(s_half) > 0 THEN [s_half] ELSE [] END AS sh_half
  FROM nrm
),
pairs AS (
  SELECT 'self' AS family, doc_id AS id_l, sh_full AS sh_l, sh_full AS sh_r
  FROM sh
  UNION ALL
  SELECT 'half', doc_id, sh_full, sh_half FROM sh
  UNION ALL
  SELECT 'adj', a.doc_id, a.sh_full, b.sh_full
  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
),
m AS (
  SELECT family, id_l,
         CAST(len(list_intersect(sh_l, sh_r)) AS BIGINT) AS i,
         CAST(len(sh_l) AS BIGINT) AS nl,
         CAST(len(sh_r) AS BIGINT) AS nr
  FROM pairs
),
c AS (
  SELECT family, id_l,
         CAST(CASE WHEN nl > 0 THEN (i * 1000000) // nl ELSE 0 END
              AS BIGINT) AS c_lr_micro,
         CAST(CASE WHEN nr > 0 THEN (i * 1000000) // nr ELSE 0 END
              AS BIGINT) AS c_rl_micro
  FROM m
)
SELECT family, id_l, c_lr_micro, c_rl_micro,
  CASE WHEN c_lr_micro >= 900000 AND c_rl_micro >= 900000 THEN 'dup'
       WHEN c_lr_micro >= 900000 THEN 'l_in_r'
       WHEN c_rl_micro >= 900000 THEN 'r_in_l'
       ELSE 'none' END AS relation
FROM c
"""


def _q_crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS depth from a deterministic seed set over the symmetrized
    order↔part co-purchase graph (4 rounds of min-distance
    propagation, the same per-iteration join+min-agg shape as
    connected components); the oracle unrolls the identical rounds as
    chained CTEs. Unreachable nodes are absent on both sides."""
    from docling_eval_spark.operators.web_ops import crawl_depth

    li = _t(spark, sf_dir, "lineitem")
    fwd = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("node")
        )
    )
    return crawl_depth(edges, seeds, max_hops=4)


def _sql_crawl_depth() -> str:
    step = """
SELECT node, CAST(min(depth) AS BIGINT) AS depth FROM (
  SELECT e.b AS node, d{i}.depth + 1 AS depth
  FROM edges e JOIN d{i} ON e.a = d{i}.node
  UNION ALL
  SELECT node, depth FROM d{i}
) GROUP BY node
"""
    ctes = ",\n".join(
        f"d{i + 1} AS ({step.format(i=i)})" for i in range(4)
    )
    return f"""
WITH fwd AS (
  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
         'p' || CAST(l_partkey AS VARCHAR) AS b
  FROM lineitem
),
edges AS (
  SELECT a, b FROM fwd UNION ALL SELECT b AS a, a AS b FROM fwd
),
d0 AS (
  SELECT DISTINCT 'o' || CAST(o_orderkey AS VARCHAR) AS node,
         CAST(0 AS BIGINT) AS depth
  FROM orders WHERE o_orderkey % 97 = 0
),
{ctes}
SELECT node, depth FROM d4
"""


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted reservoir top-100 over documents
    weighted by n_chars: exact-double u from an affine id hash,
    ln(u)/w micro keys, TakeOrderedAndProject top-k (never a full
    sort)."""
    from docling_eval_spark.operators.web_ops import weighted_sample_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_topk(d, "doc_id", "n_chars", 100)


_SQL_WEIGHTED_SAMPLE = r"""
WITH s AS (
  SELECT doc_id, n_chars,
    CAST(round(
      ln(((doc_id * 1000003 + 12345) % 2147483647 + 1) / 2147483648.0)
      / n_chars * 1000000.0) AS BIGINT) AS es_key_micro
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, es_key_micro
FROM s ORDER BY es_key_micro DESC, doc_id LIMIT 100
"""


def _q_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) shard assignment of documents to 8 shards +
    per-shard census: argmax of the SQUARED portable char Horner hash
    of shard||'|'||key (squaring breaks the affine same-length
    degeneracy), zero shuffle for the assignment itself."""
    from docling_eval_spark.operators.web_ops import rendezvous_assign

    d = _t(spark, sf_dir, "documents").select("doc_id")
    shards = [f"shard{i}" for i in range(8)]
    a = rendezvous_assign(d, "doc_id", shards)
    return a.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _sql_rendezvous() -> str:
    return r"""
WITH sh AS (SELECT unnest(['shard0','shard1','shard2','shard3',
                           'shard4','shard5','shard6','shard7']) AS shard),
scored AS (
  SELECT d.doc_id, sh.shard,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          range(1, length(sh.shard || '|' || CAST(d.doc_id AS VARCHAR)) + 1),
          i -> CAST(unicode(substring(
                 sh.shard || '|' || CAST(d.doc_id AS VARCHAR),
                 CAST(i AS INTEGER), 1)) AS BIGINT))),
      (a, b) -> (a * 1000003 + b) % 2147483647) AS h
  FROM documents d CROSS JOIN sh
),
sq AS (SELECT doc_id, shard, (h * h) % 2147483647 AS score FROM scored),
best AS (
  SELECT doc_id,
         (max(struct_pack(score := score, shard := shard))).shard AS shard
  FROM sq GROUP BY doc_id
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM best GROUP BY shard
"""


def _q_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L over three engineered pair families whose LCS is known
    in CLOSED FORM — self (lcs=m), every-3rd-token subsequence
    (lcs=|hyp| exactly: a subsequence IS its own LCS witness), and
    suffix-poisoned disjoint tokens (lcs=0) — so the real numpy DP
    kernel is value-gated against pure token arithmetic (the
    otsl_roundtrip_teds closed-form-fixture discipline). All outputs
    are exact integer micros (F1 = 2·lcs/(m+n): no floats exist)."""
    from docling_eval_spark.evaluators.text_metrics import rouge_l_stage

    # spread the numpy LCS DP kernel across cores (the self family
    # pays a 512×512 DP/pair)
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.slice(
        F.filter(F.split(F.trim(F.col("text")), _WS), lambda x: x != ""),
        1,
        512,
    )
    base = d.select("doc_id", toks.alias("t"))
    ref = F.concat_ws(" ", F.col("t"))
    fam = base.select(
        F.lit("self").alias("family"),
        "doc_id",
        ref.alias("hyp"),
        ref.alias("ref"),
    ).unionAll(
        base.select(
            F.lit("sub3").alias("family"),
            "doc_id",
            F.concat_ws(
                " ", F.filter(F.col("t"), lambda x, i: i % 3 == 0)
            ).alias("hyp"),
            ref.alias("ref"),
        )
    ).unionAll(
        base.select(
            F.lit("disjoint").alias("family"),
            "doc_id",
            F.concat_ws(
                " ",
                F.transform(F.col("t"), lambda x: F.concat(x, F.lit("\x01"))),
            ).alias("hyp"),
            ref.alias("ref"),
        )
    )
    return rouge_l_stage(fam, "hyp", "ref").select(
        "family", "doc_id", "lcs",
        "rouge_l_p_micro", "rouge_l_r_micro", "rouge_l_f_micro",
    )


_SQL_ROUGE_L = r"""
WITH m0 AS (
  SELECT doc_id,
    least(len(list_filter(regexp_split_to_array(trim(text),
                                                '[ \t\n\r\f\v]+'),
                          x -> x <> '')), 512) AS m
  FROM documents
),
f AS (
  SELECT 'self' AS family, doc_id, m,
         CAST(m AS BIGINT) AS n, CAST(m AS BIGINT) AS lcs
  FROM m0
  UNION ALL
  SELECT 'sub3', doc_id, m,
         CAST((m + 2) // 3 AS BIGINT), CAST((m + 2) // 3 AS BIGINT)
  FROM m0
  UNION ALL
  SELECT 'disjoint', doc_id, m, CAST(m AS BIGINT), CAST(0 AS BIGINT)
  FROM m0
)
SELECT family, doc_id, lcs,
  CAST(CASE WHEN n > 0 THEN (lcs * 1000000) // n ELSE 0 END
       AS BIGINT) AS rouge_l_p_micro,
  CAST(CASE WHEN m > 0 THEN (lcs * 1000000) // m ELSE 0 END
       AS BIGINT) AS rouge_l_r_micro,
  CAST(CASE WHEN m + n > 0 THEN (2 * lcs * 1000000) // (m + n) ELSE 0 END
       AS BIGINT) AS rouge_l_f_micro
FROM f
"""


def _q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations (Church & Hanks 1990) over adjacent
    token bigrams: one token explode feeds both count tables, micro-
    nat quantized scores, deterministic (pmi, ga, gb) ordering."""
    from docling_eval_spark.operators.text_analysis import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), min_count=5, k=50)


_SQL_PMI = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+'),
                     x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT g, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS g FROM tk) GROUP BY g
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_tot FROM uni),
bg AS (
  SELECT t[i] AS ga, t[i + 1] AS gb
  FROM tk, LATERAL unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i)
),
bi AS (
  SELECT ga, gb, CAST(count(*) AS BIGINT) AS c_ab
  FROM bg GROUP BY ga, gb HAVING count(*) >= 5
),
btot AS (SELECT CAST(count(*) AS BIGINT) AS b_tot FROM bg),
j AS (
  SELECT bi.ga, bi.gb, bi.c_ab,
    CAST(round(ln(CAST(bi.c_ab * tot.t_tot * tot.t_tot AS DOUBLE)
                  / CAST(btot.b_tot * ua.c * ub.c AS DOUBLE))
               * 1000000) AS BIGINT) AS pmi_micro
  FROM bi
  JOIN uni ua ON ua.g = bi.ga
  JOIN uni ub ON ub.g = bi.gb
  CROSS JOIN tot CROSS JOIN btot
)
SELECT ga, gb, c_ab, pmi_micro
FROM j ORDER BY pmi_micro DESC, ga, gb LIMIT 50
"""


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase ordered funnel over events: per-step
    user-keyed min aggregates chained through ts ≥ prev filters
    (no window sort, no event-list collect), integer-ppm conversion."""
    from docling_eval_spark.operators.temporal import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


_SQL_FUNNEL = r"""
WITH r1 AS (
  SELECT user_id AS u, min(ts) AS prev_t
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
r2 AS (
  SELECT e.user_id AS u, min(e.ts) AS prev_t
  FROM events e JOIN r1 ON r1.u = e.user_id
  WHERE e.event_type = 'click' AND e.ts >= r1.prev_t
  GROUP BY e.user_id
),
r3 AS (
  SELECT e.user_id AS u, min(e.ts) AS prev_t
  FROM events e JOIN r2 ON r2.u = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= r2.prev_t
  GROUP BY e.user_id
),
n AS (
  SELECT CAST(1 AS BIGINT) AS step_no, 'view' AS step,
         CAST((SELECT count(*) FROM r1) AS BIGINT) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT count(*) FROM r2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT count(*) FROM r3)
)
SELECT step_no, step, n_users,
  CAST(CASE WHEN (SELECT count(*) FROM r1) > 0
       THEN (n_users * 1000000) // (SELECT count(*) FROM r1)
       ELSE 0 END AS BIGINT) AS conv_ppm
FROM n
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry ORDER is load-bearing: the correctness driver gates the
    # FIRST 50 entries each round. Round-5 rotation (VERDICT r4 #1):
    # every query WITHOUT a prior driver row fills the 50-slot window
    # — the 16 flagged by VERDICT r4, all round-5 additions, and the
    # two late registrations (morton_layout, ann_recall). The 10
    # window slots left over hold r02/r03-green queries; everything
    # r04-green sits at positions 51+ and rotates forward next round.
    # Every entry keeps its oracle regardless of position —
    # scripts/check_oracles.py verifies ALL of them.
    return {
        "vocab_growth": _with_pkg(_q_vocab_growth),
        "repetition_bigrams": _with_pkg(_q_repetition_bigrams),
        "near_dup_pairs": _with_pkg(_q_near_dup_pairs),
        "embedding_dup_clusters": _with_pkg(_q_embedding_dup_clusters),
        "morton_layout": _with_pkg(_q_morton_layout),
        "ann_recall": _with_pkg(_q_ann_recall),
        "image_near_dups": _with_pkg(_q_image_near_dups),
        "audio_near_dups": _with_pkg(_q_audio_near_dups),
        "video_near_dups": _with_pkg(_q_video_near_dups),
        "duplicate_spans": _with_pkg(_q_duplicate_spans),
        "dedup_clean": _with_pkg(_q_dedup_clean),
        "script_profile": _with_pkg(_q_script_profile),
        "nfc_digests": _with_pkg(_q_nfc_digests),
        "page_rank": _with_pkg(_q_page_rank),
        "asof_latest_error": _with_pkg(_q_asof_latest_error),
        "asof_dup_ties": _with_pkg(_q_asof_dup_ties),
        "sessionize": _with_pkg(_q_sessionize),
        "snapshot_delta": _with_pkg(_q_snapshot_delta),
        "snapshot_churn": _with_pkg(_q_snapshot_churn),
        "latest_snapshot": _with_pkg(_q_latest_snapshot),
        "vocab_stats": _with_pkg(_q_vocab_stats),
        "pii_scrub": _with_pkg(_q_pii_scrub),
        "blocklist": _with_pkg(_q_blocklist),
        "cms_heavy_hitters": _with_pkg(_q_cms_heavy_hitters),
        "char_entropy": _with_pkg(_q_char_entropy),
        "embedding_outliers": _with_pkg(_q_embedding_outliers),
        "web_ingest": _with_pkg(_q_web_ingest),
        "sentence_dedup": _with_pkg(_q_sentence_dedup),
        "crawl_rate": _with_pkg(_q_crawl_rate),
        "token_budget": _with_pkg(_q_token_budget),
        "quality_lr": _with_pkg(_q_quality_lr),
        "inverted_index": _with_pkg(_q_inverted_index),
        "bm25_topk": _with_pkg(_q_bm25_topk),
        "anchor_rollup": _with_pkg(_q_anchor_rollup),
        "mojibake": _with_pkg(_q_mojibake),
        "domain_rollup": _with_pkg(_q_domain_rollup),
        "page_metadata": _with_pkg(_q_page_metadata),
        "hll_users": _with_pkg(_q_hll_users),
        "len_quantiles": _with_pkg(_q_len_quantiles),
        "epoch_shards": _with_pkg(_q_epoch_shards),
        "change_rates": _with_pkg(_q_change_rates),
        "sitemap_frontier": _with_pkg(_q_sitemap_frontier),
        "politeness_slots": _with_pkg(_q_politeness_slots),
        "lsh_eval": _with_pkg(_q_lsh_eval),
        "salted_join": _with_pkg(_q_salted_join),
        "skew_hot_keys": _with_pkg(_q_skew_hot_keys),
        "crawl_bursts": _with_pkg(_q_crawl_bursts),
        "robots_sitemap_urls": _with_pkg(_q_robots_sitemap_urls),
        "template_census": _with_pkg(_q_template_census),
        "lang_confusion": _with_pkg(_q_lang_confusion),
        "compaction_groups": _with_pkg(_q_compaction_groups),
        # pack_sequences/dsir_sample registered after the window
        # filled (position 51+): oracle-gated locally this round,
        # rotate into the driver window next round
        "pack_sequences": _with_pkg(_q_pack_sequences),
        "dsir_sample": _with_pkg(_q_dsir_sample),
        "hits": _with_pkg(_q_hits),
        "temperature_mix": _with_pkg(_q_temperature_mix),
        "span_corrupt": _with_pkg(_q_span_corrupt),
        "term_filter": _with_pkg(_q_term_filter),
        "bpe_merges": _with_pkg(_q_bpe_merges),
        "mlm_mask": _with_pkg(_q_mlm_mask),
        "fim_transform": _with_pkg(_q_fim_transform),
        "bpe_fertility": _with_pkg(_q_bpe_fertility),
        "bitext_align": _with_pkg(_q_bitext_align),
        "quality_gate": _with_pkg(_q_quality_gate),
        # canonical_urls/host_stats/winnow_fps/line_dedup/host_cap
        # are driver-green in r02/r03 — rotated just past the 50-slot
        # window to admit the late-registered never-gated queries
        # (morton_layout, ann_recall, image/audio/video_near_dups);
        # their oracles still gate them locally
        "canonical_urls": _with_pkg(_q_canonical_urls),
        "host_stats": _with_pkg(_q_host_stats),
        "winnow_fps": _with_pkg(_q_winnow_fps),
        "line_dedup": _with_pkg(_q_line_dedup),
        "host_cap": _with_pkg(_q_host_cap),
        "event_type_counts": _with_pkg(_q_event_type_counts),
        "delta_histogram": _with_pkg(_q_delta_histogram),
        "histogram_cumsum": _with_pkg(_q_histogram_cumsum),
        "topk_orders": _with_pkg(_q_topk_orders),
        "revenue_by_nation": _with_pkg(_q_revenue_by_nation),
        "customers_without_orders": _with_pkg(_q_customers_without_orders),
        "nations_with_suppliers": _with_pkg(_q_nations_with_suppliers),
        "deterministic_sample": _with_pkg(_q_deterministic_sample),
        "shard_buckets": _with_pkg(_q_shard_buckets),
        "union_segments": _with_pkg(_q_union_segments),
        "doc_digests": _with_pkg(_q_doc_digests),
        "regex_clean": _with_pkg(_q_regex_clean),
        "char_edit_distance": _with_pkg(_q_char_edit_distance),
        "token_set_metrics": _with_pkg(_q_token_set_metrics),
        "reading_order_ard": _with_pkg(_q_reading_order_ard),
        "iou_boxes": _with_pkg(_q_iou_boxes),
        "token_counts": _with_pkg(_q_token_counts),
        "quality_by_source": _with_pkg(_q_quality_by_source),
        "lang_id": _with_pkg(_q_lang_id),
        "exact_dedup": _with_pkg(_q_exact_dedup),
        "ngram_jaccard": _with_pkg(_q_ngram_jaccard),
        "fingerprint": _with_pkg(_q_fingerprint),
        "cosine_topk": _with_pkg(_q_cosine_topk),
        "lsh_topk": _with_pkg(_q_lsh_topk),
        "ivf_topk": _with_pkg(_q_ivf_topk),
        "minhash_incremental": _with_pkg(_q_minhash_incremental),
        "point_in_box": _with_pkg(_q_point_in_box),
        "kv_link_metrics": _with_pkg(_q_kv_link_metrics),
        "extract_md5": _with_pkg(_q_extract_md5),
        "extract_match_stats": _with_pkg(_q_extract_match_stats),
        "minhash_pairs": _with_pkg(_q_minhash_pairs),
        "near_dup_components": _with_pkg(_q_near_dup_components),
        "simhash": _with_pkg(_q_simhash),
        "bbox_text_metrics": _with_pkg(_q_bbox_text_metrics),
        "otsl_roundtrip_teds": _with_pkg(_q_otsl_roundtrip_teds),
        "corpus_map": _with_pkg(_q_corpus_map),
        "layout_class_ap": _with_pkg(_q_layout_class_ap),
        "greedy_iou": _with_pkg(_q_greedy_iou),
        "ngram_lm": _with_pkg(_q_ngram_lm),
        "clean_corpus": _with_pkg(_q_clean_corpus),
        "tfidf_top_terms": _with_pkg(_q_tfidf_top_terms),
        "contamination": _with_pkg(_q_contamination),
        "chunk_documents": _with_pkg(_q_chunk_documents),
        "stratified_sample": _with_pkg(_q_stratified_sample),
        "robots_gate": _with_pkg(_q_robots_gate),
        "bloom_semi": _with_pkg(_q_bloom_semi),
        "teds_known_distance": _with_pkg(_q_teds_known_distance),
        "gopher_quality": _with_pkg(_q_gopher_quality),
        # four-rounds-green fillers rotated OUT of the 50-slot driver
        # window to admit compaction_groups/morton_layout; their
        # oracles still gate them in every local sweep
        "pricing_summary": _with_pkg(_q_pricing_summary),
        "stats_discount": _with_pkg(_q_stats_discount),
        # appended post-rotation: next round's window candidates
        "pq_topk": _with_pkg(_q_pq_topk),
        "semantic_dedup": _with_pkg(_q_semantic_dedup),
        "hard_negatives": _with_pkg(_q_hard_negatives),
        "distinct_ngrams": _with_pkg(_q_distinct_ngrams),
        "data_card": _with_pkg(_q_data_card),
        "dup_ngram_frac": _with_pkg(_q_dup_ngram_frac),
        "trust_rank": _with_pkg(_q_trust_rank),
        "host_boilerplate": _with_pkg(_q_host_boilerplate),
        "crawl_traps": _with_pkg(_q_crawl_traps),
        "link_reciprocity": _with_pkg(_q_link_reciprocity),
        "extractor_agreement": _with_pkg(_q_extractor_agreement),
        "merge_recrawl": _with_pkg(_q_merge_recrawl),
        "crawl_budget": _with_pkg(_q_crawl_budget),
        "cluster_survivors": _with_pkg(_q_cluster_survivors),
        "budgeted_frontier": _with_pkg(_q_budgeted_frontier),
        "cdc_chunks": _with_pkg(_q_cdc_chunks),
        "ccnet_buckets": _with_pkg(_q_ccnet_buckets),
        "chrf_pairs": _with_pkg(_q_chrf_pairs),
        "readability": _with_pkg(_q_readability),
        "js_drift": _with_pkg(_q_js_drift),
        "containment": _with_pkg(_q_containment),
        "crawl_depth": _with_pkg(_q_crawl_depth),
        "weighted_sample": _with_pkg(_q_weighted_sample),
        "rendezvous_shards": _with_pkg(_q_rendezvous),
        "rouge_l": _with_pkg(_q_rouge_l),
        "pmi_collocations": _with_pkg(_q_pmi_collocations),
        "funnel": _with_pkg(_q_funnel),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "vocab_growth": _SQL_VOCAB_GROWTH,
        "pricing_summary": _SQL_PRICING,
        "stats_discount": _SQL_STATS,
        "event_type_counts": _SQL_EVENT_COUNTS,
        "delta_histogram": _SQL_DELTA_HIST,
        "histogram_cumsum": _SQL_HIST_CUMSUM,
        "topk_orders": _SQL_TOPK,
        "revenue_by_nation": _SQL_REVENUE,
        "customers_without_orders": _SQL_ANTI,
        "nations_with_suppliers": _SQL_SEMI,
        "deterministic_sample": _SQL_SAMPLE,
        "shard_buckets": _SQL_BUCKETS,
        "union_segments": _SQL_UNION,
        "doc_digests": _SQL_DIGESTS,
        "regex_clean": _SQL_REGEX_CLEAN,
        "char_edit_distance": _SQL_EDIT,
        "token_set_metrics": _SQL_TOKEN_SET,
        "reading_order_ard": _SQL_ARD,
        "iou_boxes": _SQL_IOU,
        "token_counts": _SQL_TOKEN_COUNTS,
        "quality_by_source": _SQL_QUALITY,
        "lang_id": _SQL_LANG_ID,
        "exact_dedup": _SQL_EXACT_DEDUP,
        "ngram_jaccard": _SQL_NGRAM_JACCARD,
        "fingerprint": _SQL_FINGERPRINT,
        "cosine_topk": _SQL_COSINE_TOPK,
        "lsh_topk": _sql_lsh_topk(),
        "ivf_topk": _sql_ivf_topk(),
        "minhash_incremental": _sql_minhash_incremental(),
        "point_in_box": _SQL_POINT_IN_BOX,
        "kv_link_metrics": _SQL_KV_LINKS,
        "extract_md5": _SQL_EXTRACT_MD5,
        "extract_match_stats": _SQL_EXTRACT_MATCH,
        "minhash_pairs": _sql_minhash_pairs(),
        "near_dup_components": _sql_near_dup_components(),
        "simhash": _SQL_SIMHASH,
        "bbox_text_metrics": _SQL_BBOX_TEXT,
        "otsl_roundtrip_teds": _SQL_OTSL_ROUNDTRIP,
        "corpus_map": _sql_corpus_map(),
        "layout_class_ap": _sql_layout_class_ap(),
        "greedy_iou": _sql_greedy_iou(),
        "ngram_lm": _SQL_NGRAM_LM,
        "clean_corpus": _SQL_CLEAN_CORPUS,
        "tfidf_top_terms": _SQL_TFIDF,
        "inverted_index": _SQL_INVERTED_INDEX,
        "bm25_topk": _SQL_BM25,
        "anchor_rollup": _SQL_ANCHOR_ROLLUP,
        "mojibake": _SQL_MOJIBAKE,
        "domain_rollup": _SQL_DOMAIN_ROLLUP,
        "page_metadata": _SQL_PAGE_METADATA,
        "hll_users": _SQL_HLL_USERS,
        "len_quantiles": _SQL_LEN_QUANTILES,
        "epoch_shards": _SQL_EPOCH_SHARDS,
        "change_rates": _SQL_CHANGE_RATES,
        "sitemap_frontier": _SQL_SITEMAP_FRONTIER,
        "politeness_slots": _SQL_POLITENESS_SLOTS,
        "lsh_eval": _sql_lsh_eval(),
        "salted_join": _SQL_SALTED_JOIN,
        "skew_hot_keys": _SQL_SKEW_HOT_KEYS,
        "crawl_bursts": _SQL_CRAWL_BURSTS,
        "robots_sitemap_urls": _SQL_ROBOTS_SITEMAP_URLS,
        "template_census": _SQL_TEMPLATE_CENSUS,
        "lang_confusion": _SQL_LANG_CONFUSION,
        "compaction_groups": _SQL_COMPACTION_GROUPS,
        "pack_sequences": _SQL_PACK,
        "dsir_sample": _SQL_DSIR,
        "hits": _sql_hits(),
        "temperature_mix": _SQL_TEMPERATURE_MIX,
        "span_corrupt": _SQL_SPAN_CORRUPT,
        "term_filter": _SQL_TERM_FILTER,
        "bpe_merges": _sql_bpe(8),
        "mlm_mask": _SQL_MLM,
        "fim_transform": _SQL_FIM,
        "bpe_fertility": _sql_bpe_fertility(4),
        "bitext_align": _SQL_BITEXT,
        "quality_gate": _sql_quality_gate(),
        "morton_layout": _sql_morton_layout(),
        "ann_recall": _sql_ann_recall(),
        "image_near_dups": _sql_image_near_dups(),
        "audio_near_dups": _sql_audio_near_dups(),
        "video_near_dups": _sql_video_near_dups(),
        "contamination": _SQL_CONTAMINATION,
        "chunk_documents": _SQL_CHUNKS,
        "stratified_sample": _SQL_STRATIFIED,
        "robots_gate": _SQL_ROBOTS_GATE,
        "bloom_semi": _SQL_BLOOM_SEMI,
        "teds_known_distance": _SQL_TEDS_KNOWN,
        "gopher_quality": _SQL_GOPHER,
        "quality_lr": _sql_quality_lr(),
        "repetition_bigrams": _SQL_REPETITION,
        "near_dup_pairs": _sql_near_dup_pairs(),
        "embedding_dup_clusters": _sql_embedding_dup_clusters(),
        "canonical_urls": _SQL_CANON_URLS,
        "host_stats": _SQL_HOST_STATS,
        "line_dedup": _SQL_LINE_DEDUP,
        "winnow_fps": _SQL_WINNOW,
        "duplicate_spans": _SQL_DUP_SPANS,
        "dedup_clean": _SQL_DEDUP_CLEAN,
        "host_cap": _SQL_HOST_CAP,
        "script_profile": _sql_script_profile(),
        "nfc_digests": _SQL_NFC,
        "page_rank": _sql_page_rank(10),
        "asof_latest_error": _SQL_ASOF,
        "asof_dup_ties": _SQL_ASOF_DUP,
        "sessionize": _SQL_SESSIONIZE,
        "snapshot_delta": _SQL_SNAPSHOT_DELTA,
        "snapshot_churn": _SQL_SNAPSHOT_CHURN,
        "latest_snapshot": _SQL_LATEST_SNAPSHOT,
        "vocab_stats": _SQL_VOCAB_STATS,
        "pii_scrub": _SQL_PII,
        "blocklist": _SQL_BLOCKLIST,
        "cms_heavy_hitters": _SQL_CMS,
        "char_entropy": _SQL_CHAR_ENTROPY,
        "embedding_outliers": _SQL_EMBEDDING_OUTLIERS,
        "web_ingest": _SQL_WEB_INGEST,
        "sentence_dedup": _SQL_SENTENCE_DEDUP,
        "crawl_rate": _SQL_CRAWL_RATE,
        "token_budget": _SQL_TOKEN_BUDGET,
        "pq_topk": _sql_pq_topk(),
        "semantic_dedup": _sql_semantic_dedup(),
        "hard_negatives": _SQL_HARD_NEGATIVES,
        "distinct_ngrams": _SQL_DISTINCT_NGRAMS,
        "data_card": _sql_data_card(),
        "dup_ngram_frac": _SQL_DUP_NGRAM_FRAC,
        "trust_rank": _sql_trust_rank(8),
        "host_boilerplate": _SQL_HOST_BOILERPLATE,
        "crawl_traps": _SQL_CRAWL_TRAPS,
        "link_reciprocity": _SQL_LINK_RECIPROCITY,
        "extractor_agreement": _SQL_EXTRACTOR_AGREEMENT,
        "merge_recrawl": _SQL_MERGE_RECRAWL,
        "crawl_budget": _sql_crawl_budget(),
        "cluster_survivors": _sql_cluster_survivors(),
        "budgeted_frontier": _sql_budgeted_frontier(),
        "cdc_chunks": _SQL_CDC_CHUNKS,
        "ccnet_buckets": _sql_ccnet_buckets(),
        "chrf_pairs": _SQL_CHRF,
        "readability": _SQL_READABILITY,
        "js_drift": _SQL_JS_DRIFT,
        "containment": _SQL_CONTAINMENT,
        "crawl_depth": _sql_crawl_depth(),
        "weighted_sample": _SQL_WEIGHTED_SAMPLE,
        "rendezvous_shards": _sql_rendezvous(),
        "rouge_l": _SQL_ROUGE_L,
        "pmi_collocations": _SQL_PMI,
        "funnel": _SQL_FUNNEL,
    }
