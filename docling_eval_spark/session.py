"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` in one JVM; the configs below are the
ones that matter identically on a 1000-executor cluster:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow on with a bounded batch size (extraction rows carry whole HTML
  documents, so records/batch is tuned down from the 10k default),
- shuffle partitions sized to cores locally (set explicitly per-job at
  cluster scale),
- UTC session timezone so results compare bit-for-bit against the
  DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

# Columns carrying whole HTML pages make the default 10k-row Arrow batch
# too large; 1k keeps executor-side pandas frames ~tens of MB.
ARROW_BATCH_ROWS = 1024


def get_spark(
    app_name: str = "docling-eval-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` honors $SPARK_GRAFT_CPUS, defaulting to local[*].
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.session.timeZone", "UTC")
        # CPU-bound Python kernels need task counts set by rows-worth-
        # of-work, not bytes: 32 MB of page HTML ≈ 15k docs ≈ 30 s of
        # kernel time per task — fine-grained enough to keep all cores
        # busy, coarse enough to amortize Arrow batch setup. (The
        # 128 MB default produced 3 tasks for a 76 MB corpus.)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """Small driver-side rows (tuples in ``schema`` order) as a
    DataFrame whose plan is a ``LocalTableScan``.

    The rows travel as one ``pyarrow.Table``, so no Python worker runs
    for them; ``spark.createDataFrame(list, schema)`` instead plans a
    PythonRDD scan whose tasks each start a Python worker. Built
    column by column with the Arrow type of each field, so NULL and NaN
    stay distinct (a pandas hop would turn NaN into NULL)."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def coalesce_to_rows(df: DataFrame) -> DataFrame:
    """``df`` coalesced to one partition per 65,536 rows of its
    MEASURED row count, at least 1 and at most the cluster's
    ``defaultParallelism``; ``df`` itself when it has no more partitions
    than that. For a small frame that inherited a corpus-sized shuffle
    partitioning, so each later pass over it schedules tasks in
    proportion to its rows. The count is one job; on a persisted frame
    it also fills the cache. Unpersist ``df``, not the result: a
    coalesce is a new, uncached frame."""
    parts = max(
        1,
        min(df.sparkSession.sparkContext.defaultParallelism, -(-df.count() // 65_536)),
    )
    return df.coalesce(parts) if parts < df.rdd.getNumPartitions() else df


def release_checkpoint(df: DataFrame | None) -> None:
    """Drop the blocks of an eager ``localCheckpoint`` frame (no-op for
    ``None``). ``DataFrame.unpersist`` does not do it: it uncaches
    ``persist``-ed plans only, while a local checkpoint's blocks belong
    to the RDD under the frame's ``LogicalRDD`` plan. The frame must not
    be read afterwards."""
    if df is not None:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
