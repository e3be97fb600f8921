"""Spark session life cycle for the benchmark.

Everything a run writes — inputs, outputs, Spark scratch space, the
event log, the zipped package for the workers — lives under one work
directory inside the checkout, and the JVM (with its Python workers)
is shut down and reaped before the run ends.
"""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import time
from pathlib import Path

import pyspark
from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from docling_eval_spark.session import get_spark

# modules the workloads' Python kernels import in the workers
WORKER_MODULES = (
    "docling_eval_spark.extraction.stage",
    "docling_eval_spark.extraction.perturb",
    "docling_eval_spark.evaluators.text_metrics",
    "docling_eval_spark.evaluators.teds",
    "docling_eval_spark.evaluators.layout",
    "docling_eval_spark.evaluators.bbox_text",
    "docling_eval_spark.operators.web_ops",
    "docling_eval_spark.operators.dedup",
    "docling_eval_spark.operators.text_analysis",
)
DRIVER_HEAP = "2g"
# The driver JVM compiles with C1 only and collects on one thread, so
# that ``cpu_s`` counts the program's work rather than the JIT's and the
# collector's. With C2, a fresh JVM spends about as much CPU compiling
# during its first pipeline iteration as the iteration itself uses, and
# how much of that lands inside the iteration depends on how fast the
# host lets the compile queue drain. With C1 the first iteration costs
# about what a warm one does.
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_HEAP} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every scratch location of the driver, the JVM and the
    Python workers into ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    # every JVM the launcher starts: no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    # the inputs are small: a fixed 2 GB heap keeps the driver's RSS
    # from following the collector's heap-sizing choices
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP


def start_session(
    work: Path, cores: int, eventlog_dir: Path | None = None
) -> SparkSession:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
    }
    if eventlog_dir is not None:
        eventlog_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(eventlog_dir),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    # zips the package into the work directory's temp dir and ships it
    # to the Python workers, once per session (the registry queries
    # call it again, as a no-op)
    import __spark_entry__

    __spark_entry__._ensure_pkg(spark)
    return spark


def warm_workers(spark: SparkSession, cores: int) -> None:
    """Start one Python worker per core and import the kernels' modules
    in it, so the first timed job does not pay for it."""

    def load(batches):
        import importlib

        for mod in WORKER_MODULES:
            importlib.import_module(mod)
        yield from batches

    spark.range(0, cores * 4, 1, cores).mapInPandas(
        load, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    # JIT-compile the engine's common paths: scan, join, aggregate, write
    path = str(Path(tempfile.gettempdir()) / "warmup")
    df = spark.range(0, 200_000, 1, cores).selectExpr("id", "id % 97 AS k", "md5(cast(id AS string)) AS s")
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    back.join(back.groupBy("k").count(), "k").groupBy("count").agg({"s": "max"}).collect()


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the gateway JVM (and with it the Python worker daemon) and
    wait for it to exit."""
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the JVM may already be gone
    if proc is not None:
        proc.stdin.close()
        deadline = time.monotonic() + timeout_s
        while proc.poll() is None and time.monotonic() < deadline:
            time.sleep(0.1)
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def versions() -> dict[str, str]:
    return {
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every process this run started to exit; kill the ones
    still alive after ``timeout_s``."""
    from procmon import descendants

    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)
