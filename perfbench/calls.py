"""Timed, job-group-tagged calls.

Every public call a workload makes runs inside ``calls(name)``: its
wall time is recorded under ``name``, and in a traced run the Spark
job group is set to ``name`` so the event log attributes the call's
stages to it. Names that start with ``trace/`` mark calls that only a
traced run makes (the noop-sink prefixes that split a fused plan into
layers); they are the tracing overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

TRACE_ONLY = "trace/"


def noop(df: DataFrame) -> None:
    """Run ``df`` to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


class Calls:
    def __init__(self, spark: SparkSession, traced: bool):
        self.spark = spark
        self.traced = traced
        self.wall: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(name, name, interruptOnCancel=False)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def total(self, prefix: str = "") -> float:
        """Wall time of the calls named ``prefix...``, leaving out the
        calls only a traced run makes."""
        return sum(
            t
            for n, t in self.wall.items()
            if n.startswith(prefix) and not n.startswith(TRACE_ONLY)
        )
