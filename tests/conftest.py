from __future__ import annotations

import re
import uuid

import pytest

from docling_eval_spark.session import get_spark

# physical plan nodes whose tasks run Python workers
PYTHON_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "Scan ExistingRDD",
)
_TREE_PREFIX = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?")


def plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def python_nodes(df) -> list[str]:
    """The Python-executing nodes of ``df``'s executed plan, one entry
    per node, in plan order."""
    found = []
    for line in plan_string(df).splitlines():
        node = _TREE_PREFIX.sub("", line)
        found += [n for n in PYTHON_NODES if node.startswith(n)]
    return found


def jobs_in(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"jobs-in-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def in_workers(spark, fn) -> dict:
    """``fn()`` run once in each of ``spark``'s Python workers: one task
    per core, started together as a barrier stage, so each task holds a
    worker process of its own. Returns ``{worker pid: fn()}``. ``fn``
    must be picklable by value (a lambda or a nested function) or
    importable in the worker."""
    sc = spark.sparkContext
    n = sc.defaultParallelism

    def run(_):
        import os

        yield os.getpid(), fn()

    return dict(sc.parallelize(range(n), n).barrier().mapPartitions(run).collect())


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()
