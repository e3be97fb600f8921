from __future__ import annotations

import re
import shutil
import uuid
from pathlib import Path

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


SF001 = "/root/testdata/sf0.001"

# hand edge rows appended to the sf0.001 documents table for the oracle
# checks: empty, shorter than every window, whitespace-only, NULL,
# non-BMP + CJK code points, repeated-char runs, tab/newline runs, and
# an NBSP-edged text twice (so its k-gram spans are duplicated), and a
# text past chrF's 2000-char cap. Ids are consecutive, so the
# adjacent-pair queries pair edge rows too.
EDGE_DOCS = [
    "",
    "ab",
    "  \t  \n ",
    None,
    "a 𝄞clef😀 b 漢字テキスト c é漢xé漢x d e f g h astral token mix",
    "aaa aaaa baaab aaaaaaaaaaaaaaaaaaaaaaaa the the theology xxxxxxxxxxxxxxxxxxxx",
    "  padded   whitespace\tand\nnewlines\r\n " + "tok " * 12,
    "\u00a0leading NBSP stays; interior\u00a0too and trailing\u00a0",
    "\u00a0leading NBSP stays; interior\u00a0too and trailing\u00a0",
    "abcdefgh" * 300,
]
EDGE_ID0 = 900


@pytest.fixture(scope="session")
def oracle_dir(tmp_path_factory):
    """The sf0.001 tables, with :data:`EDGE_DOCS` appended to
    ``documents``, as parquet files in one directory."""
    import duckdb

    out = tmp_path_factory.mktemp("oracle_sf0.001")
    for f in Path(SF001).glob("*.parquet"):
        if f.name != "documents.parquet":
            shutil.copy(f, out / f.name)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edge (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO edge VALUES (?, ?, 'en', 'edge', ?)",
        [
            (EDGE_ID0 + i, t, None if t is None else len(t))
            for i, t in enumerate(EDGE_DOCS)
        ],
    )
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF001}/documents.parquet') "
        f"UNION ALL SELECT * FROM edge) TO '{out}/documents.parquet' "
        "(FORMAT parquet)"
    )
    con.close()
    return str(out)


def assert_matches_oracle(spark, sf_dir: str, name: str) -> list[tuple]:
    """Run registry query ``name`` on Spark and its ``oracle_sql()``
    entry on DuckDB over the same parquet tables; assert the column
    names and the sorted rows are equal. Returns the sorted rows."""
    import duckdb

    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, sf_dir)
    con = duckdb.connect()
    for f in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(
            f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')"
        )
    cur = con.execute(entry.oracle_sql()[name])
    assert sdf.columns == [d[0] for d in cur.description]
    got = sorted((tuple(r) for r in sdf.collect()), key=repr)
    want = sorted(cur.fetchall(), key=repr)
    con.close()
    assert len(got) == len(want) > 0, (name, len(got), len(want))
    diff = [(a, b) for a, b in zip(got, want) if a != b]
    assert not diff, (name, len(diff), diff[:3])
    return got
