"""``operators``: one pass over a fixed set of registry queries.

The set covers the three groups of operator code that the pipeline
never reaches: the iterative graph loops, the kernels that still carry
a Spark-SQL twin, and the ops with open overflow/rounding debts. Each
query's rows are collected, so a pass pays for the driver-side result
too, exactly as a caller of ``queries()`` would.

The tables are the project's sf0.001 reference fixture (seed 42), the
six the query set reads, copied into ``fixture/``; the seed picks the
query order.
"""

from __future__ import annotations

import hashlib
import random
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from calls import Calls
from eventlog import merged

FIXTURE = Path(__file__).resolve().parent / "fixture" / "sf0.001"

# trust_rank, cluster_survivors, bpe_merges and minhash_pairs are left
# out to keep a run near one minute: page_rank runs trust_rank's loop;
# the next two cost 4-6 s each without adding a layer the rest do not
# cover; minhash_pairs' DuckDB oracle alone takes 4.5 s in the gate
GRAPH_LOOPS = ["page_rank", "hits", "crawl_depth", "funnel", "budgeted_frontier"]
SQL_TWIN_KERNELS = [
    "cms_heavy_hitters", "cosine_topk", "chrf_pairs", "cdc_chunks", "mlm_mask",
    "semantic_dedup",
]
DEBT_OPS = ["pmi_collocations", "js_drift", "readability", "vocab_growth"]
QUERIES = GRAPH_LOOPS + SQL_TWIN_KERNELS + DEBT_OPS
TABLES = ["lineitem", "part", "orders", "documents", "events", "embeddings"]


def metric_names() -> list[str]:
    names = [f"operators.{q}.{f}" for q in QUERIES for f in ("wall_s", "jobs")]
    return names + ["operators.task_s", "operators.shuffle_write_mb"]


def _normalize(rows: list[dict], cols: list[str]) -> list[str]:
    """Engine-neutral, order-insensitive rendering of a result (floats
    to 9 significant digits, as the oracle sweep compares them)."""
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            vals.append(f"{v:.9g}" if isinstance(v, float) else str(v))
        out.append("|".join(vals))
    return sorted(out)


class Operators:
    def __init__(self):
        self.queries = entrymod.queries()
        self.results: list[dict[str, tuple[list[str], list]]] = []
        self.sf_dir = str(FIXTURE)
        self.sizes = {t: pq.read_metadata(FIXTURE / f"{t}.parquet").num_rows for t in TABLES}

    def make_inputs(self, spark: SparkSession, inputs: Path, seed: int) -> dict:
        # seeded alternating order: a seeded permutation, reversed on
        # every other pass
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        return dict(self.sizes)

    @property
    def docs(self) -> int:
        return self.sizes["documents"]

    def iterate(self, spark: SparkSession, out: Path, calls: Calls) -> None:
        order = self.order if len(self.results) % 2 == 0 else self.order[::-1]
        got = {}
        for q in order:
            with calls(f"operators.{q}"):
                df = self.queries[q](spark, self.sf_dir)
                rows = df.collect()
            got[q] = (df.columns, rows)
        self.results.append(got)

    def digest(self, out: Path) -> str:
        return _digest(self.results[-1], QUERIES)

    def replay(self, spark: SparkSession, out: Path, rng: random.Random):
        """Run one seeded query of the last pass again and yield
        ``(name, digests equal)``."""
        q = rng.choice(QUERIES)
        df = self.queries[q](spark, self.sf_dir)
        got = {q: (df.columns, df.collect())}
        yield f"operators.{q}", _digest(got, [q]) == _digest(self.results[-1], [q])

    def check(self, spark: SparkSession, out: Path, seed: int):
        """Every query of the last pass against its DuckDB oracle."""
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        oracles = entrymod.oracle_sql()
        failed, notes = 0, []
        for q in QUERIES:
            cols, rows = self.results[-1][q]
            ref = con.execute(oracles[q]).fetch_df()
            rcols = list(ref.columns)
            same = [c.lower() for c in cols] == [c.lower() for c in rcols] and (
                _normalize([r.asDict() for r in rows], cols)
                == _normalize([dict(zip(rcols, t)) for t in ref.itertuples(index=False)], rcols)
            )
            if not same:
                failed += 1
                notes.append(f"oracle mismatch: {q}")
        con.close()
        return len(QUERIES), failed, notes


def accounted_s(calls: Calls, metrics: dict[str, float]) -> float:
    """Wall time of a traced pass that the per-query figures account for."""
    return sum(metrics[f"operators.{q}.wall_s"] for q in QUERIES)


def _digest(got: dict, queries: list[str]) -> str:
    h = hashlib.sha256()
    for q in queries:
        cols, rows = got[q]
        h.update(q.encode())
        h.update("\n".join(_normalize([r.asDict() for r in rows], cols)).encode())
    return h.hexdigest()


def layer_metrics(calls: Calls, stats: dict, docs: int) -> dict[str, float]:
    out = {}
    for q in QUERIES:
        out[f"operators.{q}.wall_s"] = calls.wall[f"operators.{q}"]
        out[f"operators.{q}.jobs"] = merged(stats, [f"operators.{q}"]).jobs
    total = merged(stats, [f"operators.{q}" for q in QUERIES])
    out["operators.task_s"] = total.task_s
    out["operators.shuffle_write_mb"] = total.shuffle_write_mb
    return out
