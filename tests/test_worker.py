"""The worker hook (``docling_eval_spark.worker.prepare_worker``): a
reused Python worker pays a few ms of its own CPU per task instead of
~240 ms, a zip archive is re-read only when it changed, and the driver
is never patched."""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import textwrap
import zipimport
from pathlib import Path

import pytest

from conftest import in_workers

REPO = Path(__file__).resolve().parents[1]
ZIP_STAT_KEYED = sys.version_info < (3, 12)


def test_hook_runs_in_every_worker(spark):
    def hook_state():
        import gc
        import zipimport

        import docling_eval_spark  # noqa: F401  (runs the hook in a worker)

        keyed = getattr(zipimport.zipimporter.invalidate_caches, "stat_keyed", False)
        return gc.get_freeze_count() > 0, keyed

    assert set(in_workers(spark, hook_state).values()) == {(True, ZIP_STAT_KEYED)}


def test_driver_is_not_patched(spark):
    """The test process is a live driver with ``pyspark.taskcontext``
    loaded and the package imported: nothing was patched or frozen."""
    import docling_eval_spark.pipelines  # noqa: F401

    assert "pyspark.taskcontext" in sys.modules
    assert not getattr(zipimport.zipimporter.invalidate_caches, "stat_keyed", False)
    assert gc.get_freeze_count() == 0


def test_reused_worker_task_cost(spark):
    """The CPU a reused worker spends between two tiny tasks — the
    daemon's collection after one, the next one's set-up and
    ``importlib.invalidate_caches()`` — stays under 50 ms (175–300 ms
    without the hook on Python 3.11)."""

    def clock():
        import time

        import docling_eval_spark  # noqa: F401

        return time.process_time()

    rounds = [in_workers(spark, clock) for _ in range(14)]
    gaps = [
        cur[pid] - prev[pid]
        for prev, cur in zip(rounds[2:], rounds[3:])  # after the hook's first re-reads
        for pid in cur.keys() & prev.keys()
    ]
    assert len(gaps) >= 10
    assert max(gaps) < 0.05, sorted(gaps)


_ZIP_SCRIPT = """
import importlib, os, sys, zipfile, zipimport

def write(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", f"VALUE = {value!r}\\n")
        z.writestr("zpkg/sub.py", "")

archive = os.path.abspath("z.zip")
write(archive, 1)
sys.path.insert(0, archive)
import zpkg, zpkg.sub
importers = [i for i in sys.path_importer_cache.values()
             if isinstance(i, zipimport.zipimporter) and i.archive == archive]
assert len(importers) == 2, importers  # z.zip/, z.zip/zpkg/

from docling_eval_spark.worker import prepare_worker
prepare_worker()
reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)

def reads_of_archive():
    importlib.invalidate_caches()
    return reads.count(archive)

assert reads_of_archive() == 1  # no read recorded yet: one read for both importers
assert reads_of_archive() == 1  # unchanged: no read
assert reads_of_archive() == 1
write(archive, "rewritten")
assert reads_of_archive() == 2  # changed: one read for both importers
assert reads_of_archive() == 2
del sys.modules["zpkg"], sys.modules["zpkg.sub"]
import zpkg
assert zpkg.VALUE == "rewritten", zpkg.VALUE

added = os.path.abspath("y.zip")
with zipfile.ZipFile(added, "w") as z:
    z.writestr("ymod.py", "VALUE = 7\\n")
sys.path.insert(0, added)
importlib.invalidate_caches()
import ymod
assert ymod.VALUE == 7
print("ok")
"""


@pytest.mark.skipif(not ZIP_STAT_KEYED, reason="zip directory reads are lazy on 3.12+")
def test_zip_archive_reread_only_when_changed(tmp_path):
    """In a fresh interpreter, after the hook: an unchanged archive is
    not re-read by ``importlib.invalidate_caches()``, a rewritten one is
    re-read once for all of its importers and its new contents import,
    and a newly added zip imports."""
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    done = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(_ZIP_SCRIPT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip() == "ok"
