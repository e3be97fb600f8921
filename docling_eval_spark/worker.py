"""Once-per-process set-up of a PySpark Python worker.

A reused Python worker pays two costs at every task before it reads a
row (Spark 4.1, Python 3.11):

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``, and on Python < 3.12 that makes
  every cached ``zipimporter`` re-read its archive's central directory
  (``spark-core``'s jar, ``pyspark.zip`` once per sub-package, the py4j
  zip and any ``addPyFile`` zip): 150-250 ms of CPU a task;
- ``pyspark.daemon`` runs a full ``gc.collect()`` after each task, which
  walks the whole numpy/pandas/pyarrow import heap: ~50 ms a task.

:func:`prepare_worker` removes both causes once per worker process. The
package ``__init__`` calls it when it is imported inside a task, never
in the driver.
"""

from __future__ import annotations

import gc
import os
import sys


def prepare_worker() -> None:
    """Key zip directory re-reads on the archive's stat (Python < 3.12)
    and move the import heap into the collector's permanent generation,
    so the per-task collection scans only what tasks allocate."""
    if sys.version_info < (3, 12):
        _stat_keyed_zip_invalidation()
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()


def _stat_keyed_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(inode, size, mtime)`` changed
    since its last read, and then once per archive: the other importers
    of that archive take the shared ``_zip_directory_cache`` entry. A
    rewritten or newly added zip is still seen."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        archive = self.archive
        try:
            st = os.stat(archive)
            key = st.st_ino, st.st_size, st.st_mtime_ns
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(archive)
        if key is not None and files is not None and read_at.get(archive) == key:
            self._files = files
            return
        # stat before the read: a write racing the read leaves a key
        # that no longer matches, so the next call reads again
        reread(self)
        if key is not None and archive in zipimport._zip_directory_cache:
            read_at[archive] = key
        else:
            read_at.pop(archive, None)

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
