"""docling_eval_spark — a PySpark-native document-extraction-and-evaluation engine.

A from-scratch rebuild of the capabilities of DS4SD/docling-eval
(reference snapshot at /root/reference, 2025-03-14) as an idiomatic
Spark pipeline:

- ``extraction``  — vectorized HTML/PDF main-content extraction kernels
  (the Spark-native analog of the reference's converter stage,
  ``converters/conversion.py``), run through ``mapInPandas``.
- ``evaluators``  — the reference's quality metrics (layout mAP, table
  TEDS, reading-order ARD, markdown/text BLEU & F1 & edit distance,
  histogram stats) re-expressed as DataFrame aggregations + pandas UDF
  kernels.
- ``operators``   — large-scale training-data-pipeline operators the
  reference lacks: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard), similarity search, text analysis, media near-dup hashes.
- ``datagen``     — deterministic synthetic Common-Crawl-style pages
  table ``(url, warc_ts, html, text, lang)`` for tests and benchmarks.

Nothing here imports from or depends on the reference repo.

Imported inside a Spark task (a PySpark Python worker), the package
first runs ``worker.prepare_worker`` once for the worker process; in
the driver the import does nothing else.
"""

import sys as _sys

__version__ = "0.1.0"

# pyspark.worker imports pyspark.taskcontext and sets the task's context
# before it unpickles the task's functions, which import this package
_taskcontext = _sys.modules.get("pyspark.taskcontext")
if _taskcontext is not None and _taskcontext.TaskContext.get() is not None:
    from docling_eval_spark.worker import prepare_worker

    prepare_worker()
