"""``pipeline_web``: the paper's three-phase pipeline.

One iteration is ``create_dataset(perturb=0.2)``, then ``evaluate`` for
every modality and ``visualize`` for three of them, over a seeded
default-mix pages corpus (80 % HTML, 20 % MiniPDF / real PDF). A traced iteration makes
the same calls and, before each phase's real call, the noop-sink
prefixes of its layers, so each layer's self time is a difference of
two wall times.
"""

from __future__ import annotations

import hashlib
import json
import random
from pathlib import Path

import numpy as np
import pyarrow.dataset as pads
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from calls import TRACE_ONLY, Calls, noop
from docling_eval_spark import pipelines
from docling_eval_spark.datagen.pages import write_pages_parquet
from docling_eval_spark.evaluators.layout import image_map
from docling_eval_spark.evaluators.reading_order import ard_norm_py
from docling_eval_spark.evaluators.teds import teds_score
from docling_eval_spark.evaluators.text_metrics import METRIC_COLS, text_metrics
from docling_eval_spark.extraction.perturb import perturb_stage
from docling_eval_spark.extraction.stage import extract_stage
from docling_eval_spark.reporting.reports import (
    per_class_ap_report,
    save_comparison_html,
    save_inspection_html,
    save_overlay_html,
)
from docling_eval_spark.sources.pages_source import read_pages
from eventlog import GroupStats, merged

PERTURB = 0.2
# per-row metrics per modality that the gate recomputes with the twins
TWIN_SAMPLE = 12
MODALITIES = pipelines.MODALITIES
# modalities whose reports an iteration renders. Together they run
# every report writer; reading_order's and bbox_text's reports are
# more metric reports of the same kind, left out to keep a run short.
VISUALIZED = ("markdown_text", "table_structure", "layout")
# evaluator layer that computes each modality's per-row metrics
KERNEL_OF = {
    "markdown_text": "text_metrics",
    "table_structure": "teds",
    "layout": "layout",
    "reading_order": "reading_order",
    "bbox_text": "bbox_text",
}
ROWS = {
    "markdown_text": pipelines.rows_markdown_text,
    "table_structure": lambda ds: pipelines.rows_table_structure(
        ds, "tables", "pred_tables"
    ),
    "layout": lambda ds: pipelines.evaluate_layout(ds)[0],
    "reading_order": lambda ds: pipelines.evaluate_reading_order(ds)[0],
    "bbox_text": lambda ds: pipelines.evaluate_bbox_text(ds)[0],
}
PHASE_FIELDS = (
    "jobs", "tasks", "task_s", "jvm_cpu_s", "python_s", "driver_s",
    "shuffle_write_mb", "spill_mb", "gc_s", "output_mb",
)


# the layers' self times: together they cover every call of an
# untraced iteration
SELF_TIMES = (
    ["sources.scan_s", "extraction.extract_s", "extraction.perturb_s", "sources.write_s"]
    + [f"evaluators.{k}.kernel_s" for k in KERNEL_OF.values()]
    + ["evaluators.stats.rollup_s", "reporting.metric_reports_s", "reporting.html_s"]
)


def metric_names() -> list[str]:
    names = SELF_TIMES + ["evaluators.text_metrics.ms_per_doc"]
    for phase in ("create", "evaluate", "visualize"):
        names += [f"{phase}.wall_s"] + [f"{phase}.{f}" for f in PHASE_FIELDS]
    for m in MODALITIES:
        names += [f"evaluate.{m}.{f}" for f in ("wall_s", "jobs", "python_s")]
    for m in VISUALIZED:
        names += [f"visualize.{m}.{f}" for f in ("wall_s", "jobs", "driver_s")]
    return names


class PipelineWeb:
    def __init__(self, pages: int, partitions: int):
        self.pages = self.docs = pages
        self.partitions = partitions

    def make_inputs(self, spark: SparkSession, inputs: Path, seed: int) -> dict:
        write_pages_parquet(
            spark, str(inputs / "pages"), self.pages, seed=seed,
            partitions=self.partitions,
        )
        self.pages_path = str(inputs / "pages")
        return {"pages": self.pages}

    def iterate(self, spark: SparkSession, out: Path, calls: Calls) -> None:
        pages, ds, ev = self.pages_path, str(out / "dataset"), str(out / "evaluation")
        traced = calls.traced
        if traced:
            with calls("trace/create.scan"):
                noop(read_pages(spark, pages))
            with calls("trace/create.extract"):
                noop(extract_stage(read_pages(spark, pages)))
            with calls("trace/create.perturb"):
                noop(perturb_stage(extract_stage(read_pages(spark, pages)), p=PERTURB))
        with calls("create"):
            pipelines.create_dataset(spark, pages, ds, perturb=PERTURB)

        if traced:
            with calls("trace/evaluate.scan"):
                noop(pipelines.read_dataset(spark, ds))
        for m in MODALITIES:
            if traced:
                with calls(f"trace/evaluate.{m}.kernel"):
                    noop(ROWS[m](pipelines.read_dataset(spark, ds)))
            with calls(f"evaluate.{m}"):
                pipelines.evaluate(spark, ds, m, ev)

        for m in VISUALIZED:
            if traced:
                self._trace_reports(spark, m, ds, ev, out / "trace", calls)
            with calls(f"visualize.{m}"):
                pipelines.visualize(spark, ds, ev, m, str(out / "reports" / m))

    def _trace_reports(self, spark, m, ds, ev, out: Path, calls: Calls) -> None:
        """The HTML renderers that ``visualize`` runs for modality
        ``m``, called on their own."""
        if m not in ("markdown_text", "layout"):
            return
        with calls(f"trace/visualize.{m}.html"):
            dataset = pipelines.read_dataset(spark, ds)
            if m == "markdown_text":
                save_comparison_html(
                    dataset, str(out / "comparison.html"), gt_col="gt_text",
                    pred_col="extracted_text", key_col="url",
                )
            else:
                per_class_ap_report(
                    spark.read.parquet(f"{ev}/evaluation_layout_ap_table"),
                    str(out / "per_class_ap.md"),
                )
                save_overlay_html(dataset, str(out / "layout_overlay.html"))
                save_inspection_html(dataset, str(out / "inspection.html"))

    # ------------------------------------------------------------ outputs

    def digest(self, out: Path) -> str:
        """Digest of every written dataset, metric table and report
        file of one iteration."""
        return _digest(out, _outputs(out, MODALITIES))

    def replay(self, spark: SparkSession, out: Path, rng: random.Random):
        """Run one seeded call of the iteration a second time, on the
        iteration's own inputs and into a new directory, and yield
        ``(name, digests equal)`` for each of the call's outputs."""
        again = out.with_name(out.name + "-replay")
        ds, ev = str(out / "dataset"), str(out / "evaluation")
        call = rng.choice(
            ["create"]
            + [f"evaluate.{m}" for m in MODALITIES]
            + [f"visualize.{m}" for m in VISUALIZED]
        )
        phase, _, m = call.partition(".")
        if phase == "create":
            pipelines.create_dataset(spark, self.pages_path, str(again / "dataset"), perturb=PERTURB)
            outputs = [out / "dataset"]
        elif phase == "evaluate":
            pipelines.evaluate(spark, ds, m, str(again / "evaluation"))
            outputs = sorted((out / "evaluation").glob(f"evaluation_{m}*"))
        else:
            pipelines.visualize(spark, ds, ev, m, str(again / "reports" / m))
            outputs = [out / "reports" / m]
        for a in outputs:
            rel = a.relative_to(out)
            yield f"{call} {rel.as_posix()}", _digest(out, [a]) == _digest(again, [again / rel])

    def check(self, spark: SparkSession, out: Path, seed: int):
        """Correctness gate on one iteration's outputs. Returns
        ``(attempted, failed, notes)``: every document is one operation
        (failed when its extraction status is not SUCCESS or a
        successful row carries an error), and every sampled per-row
        metric recomputed with the pure-Python twin is one more."""
        ds = spark.read.parquet(str(out / "dataset"))
        bad = ds.filter(
            (F.col("status") != "SUCCESS")
            | F.col("status").isNull()
            | F.col("error").isNull()
            | (F.col("error") != "")
        ).count()
        attempted, failed, notes = self.pages, bad, []
        n_rows = ds.count()
        if n_rows != self.pages:
            failed += abs(self.pages - n_rows)
            notes.append(f"dataset has {n_rows} rows, expected {self.pages}")
        if bad:
            notes.append(f"{bad} documents not SUCCESS")
        rng = random.Random(seed)
        ev = out / "evaluation"
        by_url = {}
        for r in ds.select(
            "url", "gt_text", "pred_text", "tables", "pred_tables", "layout", "pred_layout"
        ).collect():
            by_url[r["url"]] = r
        for name, ok in _twin_checks(spark, ev, by_url, rng, TWIN_SAMPLE):
            attempted += 1
            if not ok:
                failed += 1
                notes.append(f"twin mismatch: {name}")
        return attempted, failed, notes


def _outputs(out: Path, modalities) -> list[Path]:
    """The dataset, and the metric tables and reports of
    ``modalities``, that an iteration writes under ``out``."""
    paths = [out / "dataset"]
    for m in modalities:
        paths += sorted((out / "evaluation").glob(f"evaluation_{m}*"))
        if m in VISUALIZED:
            paths.append(out / "reports" / m)
    return paths


def _digest(out: Path, paths) -> str:
    """Order-independent digest of the tables and files at ``paths``."""
    h = hashlib.sha256()
    for t in paths:
        if any(t.rglob("*.parquet")):
            table = pads.dataset(str(t), format="parquet", partitioning="hive").to_table()
            rows = sorted(
                json.dumps(r, sort_keys=True, default=repr) for r in table.to_pylist()
            )
            h.update(t.relative_to(out).as_posix().encode())
            h.update("\n".join(rows).encode())
            continue
        for p in sorted(t.rglob("*")):
            if not p.is_file() or p.name.startswith((".", "_")):
                continue
            if p.name.startswith("part-"):
                # Spark part files carry a per-write id in their name
                h.update(p.parent.relative_to(out).as_posix().encode())
                h.update(b"".join(sorted(p.read_bytes().splitlines())))
            else:
                h.update(p.relative_to(out).as_posix().encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def _sample(rows, rng: random.Random, k: int):
    rows = sorted(rows, key=lambda r: (r["url"], r.asDict().get("table_id", 0)))
    return rng.sample(rows, min(k, len(rows)))


def _grid(t) -> dict:
    d = t.asDict(recursive=True)
    return {
        "num_rows": d.get("num_rows"),
        "num_cols": d.get("num_cols"),
        "cells": list(d.get("cells") or []),
    }


def _boxes(items, with_scores: bool):
    items = [i.asDict() for i in (items or [])]
    boxes = np.array([[i["l"], i["t"], i["r"], i["b"]] for i in items], dtype=float).reshape(-1, 4)
    labels = np.array([i["label"] for i in items], dtype=object)
    scores = (
        np.array([float(i.get("score", 1.0) or 1.0) for i in items], dtype=float)
        if with_scores
        else np.ones(len(items))
    )
    return boxes, labels, scores


def _twin_checks(spark, ev: Path, by_url: dict, rng: random.Random, k: int):
    md = spark.read.parquet(str(ev / "evaluation_markdown_text")).collect()
    for r in _sample(md, rng, k):
        doc = by_url[r["url"]]
        want = text_metrics(doc["gt_text"] or "", doc["pred_text"] or "")
        yield f"text_metrics {r['url']}", all(want[c] == r[c] for c in METRIC_COLS)

    ts = spark.read.parquet(str(ev / "evaluation_table_structure")).collect()
    for r in _sample(ts, rng, k):
        doc = by_url[r["url"]]
        gt = _grid(doc["tables"][r["table_id"]])
        pred = _grid(doc["pred_tables"][r["table_id"]])
        ok = r["teds"] == teds_score(gt, pred) and r["teds_struct"] == teds_score(
            gt, pred, structure_only=True
        )
        yield f"teds {r['url']}#{r['table_id']}", ok

    ro = spark.read.parquet(str(ev / "evaluation_reading_order")).collect()
    for r in _sample(ro, rng, k):
        ard, w_ard = ard_norm_py(list(r["pred_order"]), list(r["areas"]))
        yield f"ard_norm {r['url']}", (ard, w_ard) == (r["ard_norm"], r["w_ard_norm"])

    lay = spark.read.parquet(str(ev / "evaluation_layout")).collect()
    for r in _sample(lay, rng, k):
        doc = by_url[r["url"]]
        gb, gl, _ = _boxes(doc["layout"], with_scores=False)
        pb, pl, ps = _boxes(doc["pred_layout"], with_scores=True)
        m = image_map(pb, pl, ps, gb, gl)
        ok = (m["map"], m["map_50"], m["map_75"]) == (r["map_val"], r["map_50"], r["map_75"])
        yield f"image_map {r['url']}", ok


def layer_metrics(calls: Calls, stats: dict, docs: int) -> dict[str, float]:
    """Per-layer and per-phase metrics of one traced iteration."""
    w = calls.wall

    def grp(*names) -> GroupStats:
        return merged(stats, names)

    scan = w["trace/evaluate.scan"]
    out = {
        # every evaluate call scans the dataset once before its kernel
        "sources.scan_s": w["trace/create.scan"] + len(MODALITIES) * scan,
        "extraction.extract_s": w["trace/create.extract"] - w["trace/create.scan"],
        "extraction.perturb_s": w["trace/create.perturb"] - w["trace/create.extract"],
        "sources.write_s": w["create"] - w["trace/create.perturb"],
    }
    for m, k in KERNEL_OF.items():
        out[f"evaluators.{k}.kernel_s"] = w[f"trace/evaluate.{m}.kernel"] - scan
    kernel_task_s = (
        grp("trace/evaluate.markdown_text.kernel").task_s
        - grp("trace/evaluate.scan").task_s
    )
    out["evaluators.text_metrics.ms_per_doc"] = 1000.0 * kernel_task_s / docs
    # what evaluate does after the per-row kernel: write the per-row
    # table and roll it up into stats (layout: also the corpus AP table)
    out["evaluators.stats.rollup_s"] = sum(
        w[f"evaluate.{m}"] - w[f"trace/evaluate.{m}.kernel"] for m in MODALITIES
    )
    html = sum(w.get(f"trace/visualize.{m}.html", 0.0) for m in VISUALIZED)
    out["reporting.html_s"] = html
    out["reporting.metric_reports_s"] = calls.total("visualize.") - html

    phases = {
        "create": ["create"],
        "evaluate": [f"evaluate.{m}" for m in MODALITIES],
        "visualize": [f"visualize.{m}" for m in VISUALIZED],
    }
    for phase, names in phases.items():
        g = grp(*names)
        wall = sum(w[n] for n in names)
        out[f"{phase}.wall_s"] = wall
        out.update(_phase_fields(phase, g, wall))
    for m in MODALITIES:
        ge = grp(f"evaluate.{m}")
        out[f"evaluate.{m}.wall_s"] = w[f"evaluate.{m}"]
        out[f"evaluate.{m}.jobs"] = ge.jobs
        out[f"evaluate.{m}.python_s"] = ge.python_s
    for m in VISUALIZED:
        gv = grp(f"visualize.{m}")
        out[f"visualize.{m}.wall_s"] = w[f"visualize.{m}"]
        out[f"visualize.{m}.jobs"] = gv.jobs
        out[f"visualize.{m}.driver_s"] = w[f"visualize.{m}"] - gv.job_active_s
    return out


def accounted_s(calls: Calls, metrics: dict[str, float]) -> float:
    """Wall time of a traced iteration that the reported layer self
    times account for, plus the trace-only prefixes. The self times add
    up to the real calls: ``reporting.html_s``, which the HTML prefixes
    measure, is also taken out of ``reporting.metric_reports_s``."""
    prefixes = sum(t for n, t in calls.wall.items() if n.startswith(TRACE_ONLY))
    return sum(metrics[n] for n in SELF_TIMES) + prefixes


def _phase_fields(phase: str, g: GroupStats, wall: float) -> dict[str, float]:
    return {
        f"{phase}.jobs": g.jobs,
        f"{phase}.tasks": g.tasks,
        f"{phase}.task_s": g.task_s,
        f"{phase}.jvm_cpu_s": g.jvm_cpu_s,
        f"{phase}.python_s": g.python_s,
        f"{phase}.driver_s": wall - g.job_active_s,
        f"{phase}.shuffle_write_mb": g.shuffle_write_mb,
        f"{phase}.spill_mb": g.spill_mb,
        f"{phase}.gc_s": g.gc_s,
        f"{phase}.output_mb": g.output_mb,
    }
