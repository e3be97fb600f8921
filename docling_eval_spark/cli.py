"""CLI mirroring the reference's single entry point
(`evaluate -t {create|evaluate|visualize} -m <modality>`,
reference `cli/main.py:456-563`), Spark-first:

    python -m docling_eval_spark.cli create \
        --pages <parquet dir | synthetic:N | warc:GLOB> --output <dataset dir>
    python -m docling_eval_spark.cli evaluate \
        --dataset <dir> --modality markdown_text --output <dir>
    python -m docling_eval_spark.cli visualize \
        --dataset <dir> --evaluation <dir> --modality markdown_text \
        --output <dir>

Modalities: markdown_text table_structure layout reading_order
bbox_text all (matching the reference's EvaluationModality enum).
"""

from __future__ import annotations

import argparse
import sys

import pyspark.sql.functions as F

from docling_eval_spark import pipelines
from docling_eval_spark.pipelines import counted
from docling_eval_spark.session import get_spark, local_frame


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="docling-eval-spark")
    sub = ap.add_subparsers(dest="task", required=True)

    c = sub.add_parser("create", help="pages table → benchmark dataset")
    c.add_argument("--pages", required=True,
                   help="pages parquet dir, synthetic:N for N generated pages, or warc:GLOB to ingest .warc(.gz) files")
    c.add_argument("--output", required=True)
    c.add_argument("--buckets", type=int, default=16)
    c.add_argument("--records-per-shard", type=int, default=1000)
    c.add_argument("--perturb", type=float, default=None,
                   help="seeded noise level for prediction columns "
                        "(the K10 model slot); omit for identity")
    c.add_argument("--gt", default=None,
                   help="ground-truth JSONL (url, gt_text, spans) to join "
                        "onto warc: ingests — WARC carries no GT, so "
                        "evaluate without this scores against empty text")

    e = sub.add_parser("evaluate", help="dataset → metric rows + stats")
    e.add_argument("--dataset", required=True)
    e.add_argument("--modality", required=True,
                   choices=pipelines.MODALITIES + ["all"])
    e.add_argument("--output", required=True)

    cl = sub.add_parser(
        "clean",
        help="pages parquet → NFC-normalize, exact-dedup, quality-gate, "
             "script/lang annotate (the web-corpus cleaning composition)",
    )
    cl.add_argument("--pages", required=True, help="pages parquet dir")
    cl.add_argument("--output", required=True)
    cl.add_argument("--id-col", default="url")
    cl.add_argument("--quality-min", type=float, default=None,
                    help="drop rows scoring below this (post-dedup)")
    cl.add_argument("--no-annotate", action="store_true",
                    help="skip script/lang annotation columns")

    ing = sub.add_parser(
        "ingest",
        help="fetch-log parquet → latest-snapshot view, registered-"
             "domain blocklist gate, PII scrub, entropy annotation "
             "(the web_ingest composition); parquet or sharded JSONL out",
    )
    ing.add_argument("--fetches", required=True,
                     help="fetch-log parquet dir (url, crawl_ts, text, ...)")
    ing.add_argument("--output", required=True)
    ing.add_argument("--blocklist", default=None,
                     help="text file: one blocked registered domain per "
                          "line, '#' comments allowed")
    ing.add_argument("--format", choices=["parquet", "jsonl"],
                     default="parquet")
    ing.add_argument("--id-col", default="url")
    ing.add_argument("--ts-col", default="crawl_ts")
    ing.add_argument("--text-col", default="text")
    ing.add_argument("--max-records-per-file", type=int, default=100_000,
                     help="JSONL shard size cap (jsonl format only)")

    v = sub.add_parser("visualize", help="metric rows → report files")
    v.add_argument("--dataset", required=True)
    v.add_argument("--evaluation", required=True)
    v.add_argument("--modality", required=True,
                   choices=pipelines.MODALITIES + ["all"])
    v.add_argument("--output", required=True)

    args = ap.parse_args(argv)
    spark = get_spark(f"docling-eval-spark-{args.task}")
    try:
        if args.task == "create":
            pages_path = args.pages
            if pages_path.startswith("synthetic:"):
                from docling_eval_spark.datagen.pages import write_pages_parquet

                n = int(pages_path.split(":", 1)[1])
                pages_path = f"{args.output.rstrip('/')}_pages"
                write_pages_parquet(spark, pages_path, n)
                print(f"generated {n} synthetic pages at {pages_path}")
            elif pages_path.startswith("warc:"):
                # Common-Crawl ingest: .warc/.warc.gz glob → pages
                # parquet (2xx-gated), then the normal dataset flow
                from docling_eval_spark.sources.warc import (
                    read_warc,
                    warc_to_pages,
                )

                glob = pages_path.split(":", 1)[1]
                pages_path = f"{args.output.rstrip('/')}_pages"
                ingested = warc_to_pages(read_warc(spark, glob))
                if args.gt:
                    # WARC carries no ground truth (text is NULL by
                    # design) — join it from the annotation store so
                    # evaluate has something real to score against
                    from docling_eval_spark.sources.json_gt import (
                        read_gt_json,
                    )

                    gt = read_gt_json(spark, args.gt).filter(
                        "gt_status = 'SUCCESS'"
                    )
                    # a GT JSONL with duplicate urls would FAN OUT the
                    # ingested pages through the left join (inflated
                    # dataset, double-counted evaluate) — keep one
                    # deterministic row per url (max gt_text)
                    gt_one = gt.groupBy("url").agg(
                        F.max("gt_text").alias("gt_text")
                    )
                    ingested = (
                        ingested.drop("text")
                        .join(gt_one, "url", "left")
                        .selectExpr(
                            "url", "warc_ts", "html",
                            "gt_text AS text", "lang",
                        )
                    )
                else:
                    print(
                        "WARNING: warc: ingest without --gt — the "
                        "dataset's ground-truth text is NULL; evaluate "
                        "will score extraction against empty GT"
                    )
                ingested, n = counted(ingested)
                ingested.write.mode("overwrite").parquet(pages_path)
                print(f"ingested {n.get['rows']} WARC pages at {pages_path}")
            n = pipelines.create_dataset(
                spark, pages_path, args.output,
                buckets=args.buckets, records_per_shard=args.records_per_shard,
                perturb=args.perturb,
            )
            print(f"dataset written: {args.output} ({n} documents)")
        elif args.task == "clean":
            pages = spark.read.parquet(args.pages)
            n_in = pages.count()
            cleaned = pipelines.clean_corpus(
                pages,
                id_col=args.id_col,
                quality_min=args.quality_min,
                annotate=not args.no_annotate,
            )
            cleaned, n_out = counted(cleaned)
            cleaned.write.mode("overwrite").parquet(args.output)
            print(
                f"cleaned corpus: {n_in} pages -> {n_out.get['rows']} kept "
                f"at {args.output}"
            )
        elif args.task == "ingest":
            fetches = spark.read.parquet(args.fetches)
            doms: list[str] = []
            if args.blocklist:
                with open(args.blocklist) as fh:
                    doms = [
                        ln.strip()
                        for ln in fh
                        if ln.strip() and not ln.lstrip().startswith("#")
                    ]
            blocked = local_frame(spark, [(d,) for d in doms], "domain string")
            n_in = fetches.count()
            out = pipelines.web_ingest(
                fetches,
                blocked,
                id_col=args.id_col,
                ts_col=args.ts_col,
                text_col=args.text_col,
            )
            if args.format == "jsonl":
                from docling_eval_spark.sources.jsonl_sink import (
                    write_jsonl_shards,
                )

                manifest = write_jsonl_shards(
                    out, args.output,
                    max_records_per_file=args.max_records_per_file,
                )
                print(
                    f"ingested {n_in} fetches -> {manifest['total_rows']} "
                    f"pages in {manifest['n_shards']} JSONL shards at "
                    f"{args.output}"
                )
            else:
                out, n_out = counted(out)
                out.write.mode("error").parquet(args.output)
                print(
                    f"ingested {n_in} fetches -> {n_out.get['rows']} pages at "
                    f"{args.output}"
                )
        elif args.task == "evaluate":
            mods = pipelines.MODALITIES if args.modality == "all" else [args.modality]
            for m in mods:
                pipelines.evaluate(spark, args.dataset, m, args.output)
                print(f"evaluated {m} → {args.output}/evaluation_{m}")
        else:
            mods = pipelines.MODALITIES if args.modality == "all" else [args.modality]
            for m in mods:
                pipelines.visualize(
                    spark, args.dataset, args.evaluation, m, args.output
                )
                print(f"visualized {m} → {args.output}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
