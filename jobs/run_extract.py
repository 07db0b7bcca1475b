#!/usr/bin/env python
"""spark-submit entry point for the checkpointed extraction job.

Ship the package alongside:

    python tools/build_pyfiles.py                       # -> dist/dots_ocr_spark.zip
    spark-submit --py-files dist/dots_ocr_spark.zip \
        jobs/run_extract.py --input /path/to/interleaved_table \
        --output /path/to/run_base --buckets 4096 --buckets-per-commit 256

On a cluster no ``--master`` is needed (comes from the submit env); for a
local smoke test pass ``--synthetic N`` instead of ``--input`` to generate
the deterministic fixture table in place of a real scan.

The job is resumable: re-submitting with the same ``--output`` skips every
bucket already recorded in the lineage table (see
``dots_ocr_spark/checkpoint.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# local-run convenience: `python jobs/run_extract.py` puts jobs/ (not the
# repo root) on sys.path; on a cluster --py-files provides the package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from dots_ocr_spark import checkpoint, pipeline

    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet dir of the interleaved doc table")
    src.add_argument("--synthetic", type=int,
                     help="generate N synthetic docs instead of reading --input")
    ap.add_argument("--output", required=True, help="run base dir (output + lineage)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--buckets-per-commit", type=int, default=None)
    ap.add_argument("--mode", choices=sorted(pipeline.MODES), default=None)
    ap.add_argument("--page-checkpoint", action="store_true",
                    help="checkpoint at (bucket, page-range) grain instead "
                         "of bucket grain: a crash mid-giant-document "
                         "resumes at its first uncommitted page range "
                         "(pairs with scatter-mode corpora)")
    ap.add_argument("--pages-per-range", type=int, default=8)
    ap.add_argument("--units-per-commit", type=int, default=16)
    ap.add_argument("--bucket-col", default=None,
                    help="input partition column already holding "
                         "pmod(xxhash64(doc_id), buckets): commit-group "
                         "filters then prune the scan instead of "
                         "rescanning the corpus once per group")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()
    # --page-checkpoint fixes the physical plan (page-grain parse +
    # JVM assembly) and batches by units, so a mode or bucket-batch
    # request alongside it would be silently ignored — reject instead
    if args.page_checkpoint and args.mode is not None:
        ap.error("--mode conflicts with --page-checkpoint "
                 "(the page runner parses at page grain)")
    if args.page_checkpoint and args.buckets_per_commit is not None:
        ap.error("--buckets-per-commit conflicts with --page-checkpoint "
                 "(use --units-per-commit)")
    if args.page_checkpoint and args.bucket_col is not None:
        ap.error("--bucket-col conflicts with --page-checkpoint "
                 "(the page runner derives its unit domain itself)")
    if args.mode is None:
        args.mode = "page-checkpoint" if args.page_checkpoint else "fused"
    if args.buckets_per_commit is None:
        args.buckets_per_commit = 16

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("dots-ocr-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from dots_ocr_spark.tracing import Tracer

    tracer = Tracer(spark)
    try:
        with tracer.span("run_extract", output=args.output, mode=args.mode):
            with tracer.span("read_input"):
                if args.input:
                    docs = spark.read.parquet(args.input)
                else:
                    docs = pipeline.generate_input(spark, args.synthetic)

            t0 = time.perf_counter()
            if args.page_checkpoint:
                with tracer.span("extract_paged", buckets=args.buckets,
                                 pages_per_range=args.pages_per_range):
                    res = checkpoint.run_extraction_paged(
                        spark, docs, args.output,
                        n_buckets=args.buckets,
                        pages_per_range=args.pages_per_range,
                        units_per_commit=args.units_per_commit,
                        run_id=args.run_id,
                    )
                # final assembly: the scatter pipeline's pure-JVM stage 2
                # over the completed page table — deterministic and
                # idempotent, so it needs no checkpoint of its own
                with tracer.span("assemble"):
                    checkpoint.assemble_from_page_checkpoint(
                        spark, args.output
                    ).write.mode("overwrite").parquet(
                        os.path.join(args.output, "output"))
                res["wall_sec"] = round(time.perf_counter() - t0, 2)
                res["metrics"] = [
                    r.asDict() for r in
                    checkpoint.page_metrics_summary(
                        spark, args.output).collect()]
            else:
                with tracer.span("extract", buckets=args.buckets):
                    res = checkpoint.run_extraction(
                        spark, docs, args.output,
                        n_buckets=args.buckets,
                        buckets_per_commit=args.buckets_per_commit,
                        mode=args.mode,
                        run_id=args.run_id,
                        bucket_col=args.bucket_col,
                    )
                res["wall_sec"] = round(time.perf_counter() - t0, 2)
                res["metrics"] = [
                    r.asDict() for r in
                    checkpoint.metrics_summary(spark, args.output).collect()]
    finally:
        # persist the trace even (especially) when the run failed — the
        # error spans are the post-mortem; lands next to the lineage
        # table. Never let a failing trace write (e.g. the very
        # unwritable output path that killed the run) replace the
        # primary exception — losing the post-mortem the persistence
        # exists to provide.
        try:
            tracer.write_metrics(f"{args.output}/_trace")
        except Exception as trace_err:  # noqa: BLE001
            print(f"trace write failed: {trace_err!r}", file=sys.stderr)
    res["trace_spans"] = len(tracer.spans)
    print(json.dumps(res, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
