#!/usr/bin/env python
"""Long-tail (giant-document) bench: fused vs scatter execution mode.

The fused default runs one document per task — optimal for typical
corpora (zero shuffles) but bounded below by the LARGEST single document:
one 10^4-page book straggles its whole task while every other core idles.
``extract_scatter`` repartitions at (doc_id, page_no) grain and reassembles
in the JVM (two shuffles) — page-level parallelism that amortizes the
giant across the cluster.

This tool plants one giant document (``--giant-pages``, default 10000,
built by tiling a generated doc's pages) into a corpus of normal docs and
times both modes, alternating runs to ride out VM noise. Each run writes
every output column to Spark's ``noop`` sink: a ``.count()`` would let
Spark prune the markdown columns out of scatter's JVM assembly while the
opaque fused UDF still computes them. Results go to BENCH/BASELINE.md.

Usage: python tools/bench_scatter.py [--docs 2000] [--giant-pages 10000]
       [--cpus N]  (default: $SPARK_GRAFT_CPUS, else the host's CPU count)
"""

from __future__ import annotations

import argparse
import itertools
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--giant-pages", type=int, default=10000)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                               os.cpu_count())))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("scatter-bench")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from dots_ocr_spark import pipeline, schemas
    from dots_ocr_spark.fixtures import generate_doc

    # corpus: normal docs + ONE giant (a generated doc's pages tiled out
    # to --giant-pages with fresh page numbers)
    base = generate_doc(7, max_pages=4, malformed_frac=0.0)
    tiled = [
        dict(p, page_no=i)
        for i, p in enumerate(
            itertools.islice(itertools.cycle(base["pages"]),
                             args.giant_pages))
    ]
    giant_row = [(
        "giant-0",
        [],
        [(p["page_no"], p["width"], p["height"], p["scale_factor"],
          p["payload"], p["toc_json"], p["words_json"]) for p in tiled],
        args.giant_pages,
        "giant",
    )]
    d = tempfile.mkdtemp(prefix="scatter_bench_")
    normal = pipeline.generate_input(spark, args.docs, partitions=args.cpus * 4)
    normal.unionByName(spark.createDataFrame(giant_row, schemas.INPUT)) \
        .write.mode("overwrite").parquet(d)
    docs = spark.read.parquet(d)
    n_pages_total = args.giant_pages + \
        int(normal.selectExpr("sum(n_pages)").collect()[0][0])

    def run(df, mode: str) -> None:
        pipeline.extract(df, mode=mode).write.format("noop") \
            .mode("overwrite").save()

    # warmup both paths
    warm = pipeline.generate_input(spark, 64)
    run(warm, "fused")
    run(warm, "scatter")

    walls: dict[str, list[float]] = {"fused": [], "scatter": []}
    for _ in range(args.reps):
        for mode in ("fused", "scatter"):
            t0 = time.perf_counter()
            run(docs, mode)
            walls[mode].append(time.perf_counter() - t0)
    for mode in walls:
        n = pipeline.extract(docs, mode=mode).count()
        assert n == args.docs + 1, (mode, n)
    best = {m: min(v) for m, v in walls.items()}
    print(f"corpus: {args.docs} normal docs + 1 giant of "
          f"{args.giant_pages} pages ({n_pages_total} pages total), "
          f"local[{args.cpus}]")
    print("| mode | best wall (s) | all runs (s) |")
    print("|---|---|---|")
    for m in ("fused", "scatter"):
        runs = ", ".join(f"{x:.1f}" for x in walls[m])
        print(f"| {m} | {best[m]:.1f} | {runs} |")
    print(f"scatter speedup on the long-tail corpus: "
          f"{best['fused'] / best['scatter']:.2f}x")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
