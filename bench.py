#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test-data directory) on local[$SPARK_GRAFT_CPUS]
(default: the host's CPU count) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a cheap count-collect (the driver collects
separately; here we only need the plan to execute fully). Timing is
per-query wall clock, the best of two runs; ``value`` is the total.

Extra fields (informational, not part of the driver contract):
``extract_docs_per_sec`` — end-to-end extraction throughput of the
flagship pipeline, the authoritative BASELINE.json metric (see
BENCH/SCALING_LATEST.md for the two-parallelism scaling run produced by
tools/bench_scaling.py).
Per-query output row counts go to ``BENCH/bench_detail.json``, which
keeps the printed line short enough for a 2,000-char log tail.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dots-ocr-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


# NOTE (round-over-round comparability): this list is append-only within
# a round series and every query's INPUT construction is frozen — the
# detail file records per-query output row counts (``query_rows``) so a
# changed input is immediately visible as a row-count shift rather than
# a silent timing discontinuity (the r01→r02 ambiguity).
HEADLINE = [
    "extract_spans",
    "extract_docs",
    "extract_from_corpus",
    "token_stats",
    "quality_score",
    "fingerprint",
    "langid",
    "corpus_stats",
    "media_decode",
    "dedup_exact",
    "minhash_signature",
    "minhash_band_buckets",
    "simhash",
    "embed_topk",
    "embed_ann_buckets",
    "pricing_summary",
    "revenue_by_nation",
    "top_orders",
    "top_orders_per_cust",
    "customers_without_orders",
    "event_value_rollup",
    "asof_click_before_error",
    "sessionize",
    # round-3 additions (appended; earlier entries unchanged)
    "extract_wordgrain",
    "extract_toc",
    "extract_twocol",
    "winnow_fingerprints",
    "quality_repetition",
    "training_corpus",
    # round-4 additions (appended; earlier entries unchanged)
    "extract_cleaner_probe",
    "html_main_content",
    # round-5 additions (appended; earlier entries unchanged)
    "dedup_survivors_cc",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import queries

    qs = queries()
    # Headline = the representative fast set. The pair-verification
    # queries (jaccard_pairs, embed_neardup_pairs, simhash_band_buckets)
    # are value-checked by the correctness gate at sf0.01 but excluded
    # here: their candidate volume is a property of the tiny synthetic
    # corpus's similarity structure, not of engine speed.
    # A HEADLINE name missing from the registry (e.g. a renamed query)
    # must fail, not quietly shrink the suite total.
    missing = [n for n in HEADLINE if n not in qs]
    if missing:
        raise SystemExit(f"HEADLINE names not in the registry: {missing}")

    # Warmup: initialize Python workers / Arrow / codegen on every core so
    # timings measure steady-state throughput, not JVM+worker cold start.
    # The flagship path is additionally warmed at sf0.001 (500 docs) so
    # its first timed run is not dominated by whole-stage-codegen compile.
    from dots_ocr_spark import pipeline as _p

    _p.extract(_p.generate_input(spark, 64)).count()
    warm_sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if "extract_spans" in qs and os.path.isdir(warm_sf):
        qs["extract_spans"](spark, warm_sf).count()

    # Best-of-2 per query: the faster of two runs, each a full execution.
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            rows[name] = df.count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # per-query output row counts: a row-count shift flags an input
    # change that would make timings non-comparable across rounds
    detail = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "BENCH", "bench_detail.json")
    with open(detail, "w") as f:
        json.dump({"sf": sf, "cpus": cpus, "query_rows": rows}, f, indent=1)
    print(summary_line(timings, rows, sf, cpus))
    spark.stop()


def summary_line(timings: dict[str, float], rows: dict[str, int], sf: float,
                 cpus: int) -> str:
    """The one JSON line ``main`` prints last."""
    # throughput from MEASURED counts (extract_docs is one row per doc),
    # never from a duplicated sizing constant
    flagship_t = timings.get("extract_docs", 0.0) or 1e-9
    return json.dumps({
        "metric": "headline query suite wall-clock (extraction + dedup + analytics)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "extract_spans_rows": rows.get("extract_spans", 0),
        "extract_docs_per_sec": round(rows.get("extract_docs", 0) / flagship_t, 2),
    }, separators=(",", ":"))


if __name__ == "__main__":
    sys.exit(main())
