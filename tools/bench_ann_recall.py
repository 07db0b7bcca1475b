#!/usr/bin/env python
"""Measure the ANN recall/cost dial: planted-near-dup recall and
candidate-pair volume as a function of the sign-LSH table count (and the
IVF probe count). Prints a markdown table for BENCH/BASELINE.md.

Corpus: the sf0.1 embeddings table (4000 vectors) + one perturbed copy
(cosine ~= 0.995) of each of the first 500 — the planted pairs are the
ground truth a training-data near-dedup pass must recover.

Usage: python tools/bench_ann_recall.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count())}]")
        .appName("ann-recall-bench")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from dots_ocr_spark import similarity as S

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .orderBy("vec_id").collect()
    rng = np.random.default_rng(7)
    out = []
    planted = set()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float32)
        out.append((int(r["vec_id"]), [float(x) for x in v]))
        if int(r["vec_id"]) < 500:
            noise = rng.normal(
                0.0, 0.1 * float(np.linalg.norm(v)) / np.sqrt(v.size),
                v.shape).astype(np.float32)
            out.append((int(r["vec_id"]) + 1_000_000,
                        [float(x) for x in v + noise]))
            planted.add((int(r["vec_id"]), int(r["vec_id"]) + 1_000_000))

    d = tempfile.mkdtemp(prefix="ann_recall_")
    spark.createDataFrame(out, "vec_id long, embedding array<float>") \
        .write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    print(f"corpus: {len(out)} vectors ({len(planted)} planted pairs), "
          f"sign-LSH {S.BITS_PER_TABLE} bits/table\n")
    print("| tables | candidate pairs | planted recall | wall (s) |")
    print("|---|---|---|---|")
    for nt in (1, 2, 4, 8):
        t0 = time.perf_counter()
        n_cand = S.embed_ann_candidates(spark, d, n_tables=nt).count()
        found = {
            (r["vec_i"], r["vec_j"])
            for r in S.embed_neardup_pairs(
                spark, d, threshold=0.9, n_tables=nt).collect()
        }
        wall = time.perf_counter() - t0
        recall = len(found & planted) / len(planted)
        print(f"| {nt} | {n_cand} | {recall:.3f} | {wall:.1f} |")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
