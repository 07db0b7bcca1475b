#!/usr/bin/env python
"""Two-parallelism scaling benchmark (the north-rule evidence).

The contract asks for throughput at N and 4N executors. With no cluster
at hand, the SAME job runs on the SAME input at two parallelism levels —
local[1] (N) and local[4] (4N) by default — in fresh processes, and the
tool reports throughput at both plus

    efficiency = (docs_per_sec_4N / docs_per_sec_N) / 4

Job shape matches production: the interleaved input table is materialized
to parquet ONCE (setup, untimed — at 10^12-doc scale the input is an
Iceberg table, not something the job synthesizes), then each level times

    read parquet -> fused parse+assemble (mapInPandas, zero shuffles)
    -> count

Each child warms its Python workers + JVM first (small pipeline run), then
times the job once. The headline is the median efficiency over this
run's clean pairs (efficiency ≤ 1, :func:`headline`); the per-level
max/max efficiency is reported only as an upper bound. Every child runs
on a 4g driver; the setup runs at $SPARK_GRAFT_CPUS, else the host's CPU
count. Results land in BENCH/SCALING_LATEST.md.

Usage: python tools/bench_scaling.py [--docs 30000] [--n 1] [--xn 4]
       [--pairs 3] [--keep-input] [--skip-prepare]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_DIR = "/tmp/dots_ocr_spark_scaling_input"

PREPARE = r"""
import os, sys
n_docs = int(sys.argv[1]); path = sys.argv[2]
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master(f"local[{cpus}]")
    .config("spark.driver.memory", "4g")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dots_ocr_spark import pipeline
pipeline.generate_input(spark, n_docs, partitions=256).write.mode("overwrite").parquet(path)
print("PREPARED", flush=True)
spark.stop()
"""

CHILD = r"""
import json, os, sys, time
cpus, path = int(sys.argv[1]), sys.argv[2]
# split sizing: target ~16 splits per core so task waves stay balanced and
# the stage tail is short. Defaults (128 MB + 4 MB open cost) would
# coalesce this input into ~12 splits and starve anything past 12 cores.
total = sum(os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path) if f.endswith(".parquet"))
mpb = max(1024 * 1024, total // (cpus * 16))
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master(f"local[{cpus}]")
    .appName(f"scaling-bench-{cpus}")
    .config("spark.driver.memory", "4g")
    .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.files.maxPartitionBytes", str(mpb))
    .config("spark.sql.files.openCostInBytes", str(256 * 1024))
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from dots_ocr_spark import pipeline
docs = spark.read.parquet(path)
# warmup: ~10% of the real input through the full job — initializes
# Python workers, JIT-compiles the scan/Arrow path, grows the heap
pipeline.extract(docs.sample(0.1, seed=1)).count()
t0 = time.perf_counter()
n = pipeline.extract(docs).count()
dt = round(time.perf_counter() - t0, 3)
print("RESULT " + json.dumps({"cpus": cpus, "docs": n, "sec": dt,
                              "docs_per_sec": round(n / dt, 2)}))
spark.stop()
"""


def run(code: str, *args: str) -> str:
    p = subprocess.run([sys.executable, "-c", code, *args],
                       capture_output=True, text=True, cwd=REPO)
    if p.returncode != 0:
        raise RuntimeError(f"child failed:\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    return p.stdout


def run_level(cpus: int) -> dict:
    t0 = time.time()
    out = run(CHILD, str(cpus), INPUT_DIR)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            r = json.loads(line[7:])
            r["wall_total"] = round(time.time() - t0, 1)
            return r
    raise RuntimeError(f"no RESULT line:\n{out[-2000:]}")


def is_clean(pair: dict) -> bool:
    """A pair counts toward the headline when its efficiency is at most 1:
    super-linear scaling on one host means the N leg was depressed by
    contention, not that the job scaled."""
    return pair["efficiency"] <= 1.0


def headline(pairs: list[dict], levels: list[int], docs: int) -> dict:
    """Pick the scaling headline from measured pairs (pure, no I/O).

    Only pairs of this shape (same ``levels`` and ``docs``) count. The
    headline ``median`` is the clean pair (:func:`is_clean`) with the
    lower-median efficiency — a measured pair, not biased upward the way
    the best pair's efficiency is — or None when no pair is clean.
    ``upper_bound`` is the per-level max/max efficiency over every pair
    of the shape; it bounds capability from above and is no headline."""
    same = [p for p in pairs
            if p.get("levels") == list(levels) and p.get("docs") == docs]
    clean = sorted((p for p in same if is_clean(p)),
                   key=lambda p: p["efficiency"])
    upper = None
    if same:
        lo = max(p["N"]["docs_per_sec"] for p in same)
        hi = max(p["4N"]["docs_per_sec"] for p in same)
        upper = {"N": lo, "4N": hi,
                 "efficiency": round((hi / lo) / (levels[1] / levels[0]), 3)}
    return {"same_shape": same, "clean": clean,
            "median": clean[(len(clean) - 1) // 2] if clean else None,
            "upper_bound": upper}


def main() -> None:
    ap = argparse.ArgumentParser()
    # ~1 minute for the local[1] leg
    ap.add_argument("--docs", type=int, default=30000)
    # in local mode every task is a JVM thread PLUS a Python worker, so
    # local[N] occupies up to ~2N cores: on a 4-vCPU host local[4]
    # already oversubscribes, and 1 -> 4 is the widest N -> 4N pair
    ap.add_argument("--n", type=int, default=1)
    ap.add_argument("--xn", type=int, default=4)
    ap.add_argument("--pairs", type=int, default=3,
                    help="interleaved N/4N measurement pairs")
    ap.add_argument("--keep-input", action="store_true")
    ap.add_argument("--skip-prepare", action="store_true",
                    help="reuse an already-materialized input table")
    args = ap.parse_args()

    if not args.skip_prepare:
        print(f"preparing {args.docs}-doc input table at {INPUT_DIR} ...", file=sys.stderr)
        run(PREPARE, str(args.docs), INPUT_DIR)

    # the levels run back to back within a pair, so host drift hits both
    # legs of a pair about equally
    pairs = []
    for _ in range(args.pairs):
        lo = run_level(args.n)
        hi = run_level(args.xn)
        eff = round((hi["docs_per_sec"] / lo["docs_per_sec"]) / (args.xn / args.n), 3)
        pairs.append({"N": lo, "4N": hi, "efficiency": eff,
                      "combined_sec": round(lo["sec"] + hi["sec"], 3),
                      "levels": [args.n, args.xn], "docs": args.docs})
        print(json.dumps(pairs[-1]), file=sys.stderr)

    pick = headline(pairs, [args.n, args.xn], args.docs)
    clean = pick["clean"]
    cap_lo, cap_hi, cap_eff = (pick["upper_bound"][k]
                               for k in ("N", "4N", "efficiency"))
    if pick["median"] is None:
        raise SystemExit(f"no clean pair among {len(pairs)}: every pair "
                         "scaled super-linearly; rerun when the host is quiet")
    lo, hi, eff = (pick["median"][k] for k in ("N", "4N", "efficiency"))

    def fmt_pair(p):
        tag = "clean" if is_clean(p) else "CONTENDED"
        return (f"  - eff {p['efficiency']} ({tag}; N {p['N']['docs_per_sec']}"
                f" d/s, 4N {p['4N']['docs_per_sec']} d/s)")

    md = f"""# BENCH/SCALING — measured throughput & scaling

Flagship extraction job — `read parquet` (interleaved doc table) → fused
parse+assemble `mapInPandas` (document grain, ZERO shuffles) → count —
over a {args.docs}-document deterministic synthetic interleaved table,
identical input parquet at two parallelism levels (the stand-in for N vs
4N executors on a single host).

Median clean pair of this run ({len(clean)} of {len(pairs)} pairs are
clean):

| level | cores | docs | wall (s) | docs/sec |
|---|---|---|---|---|
| N  | local[{args.n}] | {lo['docs']} | {lo['sec']} | {lo['docs_per_sec']} |
| 4N | local[{args.xn}] | {hi['docs']} | {hi['sec']} | {hi['docs_per_sec']} |

**Scaling efficiency (N → 4N) = ({hi['docs_per_sec']} / {lo['docs_per_sec']}) / {args.xn // args.n}
= {eff}**

Upper bound, not a headline: the per-level maxima across the
{len(pairs)} pairs are N = {cap_lo} d/s and 4N = {cap_hi} d/s, so
max/max efficiency ≤ {cap_eff}. Each maximum is the best of noisy runs,
so the ratio is biased upward.

Method notes:

- Host: {os.cpu_count()} CPUs. In local mode every task occupies a JVM
  thread AND a Python worker, both burning CPU — local[N] consumes up to
  ~2N cores, so a level above half the core count measures
  oversubscription as well as the job.
- Input table materialized to parquet once, untimed; warmup = full job
  over a 10% sample per child; 4g driver.
- Pairs with efficiency > 1 (super-linear on one host means the N leg
  ran slow) are marked CONTENDED and excluded from the median.
- This run's pairs:
{chr(10).join(fmt_pair(p) for p in pairs)}
- Split sizing: `spark.sql.files.maxPartitionBytes` =
  input_bytes/(cores×16) → ~16 task waves per core.
- Produced by `python tools/bench_scaling.py --docs {args.docs} --n {args.n} --xn {args.xn} --pairs {args.pairs}`.
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SCALING_LATEST.md"), "w") as f:
        f.write(md)
    print(json.dumps({"N": lo, "4N": hi, "efficiency": eff,
                      "clean_pairs": len(clean),
                      "upper_bound": pick["upper_bound"]}))
    if not args.keep_input:
        shutil.rmtree(INPUT_DIR, ignore_errors=True)


if __name__ == "__main__":
    main()
