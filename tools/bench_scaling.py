#!/usr/bin/env python
"""Two-parallelism scaling benchmark (the north-rule evidence).

The rule requires the job to run on a cluster at N and 4N executors with
throughput scaling efficiency >= 0.8. No real cluster exists in this
sandbox, so per the driver's instruction we run the SAME job on the SAME
input at two parallelism levels — local[4] (N) and local[16] (4N) by
default — in fresh processes, and report throughput at both plus

    efficiency = (docs_per_sec_4N / docs_per_sec_N) / 4

Job shape matches production: the interleaved input table is materialized
to parquet ONCE (setup, untimed — at 10^12-doc scale the input is an
Iceberg table, not something the job synthesizes), then each level times

    read parquet -> explode pages -> repartition(doc_id) + sort -> fused
    parse+assemble (mapInPandas) -> count

Each child warms its Python workers + JVM first (small pipeline run), then
times the job once. The headline is the median efficiency over the
clean pairs (probe passed, efficiency ≤ 1) of the same shape in the
history (:func:`headline`); the per-level max/max efficiency is
reported only as an upper bound.
Results land in BENCH/SCALING_LATEST.md.

Usage: python tools/bench_scaling.py [--docs 120000] [--n 4] [--xn 16]
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
import sys
n_docs = int(sys.argv[1]); path = sys.argv[2]
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[32]")
    .config("spark.driver.memory", "24g")
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
    .config("spark.driver.memory", "24g")
    .config("spark.driver.extraJavaOptions", "-Xms16g")
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


def run_level(cpus: int, input_dir: str = INPUT_DIR) -> dict:
    t0 = time.time()
    out = run(CHILD, str(cpus), input_dir)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            r = json.loads(line[7:])
            r["wall_total"] = round(time.time() - t0, 1)
            return r
    raise RuntimeError(f"no RESULT line:\n{out[-2000:]}")


PROBE_DIR = "/tmp/dots_ocr_spark_scaling_probe"


def probe_health(floor: float, retries: int, wait: int) -> dict:
    """Gate on a clean host window: a small local[8] extract whose
    docs/sec is a known capability signature (healthy ~2900-3700 on
    this VM, CLAUDE.md). Below ``floor`` means a co-tenant is burning
    cores RIGHT NOW and any pair measured next is noise — wait and
    re-probe up to ``retries`` times, then proceed but mark the pair
    contended so the record never sells a dirty number as capability."""
    history = []
    for attempt in range(retries + 1):
        r = run_level(8, PROBE_DIR)
        history.append(r["docs_per_sec"])
        if r["docs_per_sec"] >= floor:
            return {"healthy": True, "probe_dps": history}
        if attempt < retries:
            print(f"probe {r['docs_per_sec']} d/s < floor {floor}; "
                  f"waiting {wait}s for a clean window", file=sys.stderr)
            time.sleep(wait)
    return {"healthy": False, "probe_dps": history}


def is_clean(pair: dict) -> bool:
    """A pair counts toward the headline when its health probe passed and
    its efficiency is at most 1: super-linear scaling on one host means
    the N leg was depressed by contention, not that the job scaled."""
    return bool(pair.get("probe_healthy")) and pair["efficiency"] <= 1.0


def headline(history: list[dict], levels: list[int], docs: int) -> dict:
    """Pick the scaling headline from the pair history (pure, no I/O).

    Only pairs of this shape (same ``levels`` and ``docs``) count. The
    headline ``median`` is the clean pair (:func:`is_clean`) with the
    lower-median efficiency — a measured pair, not biased upward the way
    the best-of-history maximum is — or None when no pair is clean.
    ``upper_bound`` is the per-level max/max efficiency over every pair
    of the shape; it bounds capability from above and is no headline."""
    same = [p for p in history
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
    ap.add_argument("--docs", type=int, default=120000)
    # default levels are 4 and 16 (not 8/32): in local mode every task is
    # a JVM thread PLUS a Python worker process both burning CPU, so
    # local[N] consumes up to ~2N cores — local[32] on this 32-vCPU box
    # self-contends and measures the VM, not the job. 4 vs 16 keeps total
    # demand under the core count at BOTH levels, which is what an actual
    # N- vs 4N-executor cluster comparison looks like.
    ap.add_argument("--n", type=int, default=4)
    ap.add_argument("--xn", type=int, default=16)
    ap.add_argument("--pairs", type=int, default=3,
                    help="interleaved N/4N measurement pairs")
    ap.add_argument("--keep-input", action="store_true")
    ap.add_argument("--skip-prepare", action="store_true",
                    help="reuse an already-materialized input table")
    ap.add_argument("--probe-floor", type=float, default=2600.0,
                    help="local[8] docs/sec below which the host is "
                         "considered contended (healthy: 2900-3700)")
    ap.add_argument("--probe-docs", type=int, default=12000)
    ap.add_argument("--probe-retries", type=int, default=2)
    ap.add_argument("--probe-wait", type=int, default=90,
                    help="seconds between probe retries")
    ap.add_argument("--no-probe", action="store_true",
                    help="skip the health gate (legacy behavior)")
    ap.add_argument("--out", default="SCALING_LATEST.md",
                    help="output file under BENCH/ (BASELINE.md keeps "
                         "manually curated sections; merge by hand)")
    args = ap.parse_args()

    if not args.skip_prepare:
        print(f"preparing {args.docs}-doc input table at {INPUT_DIR} ...", file=sys.stderr)
        run(PREPARE, str(args.docs), INPUT_DIR)
    if not args.no_probe and not os.path.isdir(PROBE_DIR):
        print(f"preparing {args.probe_docs}-doc probe table ...", file=sys.stderr)
        run(PREPARE, str(args.probe_docs), PROBE_DIR)

    # The sandbox VM suffers time-varying host-level contention (identical
    # runs vary ±50% minutes apart, and in round 3 it turned ASYMMETRIC:
    # individual legs swing 3-5x while a pure-CPU microbench scales fine,
    # which breaks min-combined-wall pair selection on its own). Defense
    # in depth: (a) gate each pair on a healthy-host PROBE so pairs only
    # run in clean windows; (b) interleave the levels back-to-back so
    # residual drift hits both legs of a pair ~equally; (c) append every
    # pair to a persistent history and report the median over its clean
    # pairs (see headline()).
    pairs = []
    for i in range(args.pairs):
        gate = ({"healthy": True, "probe_dps": []} if args.no_probe
                else probe_health(args.probe_floor, args.probe_retries,
                                  args.probe_wait))
        lo = run_level(args.n)
        hi = run_level(args.xn)
        eff = round((hi["docs_per_sec"] / lo["docs_per_sec"]) / (args.xn / args.n), 3)
        pairs.append({"N": lo, "4N": hi, "efficiency": eff,
                      "combined_sec": round(lo["sec"] + hi["sec"], 3),
                      "probe_healthy": gate["healthy"],
                      "probe_dps": gate["probe_dps"],
                      "ts": round(time.time(), 1),
                      "levels": [args.n, args.xn], "docs": args.docs})
        print(json.dumps(pairs[-1]), file=sys.stderr)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    hist_path = os.path.join(REPO, "BENCH", "scaling_history.jsonl")
    with open(hist_path, "a") as f:
        for p in pairs:
            f.write(json.dumps(p) + "\n")
    history = [json.loads(ln) for ln in open(hist_path)
               if ln.strip()]
    pick = headline(history, [args.n, args.xn], args.docs)
    same_shape, clean = pick["same_shape"], pick["clean"]
    cap_lo, cap_hi, cap_eff = (pick["upper_bound"][k]
                               for k in ("N", "4N", "efficiency"))
    if pick["median"] is None:
        raise SystemExit(f"no clean pair of shape {args.n}/{args.xn} "
                         f"x {args.docs} docs on record; rerun when the "
                         "host is quiet")
    lo, hi, eff = (pick["median"][k] for k in ("N", "4N", "efficiency"))

    def fmt_pair(p):
        tag = "clean" if is_clean(p) else "CONTENDED"
        return (f"  - eff {p['efficiency']} ({tag}; N {p['N']['docs_per_sec']}"
                f" d/s, 4N {p['4N']['docs_per_sec']} d/s, probe "
                f"{p.get('probe_dps')})")

    md = f"""# BENCH/SCALING — measured throughput & scaling

Flagship extraction job — `read parquet` (interleaved doc table) → fused
parse+assemble `mapInPandas` (document grain, ZERO shuffles) → count —
over a {args.docs}-document deterministic synthetic interleaved table,
identical input parquet at two parallelism levels (the sandbox stand-in
for N vs 4N executors per the driver's instruction — no real cluster
available here).

Median clean pair on record for this shape ({len(clean)} of
{len(same_shape)} pairs are clean):

| level | cores | docs | wall (s) | docs/sec |
|---|---|---|---|---|
| N  | local[{args.n}] | {lo['docs']} | {lo['sec']} | {lo['docs_per_sec']} |
| 4N | local[{args.xn}] | {hi['docs']} | {hi['sec']} | {hi['docs_per_sec']} |

**Scaling efficiency (N → 4N) = ({hi['docs_per_sec']} / {lo['docs_per_sec']}) / {args.xn // args.n}
= {eff}**  (north-rule target ≥ 0.8)

Upper bound, not a headline: the per-level maxima across all
{len(same_shape)} recorded pairs of this shape are N = {cap_lo} d/s and
4N = {cap_hi} d/s, so max/max efficiency ≤ {cap_eff}. Each maximum is
the best of many noisy runs, so the ratio is biased upward.

Method notes:

- Levels {args.n} vs {args.xn}: in local mode every task occupies a JVM
  thread AND a Python worker, both burning CPU — local[N] consumes up to
  ~2N cores, so both levels must fit under the VM's core count or the
  measurement reflects oversubscription, not the job.
- Input table materialized to parquet once, untimed; warmup = full job
  over a 10% sample per child; `-Xms` presized heap.
- Health gate: each pair waits for a clean host window — a local[8]
  probe extract must reach ≥{args.probe_floor} docs/sec (healthy range
  2900-3700 on this VM) before the pair runs. Pairs that never saw a
  clean probe, and pairs with efficiency > 1 (super-linear on one
  host means the N leg ran slow), are marked CONTENDED and excluded
  from the median.
- This batch's pairs:
{chr(10).join(fmt_pair(p) for p in pairs)}
- Full history: BENCH/scaling_history.jsonl ({len(same_shape)} pairs of
  this shape, {len(clean)} clean).
- Split sizing: `spark.sql.files.maxPartitionBytes` =
  input_bytes/(cores×16) → ~16 task waves per core.
- Produced by `python tools/bench_scaling.py --docs {args.docs} --n {args.n} --xn {args.xn}`.
"""
    with open(os.path.join(REPO, "BENCH", args.out), "w") as f:
        f.write(md)
    print(json.dumps({"N": lo, "4N": hi, "efficiency": eff,
                      "clean_pairs": len(clean),
                      "upper_bound": pick["upper_bound"]}))
    if not args.keep_input:
        shutil.rmtree(INPUT_DIR, ignore_errors=True)


if __name__ == "__main__":
    main()
