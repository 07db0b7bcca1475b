#!/usr/bin/env python3
"""Benchmark of the extraction pipeline and the operator queries.

One workload per process, on ``local[2]``:

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 10 --trace 0

Run from the repository root. The protocol of one run:

1. Generate the workload's input from ``--seed`` and write it as parquet,
   one file per scan task (2 per slot), with what a correct output looks
   like. Not timed.
2. Set up once, cold: start a SparkSession (launching the JVM), then run
   full-size warm-up passes, the workload's fixed number of them
   (``corpus_ops`` runs its queries three at a time in all but the last).
   Spark keeps every class it generates compiled, so that a warm pass
   compiles none. ``setup_s`` runs from process start to the end of the
   warm-up, less the input generation.
3. Timed phase: run passes back to back for ``--seconds``, and at least
   two; report the median pass. CPU and memory (PSS, see ``procstat.py``)
   are read from ``/proc`` over the whole process tree (driver, JVM,
   Python workers).
4. Check every pass's output (see ``verify.py`` and ``corpus.py``).

With ``--trace 1`` the run reports per-layer metrics instead (see
``layers.py``): those of the workload's own layers on its own input, and
those of the other workload's layers on that workload's tiny input, so
that every traced run reports every per-layer metric. The last line of
stdout is one compact JSON object; the full detail, host facts included,
goes to ``perfbench/results/<workload>-seed<seed>-trace<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SLOTS = 2
FILES_PER_SLOT = 2
DRIVER_MEMORY = "1g"
#: generated classes Spark keeps compiled (its default is 100)
CODEGEN_CACHE = 1000
#: fewest passes of the timed phase
MIN_PASSES = 2
#: traced passes of an extraction input, for ``trace.overhead_frac``
TRACED_PASSES = 2


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["uniform", "corpus_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: a few hundred rows, for the smoke test")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def spark_session(work: str, scan_tasks: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(4 * SLOTS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one scan task per input file
        .config("spark.sql.files.minPartitionNum", str(scan_tasks))
        # keep every generated class of a pass compiled: ``corpus_ops``
        # generates ~220 a pass, more than the default cache of 100 holds,
        # so each pass would recompile them all and the JIT never settles
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all
    of them to end."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to the kill
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args: argparse.Namespace) -> dict:
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # before the program is imported: the training-corpus query keeps its
    # scratch tables under the temp dir it sees at import time
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the JVMs' hsperfdata files would otherwise go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable

    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "scale": args.scale, "slots": SLOTS}
    spark = None
    try:
        from perfbench import procstat, workloads

        t_imported = time.perf_counter()
        sizes = workloads.TINY if args.scale == "tiny" else workloads.FULL
        wl = sizes[args.workload]
        n_files = FILES_PER_SLOT * SLOTS

        # 1. input and expected output, not timed
        p = wl.prepare(work, args.seed, n_files)
        detail["input"] = p.describe()
        log(f"input: {detail['input']}")
        host = procstat.HostFacts()
        checks: list[dict] = []

        # 2. one cold set-up, through the warm-up
        t_session = time.perf_counter()
        spark = spark_session(work, n_files)
        warm = []
        for i in range(1 + wl.warm_passes):
            t0 = time.perf_counter()
            # the last warm-up pass runs the way the timed ones do: the
            # first sequential pass after concurrent ones is ~15% slower
            (p.run if i == wl.warm_passes else p.warm)(spark)
            warm.append(time.perf_counter() - t0)
            checks.append(p.check(spark, sample=i == 0))
        setup_s = t_imported - T_PROCESS + time.perf_counter() - t_session
        log(f"setup: {setup_s:.2f}s, warm-up passes {[round(w, 2) for w in warm]}")
        detail.update(setup_s=setup_s, warmup_walls=warm)

        # 3. timed phase
        walls, cpus = [], []
        root = os.getpid()
        with procstat.PssSampler(root) as mem:
            t_end = time.perf_counter() + args.seconds
            while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
                c0 = procstat.tree_cpu_s(root)
                t0 = time.perf_counter()
                p.run(spark)
                walls.append(time.perf_counter() - t0)
                cpus.append(procstat.tree_cpu_s(root) - c0)
                checks.append(p.check(spark, sample=False))
                if wl.kind == "corpus":
                    detail.setdefault("query_walls", []).append(dict(p.walls))
        checks[-1] = p.check(spark)  # the last pass in full
        log(f"timed passes: {[round(w, 2) for w in walls]}")
        wall = statistics.median(walls)
        detail.update(pass_walls=walls, pass_cpu_s=cpus, mem_samples=mem.samples,
                      peak_mb_by_process=mem.peak_procs)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "docs_per_s": p.n_docs / wall,
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": mem.peak_bytes / 2**20,
        }

        # 4. per-layer metrics
        if args.trace:
            from dots_ocr_spark.tracing import Tracer

            tracer = Tracer(spark)
            own, traced_wall = layer_metrics(spark, tracer, wl.kind, p,
                                             args.seed, wall, checks)
            other = next(w for w in workloads.TINY.values() if w.kind != wl.kind)
            cp = other.prepare(os.path.join(work, "other"), args.seed, n_files)
            for _ in range(1 + other.warm_passes):
                cp.warm(spark)
                checks.append(cp.check(spark))
            rest, _ = layer_metrics(spark, tracer, other.kind, cp, args.seed,
                                    None, checks)
            metrics = {"trace.overhead_frac": traced_wall / wall - 1, **own, **rest}
            detail["other_input"] = cp.describe()
            detail["spans"] = [vars(s) for s in tracer.spans]

        detail["host"] = host.finish()
        log(f"host: {detail['host']}")
        detail["checks"] = checks
        units = metric_units(args.trace)
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(metrics)} are not the ones "
                               f"BENCHMARK.json lists: {sorted(units)}")
        result = {
            "correct": all(c["correct"] for c in checks),
            "attempted": sum(c["attempted"] for c in checks),
            "failed": sum(c["failed"] for c in checks),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        detail["result"] = result
        return result
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        out_dir = os.path.join(HERE, "results")
        os.makedirs(out_dir, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(detail, f, indent=1, default=str)


def layer_metrics(spark, tracer, kind: str, p, seed: int, wall: float | None,
                  checks: list) -> tuple[dict, float]:
    """The per-layer metrics of the layers a workload of ``kind`` runs,
    over the input of pass object ``p``, whose median untraced pass is
    ``wall`` (measured here when None). Returns them and the wall time of
    a traced pass; appends the checks of every output written."""
    from perfbench import layers

    if kind == "corpus":
        out, whole = layers.ops_metrics(spark, tracer, p)
        checks.append(p.check(spark))
        return out, whole.wall_sec
    if wall is None:
        wall = layers.median_wall(lambda: p.run(spark), reps=3)
        checks.append(p.check(spark))
    spans = []
    for _ in range(TRACED_PASSES):
        with tracer.span("workload.extract") as span:
            p.run(spark)
        spans.append(span)
        checks.append(p.check(spark, sample=False))
    out, more = layers.extraction_metrics(spark, tracer, p, seed, wall, spans[-1])
    checks.extend(more)
    return out, statistics.median(s.wall_sec for s in spans)


def metric_units(trace: int) -> dict[str, str]:
    """Name → unit of the metrics a run reports, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
