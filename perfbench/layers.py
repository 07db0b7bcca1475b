"""Per-layer measurements for the traced run.

Every figure here is taken from outside the program: the benchmark
times calls into each module's public functions and reads job, stage and
task counts from ``tracing.Tracer`` spans around them. Nothing in the
program is edited; the driver-side ``spec`` timer swaps module
attributes for timing wrappers and puts the originals back afterwards.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import statistics
import time
import types
from collections import Counter, defaultdict
from contextlib import contextmanager
from typing import Iterator

import pandas as pd

from dots_ocr_spark import checkpoint, oracle, pipeline
from dots_ocr_spark.spec import geometry, page, render, toc, words
from dots_ocr_spark.tracing import Tracer

from perfbench import corpus, verify, workloads

#: ``jobs/run_extract.py`` defaults
N_BUCKETS = 64
BUCKETS_PER_COMMIT = 16


# --------------------------------------------------------------------------
# spec rules, timed in the driver
# --------------------------------------------------------------------------

class SpecTimer:
    """Inclusive time per spec layer, with per-page tallies.

    A wrapper only times the outermost call of its layer, so a layer
    function calling another of the same layer (``cells_to_markdown`` →
    ``render_cell_markdown``) is not counted twice.
    """

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.status: Counter = Counter()
        self.cells = 0
        self._active: Counter = Counter()

    def _wrap(self, layer: str, fn):
        def timed(*args, **kwargs):
            self.calls[fn.__name__] += 1
            if self._active[layer]:
                return fn(*args, **kwargs)
            self._active[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self._active[layer] -= 1
        return timed

    def _wrap_page(self, fn):
        timed = self._wrap("page", fn)

        def tallied(*args, **kwargs):
            r = timed(*args, **kwargs)
            self.status[r["status"]] += 1
            self.cells += len(r["cells"])
            return r
        return tallied

    @contextmanager
    def installed(self) -> Iterator["SpecTimer"]:
        """Swap the attributes ``process_page`` and the oracle look up at
        call time for timing wrappers; restore them on exit."""
        json_proxy = types.SimpleNamespace(
            loads=self._wrap("parse", json.loads), dumps=json.dumps)
        patches = [
            (page, "json", json_proxy),
            (page, "_fallback_page", self._wrap("repair", page._fallback_page)),
            (page, "_validate_cells", self._wrap("validate", page._validate_cells)),
            (geometry, "remap_category",
             self._wrap("remap_iou", geometry.remap_category)),
            (geometry, "exclude_overlap_boxes",
             self._wrap("remap_iou", geometry.exclude_overlap_boxes)),
            (words, "fill_cell_texts", self._wrap("words", words.fill_cell_texts)),
            (toc, "apply_toc_rebuild", self._wrap("toc", toc.apply_toc_rebuild)),
            (page, "reading_order", self._wrap("xycut", page.reading_order)),
            (render, "cells_to_markdown",
             self._wrap("render", render.cells_to_markdown)),
            (render, "render_cell_markdown",
             self._wrap("render", render.render_cell_markdown)),
            (oracle, "assemble_page_results",
             self._wrap("assemble", oracle.assemble_page_results)),
            (oracle, "process_page", self._wrap_page(oracle.process_page)),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        try:
            for mod, attr, fn in patches:
                setattr(mod, attr, fn)
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)


_PER_PAGE = ("page", "parse", "repair", "validate", "remap_iou", "words",
             "toc", "xycut", "render")


def spec_metrics(docs: list[dict], seed: int, sample: int = 300,
                 reps: int = 3) -> dict:
    """Spec-rule timings on a seeded sample of the workload's documents
    (median of ``reps``), plus the plain-Python time of its largest one."""
    rng = random.Random(seed ^ 0x5BEC)
    picked = [docs[i] for i in sorted(rng.sample(range(len(docs)),
                                                 min(sample, len(docs))))]
    runs = []
    for _ in range(reps):
        timer = SpecTimer()
        with timer.installed():
            t0 = time.perf_counter()
            for d in picked:
                oracle.extract_document(d)
            doc_s = time.perf_counter() - t0
        runs.append((timer, doc_s))
    timer = runs[0][0]
    n_pages = sum(timer.status.values())
    n_docs = len(picked)

    def med(f) -> float:
        return statistics.median(f(t, d) for t, d in runs)

    out = {f"spec.{layer}_ms": med(
        lambda t, d, layer=layer: 1000 * t.seconds[layer] / n_pages)
        for layer in _PER_PAGE}
    out["spec.doc_ms"] = med(lambda t, d: 1000 * d / n_docs)
    out["spec.assemble_ms"] = med(
        lambda t, d: 1000 * t.seconds["assemble"] / n_docs)
    out["spec.render_calls_per_cell"] = \
        timer.calls["render_cell_markdown"] / max(timer.cells, 1)
    for status in ("ok", "fallback", "failed"):
        out[f"spec.pages_{status}"] = timer.status[status]
    largest = max(docs, key=lambda d: d["n_pages"])
    t0 = time.perf_counter()
    oracle.extract_document(largest)
    out["spec.max_doc_s"] = time.perf_counter() - t0
    return out


# --------------------------------------------------------------------------
# the Spark pipeline, layer by layer
# --------------------------------------------------------------------------

def _boundary_identity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow → pandas → Python lists → Arrow, and no spec work."""
    for pdf in batches:
        pdf["pages"].tolist()
        yield pdf


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median_wall(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def exchanges(df) -> int:
    """Exchange nodes in the physical plan Spark picked for ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def failed_tasks(spark, span) -> int:
    """Failed task attempts in the jobs that ran inside a Tracer span."""
    tracker = spark.sparkContext.statusTracker()
    n = 0
    for jid in tracker.getJobIdsForGroup(f"trace-{span.span_id}"):
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            n += st.numFailedTasks if st else 0
    return n


def pipeline_metrics(spark, tracer: Tracer, p: workloads.ExtractPass,
                     parquet_s: float, span, reps: int = 3) -> dict:
    """Scan, Arrow boundary, extract and sink times over the workload's
    input, given the median time of a full pass into the parquet sink
    (``parquet_s``) and the Tracer span of one such pass (``span``)."""
    docs = p.docs(spark).select("doc_id", "pages")
    with tracer.span("pipeline.scan"):
        scan = median_wall(lambda: _noop(docs), reps)
    with tracer.span("pipeline.boundary"):
        boundary = median_wall(lambda: _noop(docs.mapInPandas(
            _boundary_identity, schema=docs.schema)), reps)
    with tracer.span("pipeline.extract_noop"):
        extract = median_wall(lambda: _noop(pipeline.extract(p.docs(spark))), reps)
    return {
        "pipeline.scan_s": scan,
        "pipeline.boundary_s": boundary - scan,
        "pipeline.extract_s": extract,
        "pipeline.sink_s": parquet_s - extract,
        "pipeline.exchanges": exchanges(pipeline.extract(p.docs(spark))),
        "pipeline.jobs": span.n_jobs,
        "pipeline.stages": span.n_stages,
        "pipeline.tasks": span.n_tasks,
        "pipeline.failed_tasks": failed_tasks(spark, span),
    }


def checkpoint_metrics(spark, tracer: Tracer, p: workloads.ExtractPass,
                       single_pass_s: float) -> tuple[dict, dict]:
    """One checkpointed run over the workload's input and its resume, with
    the job defaults; returns the metrics and the check of the result."""
    base = os.path.join(p.work, "layer_ckpt")
    shutil.rmtree(base, ignore_errors=True)
    docs = p.docs(spark)
    kw = dict(n_buckets=N_BUCKETS, buckets_per_commit=BUCKETS_PER_COMMIT)
    with tracer.span("checkpoint.run") as run:
        checkpoint.run_extraction(spark, docs, base, **kw)
    with tracer.span("checkpoint.resume") as resume:
        res = checkpoint.run_extraction(spark, docs, base, **kw)
    lineage = [r.asDict() for r in checkpoint.read_lineage(spark, base).collect()]
    check = verify.check_output(p.expected, checkpoint.read_output(spark, base))
    check["lineage_problems"] = verify.check_lineage(
        lineage, N_BUCKETS, len(p.expected.n_pages), res)
    check["correct"] = check["correct"] and not check["lineage_problems"]
    shutil.rmtree(base, ignore_errors=True)
    return {
        "checkpoint.run_s": run.wall_sec,
        "checkpoint.resume_s": resume.wall_sec,
        "checkpoint.overhead_s": run.wall_sec - single_pass_s,
        # each commit group stamps its lineage rows with one time
        "checkpoint.commit_groups": len({r["completed_at_unix"] for r in lineage}),
        "checkpoint.jobs": run.n_jobs + resume.n_jobs,
        "checkpoint.tasks": run.n_tasks + resume.n_tasks,
        "checkpoint.lineage_rows": len(lineage),
    }, check


def extraction_metrics(spark, tracer: Tracer, p: workloads.ExtractPass,
                       seed: int, parquet_s: float, span) -> tuple[dict, list]:
    """Every ``pipeline``, ``checkpoint`` and ``spec`` metric over one
    extraction input, given the median untraced pass into the parquet
    sink and the Tracer span of one traced pass; returns the metrics and
    the checks of the outputs the measurements wrote."""
    out = pipeline_metrics(spark, tracer, p, parquet_s, span)
    ck, ck_check = checkpoint_metrics(spark, tracer, p, parquet_s)
    out.update(ck)
    out.update(spec_metrics(p.docs_list, seed))
    return out, [ck_check]


# --------------------------------------------------------------------------
# the operator queries
# --------------------------------------------------------------------------

def ops_metrics(spark, tracer: Tracer, p: corpus.CorpusPass) -> tuple[dict, object]:
    """One traced pass of the corpus queries, one span per query: its
    wall time, Spark jobs, and the Exchanges in its executed plan; then
    the same for each layer query, after one untimed run of it (no
    warm-up pass runs it). Returns the metrics and the span of the
    pass."""
    out: dict = {}
    p.results.clear()

    def traced(name: str) -> None:
        with tracer.span(f"ops.{name}") as s:
            df = p.run_query(spark, name)
        out[f"ops.{name}_s"] = s.wall_sec
        out[f"ops.{name}_jobs"] = s.n_jobs
        out[f"ops.{name}_exchanges"] = exchanges(df)

    with tracer.span("workload.corpus_ops") as whole:
        for name in corpus.QUERY_NAMES:
            traced(name)
    for name in corpus.LAYER_QUERIES:
        p.run_query(spark, name)
        traced(name)
    return out, whole
