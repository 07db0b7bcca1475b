"""Retry safety of the observed lineage counts: a commit group's lineage
is observed during its output write, so a write task that fails and is
retried must not leave its failed attempt's partial counts behind. One
write task of every commit group fails on its first attempt; the run
still succeeds on the retry, and every lineage count equals the same
count over the committed output."""

import subprocess
import sys
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from dots_ocr_spark import checkpoint

N_DOCS = 60

#: runs the three checkpointed runners on local[2,2] (one retry per
#: task) with the parse step wrapped so that partition 0 of every write
#: stage raises after passing all its rows on, on the first attempt only;
#: each retry appends a line to the case's marker file
SCRIPT = r"""
import sys
from pyspark import TaskContext
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
         .getOrCreate())
from dots_ocr_spark import checkpoint, pipeline

root, n_docs = sys.argv[1], int(sys.argv[2])


def fail_first_attempt(parse, marker):
    def fail(batches):
        ctx = TaskContext.get()
        yield from batches
        if ctx.partitionId() == 0:
            if ctx.attemptNumber() == 0:
                raise RuntimeError("injected write-task failure")
            with open(marker, "a") as f:
                f.write(f"{ctx.stageId()}\n")

    def wrapped(df, **kw):
        out = parse(df, **kw)
        return out.mapInArrow(fail, out.schema)
    return wrapped


docs = pipeline.generate_input(spark, n_docs, partitions=2)
extract, parse_pages = pipeline.extract, pipeline.parse_pages_exploded
for mode in ("fused", "scatter"):
    pipeline.extract = fail_first_attempt(extract, f"{root}/{mode}.retried")
    checkpoint.run_extraction(spark, docs, f"{root}/{mode}", n_buckets=8,
                              buckets_per_commit=4, mode=mode)
pipeline.extract = extract
pipeline.parse_pages_exploded = fail_first_attempt(
    parse_pages, f"{root}/paged.retried")
checkpoint.run_extraction_paged(spark, docs, f"{root}/paged", n_buckets=4,
                                pages_per_range=2, units_per_commit=4)
spark.stop()
"""


@pytest.fixture(scope="module")
def retried_runs(tmp_path_factory):
    root = tmp_path_factory.mktemp("retry")
    subprocess.run([sys.executable, "-c", SCRIPT, str(root), str(N_DOCS)],
                   check=True, capture_output=True, text=True,
                   cwd=Path(__file__).resolve().parents[1])
    return root


def _counts(df, keys, counts):
    return {tuple(r[k] for k in keys): tuple(r[n] for n in counts)
            for r in df.collect()}


@pytest.mark.parametrize("mode", ["fused", "scatter"])
def test_bucket_lineage_exact_after_task_retry(spark, retried_runs, mode):
    base = str(retried_runs / mode)
    assert (retried_runs / f"{mode}.retried").read_text().strip()
    counts = ["n_docs", "n_spans", "n_failed_pages", "n_fallback_pages"]
    lineage = _counts(checkpoint.read_lineage(spark, base), ["bucket"], counts)
    committed = _counts(
        checkpoint.read_output(spark, base).groupBy("bucket").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_failed").alias("n_failed_pages"),
            F.sum("n_fallback").alias("n_fallback_pages")),
        ["bucket"], counts)
    assert checkpoint.read_lineage(spark, base).count() == 8
    assert lineage == {**{(b,): (0, 0, 0, 0) for b in range(8)}, **committed}
    assert sum(v[0] for v in lineage.values()) == N_DOCS


def test_page_lineage_exact_after_task_retry(spark, retried_runs):
    base = str(retried_runs / "paged")
    assert (retried_runs / "paged.retried").read_text().strip()
    keys = ["bucket", "prange"]
    counts = ["n_pages", "n_failed_pages", "n_fallback_pages"]
    lineage = _counts(checkpoint.read_page_lineage(spark, base), keys, counts)
    committed = _counts(
        checkpoint.read_page_output(spark, base).groupBy(*keys).agg(
            F.count("*").alias("n_pages"),
            F.sum((F.col("status") == "failed").cast("long"))
            .alias("n_failed_pages"),
            F.sum((F.col("status") == "fallback").cast("long"))
            .alias("n_fallback_pages")),
        keys, counts)
    assert checkpoint.read_page_lineage(spark, base).count() == len(lineage)
    assert lineage == committed
