"""Resumable extraction runs: per-partition lineage + metrics + idempotent
restart (north-rule X6; reference analog: MD5-of-input + output-existence
skip at /root/reference/app/dotsocr_service.py:253-348 and the S3
page-index resume scan at /root/reference/app/utils/storage.py:199-228).

Design (Iceberg semantics approximated on plain parquet — the container
ships no Iceberg catalog; on a real deployment swap the two writers for
``MERGE INTO`` on an Iceberg table and this module's logic is unchanged):

  * Work unit = **bucket**: ``pmod(xxhash64(doc_id), n_buckets)``. Stable
    across runs, independent of input file layout.
  * Output table: parquet partitioned by ``bucket``, written with dynamic
    partition overwrite — re-processing a bucket atomically replaces its
    directory, so a crash mid-bucket can never duplicate rows.
  * Lineage table: one row per completed bucket ``(bucket, run_id,
    n_docs, n_spans, n_failed_pages, n_fallback_pages,
    completed_at_unix)``, appended AFTER the bucket's output commit. Its
    counts are observed during that output write (``DataFrame.observe``),
    not re-read from the output. Crash between the two writes ⇒ the
    bucket is simply re-done (idempotent), never skipped-but-missing.
  * Resume = the bucket domain minus the lineage table's buckets:
    completed buckets are pruned BEFORE any Python work runs — at the
    scan, via a partition-pruning-friendly ``bucket IN (...)`` per
    commit group.
  * Metrics: per-bucket page/doc counters live in the lineage rows;
    ``metrics_summary`` aggregates them (A4/A5 analog).

Buckets are processed in groups of ``buckets_per_commit`` to bound commit
frequency (one output write + one lineage append per group) — the knob
trades restart granularity against job-scheduling overhead, exactly like
Iceberg snapshot batching.
"""

from __future__ import annotations

import functools
import operator
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import pipeline

LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("run_id", T.StringType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_spans", T.LongType()),
    T.StructField("n_failed_pages", T.LongType()),
    T.StructField("n_fallback_pages", T.LongType()),
    T.StructField("completed_at_unix", T.DoubleType()),
])


def _lineage_path(base: str) -> str:
    return os.path.join(base, "_lineage")


def _output_path(base: str) -> str:
    return os.path.join(base, "output")


def _bucket(n_buckets: int) -> Column:
    """The commit-unit rule every runner keys on: ``pmod(xxhash64(doc_id),
    n_buckets)``."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _write_group(out: DataFrame, output_path: str, lineage_path: str,
                 lineage_schema: T.StructType, keys: list[str],
                 group: list[tuple], values: dict[str, Column],
                 run_id: str) -> None:
    """Commit one group: the dynamic-overwrite write of ``out``, then one
    lineage row per unit of ``group`` (tuples over ``keys``) summing the
    per-row ``values`` observed during that write; an empty unit gets
    zeros. The observation is in the write's result stage, whose
    accumulator updates count once per partition: a failed attempt's
    partial counts are dropped and a retry is not counted twice."""
    obs = Observation()
    sums = []
    for i, unit in enumerate(group):
        in_unit = functools.reduce(
            operator.and_, [F.col(k) == v for k, v in zip(keys, unit)])
        sums += [F.sum(F.when(in_unit, v)).alias(f"{n}_{i}")
                 for n, v in values.items()]
    out.observe(obs, *sums).write.mode("overwrite").partitionBy(*keys) \
        .parquet(output_path)
    seen, now = obs.get, time.time()
    rows = [(*unit, run_id, *[seen.get(f"{n}_{i}") or 0 for n in values], now)
            for i, unit in enumerate(group)]
    out.sparkSession.createDataFrame(rows, lineage_schema).coalesce(1) \
        .write.mode("append").parquet(lineage_path)


def _completed(spark: SparkSession, path: str, schema: T.StructType,
               keys: list[str]) -> set[tuple]:
    """Units committed by any previous run. Only a missing table means
    none: taking any other read error as none would redo every unit and
    append a second lineage row for each. The table's existence is asked
    of the file system, not learnt from a failed read, whose analysis
    error an observed write's listener logs as a stack trace."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return set()
    rows = spark.read.schema(schema).parquet(path).select(*keys).collect()
    return {tuple(r) for r in rows}


def completed_buckets(spark: SparkSession, base: str) -> set[int]:
    """Buckets already committed by any previous run (the resume scan)."""
    return {b for b, in _completed(
        spark, _lineage_path(base), LINEAGE_SCHEMA, ["bucket"])}


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    base: str,
    n_buckets: int = 64,
    buckets_per_commit: int = 16,
    mode: str = "fused",
    run_id: str | None = None,
    bucket_col: str | None = None,
) -> dict:
    """Run (or resume) a checkpointed extraction over ``docs``.

    Returns ``{"run_id", "processed_buckets", "skipped_buckets"}``.
    Safe to call again after any failure: completed buckets are never
    recomputed; a half-written bucket is overwritten atomically.

    ``bucket_col``: name of a PARTITION column on the input that
    already holds ``pmod(xxhash64(doc_id), n_buckets)`` — i.e. the
    input was written with ``partitionBy`` on a column computed by
    exactly that rule, the layout this module's own output uses. (NOT
    ``sinks.write_bucketed``: Hive ``bucketBy`` uses Murmur3 file
    bucketing with no partition column, which neither matches the pmod
    rule nor supports partition pruning.)
    When given, each commit group's filter is a partition predicate and
    the scan PRUNES to the group's files — G commit groups read the
    corpus once in total. Without it the bucket is computed as an
    expression, which no scan can prune, so every commit group rescans
    the full source: fine for a handful of groups, the dominant cost at
    100 TB with fine-grained commits (measured: each extra group adds a
    source scan, BENCH/BASELINE.md). The column MUST follow the pmod
    rule above — the resume domain, output partitioning, and lineage
    are all keyed on it.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    done = completed_buckets(spark, base)
    todo = [b for b in range(n_buckets) if b not in done]

    if bucket_col is None:
        bucketed = docs.withColumn("bucket", _bucket(n_buckets))
    elif docs.where(~F.coalesce(F.col(bucket_col).between(0, n_buckets - 1),
                                F.lit(False))).limit(1).count():
        # Domain guard: commit groups only ever select buckets in
        # [0, n_buckets), so a doc whose bucket_col lies outside (or is
        # null) would never be parsed while every group commits clean
        # lineage. A FINER layout (e.g. pmod(..., 2*n_buckets)) hits
        # exactly this: its in-range buckets recompute consistently, so
        # the per-group layout guard below never sees the rest. One
        # JVM-only job over the partition column, before any commit.
        raise ValueError(
            f"bucket_col={bucket_col!r} has values outside "
            f"[0, {n_buckets}): the input's partition layout disagrees "
            f"with this run's n_buckets={n_buckets} — refusing to run "
            "rather than silently skip those docs.")

    for lo in range(0, len(todo), buckets_per_commit):
        group = todo[lo:lo + buckets_per_commit]
        if bucket_col is not None:
            # partition predicate: the scan prunes to the group's files
            chunk = docs.where(F.col(bucket_col).isin(group))
            # Layout guard: the fast path trusts that bucket_col follows
            # pmod(xxhash64(doc_id), n_buckets). If the input was written
            # with a different n_buckets or hash, this group would parse
            # the wrong docs, commit lineage for buckets it never
            # produced, and later groups' dynamic overwrites would wipe
            # the stray output partitions — silent doc loss behind a
            # clean lineage table. Recompute the rule over the pruned
            # files only (one cheap JVM-only job, no Python work) and
            # refuse to commit on any mismatch.
            stray = chunk.where(
                ~_bucket(n_buckets).isin(group)).limit(1).count()
            if stray:
                raise ValueError(
                    f"bucket_col={bucket_col!r} does not follow "
                    f"pmod(xxhash64(doc_id), {n_buckets}): commit group "
                    f"{group} selected docs whose recomputed bucket lies "
                    "outside the group. The input's partition layout "
                    "disagrees with this run's (n_buckets, hash) — "
                    "refusing to commit rather than silently lose docs.")
            chunk = chunk.drop(bucket_col)
        else:
            chunk = bucketed.where(F.col("bucket").isin(group)).drop("bucket")
        out = pipeline.extract(chunk, mode=mode).withColumn(
            "bucket", _bucket(n_buckets))
        _write_group(
            out, _output_path(base), _lineage_path(base), LINEAGE_SCHEMA,
            ["bucket"], [(b,) for b in group],
            {"n_docs": F.lit(1), "n_spans": F.col("n_spans"),
             "n_failed_pages": F.col("n_failed"),
             "n_fallback_pages": F.col("n_fallback")},
            run_id)

    return {
        "run_id": run_id,
        "processed_buckets": len(todo),
        "skipped_buckets": len(done),
    }


def read_output(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(_output_path(base))


# --------------------------------------------------------------------------
# page-granular checkpointing (giant-document / scatter-mode resume)
# --------------------------------------------------------------------------
#
# The bucket-grain runner above recomputes a WHOLE bucket after a
# mid-bucket crash — fine for uniform corpora, wasteful when one
# document holds 10k pages (the measured scatter-win regime,
# tools/bench_scatter.py). This runner checkpoints at (bucket,
# page-range) grain, the Spark analog of the reference's page-index
# resume scan (/root/reference/app/utils/storage.py:199-228): a crash
# mid-giant-doc resumes at the first uncommitted page range of that
# document instead of its first page.
#
#   * Work unit = (bucket, prange): bucket = pmod(xxhash64(doc_id), B),
#     prange = page_no // pages_per_range. Stable across runs.
#   * Output = PARSED PAGE grain (schemas.PARSED_PAGE + the unit
#     columns), parquet partitioned by (bucket, prange) with dynamic
#     overwrite — same atomic-replace guarantee as the bucket runner.
#   * The unit domain is data-derived (bucket b has ranges
#     0..max(ceil(n_pages/r))-1 over its docs) — a bounded
#     n_buckets-row collect, recomputed identically on every resume.
#   * Document assembly (``assemble_from_page_checkpoint``) is the
#     scatter pipeline's stage 2 (pure-JVM ``assemble_documents``) over
#     the completed page table.

PAGE_LINEAGE_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("prange", T.IntegerType()),
    T.StructField("run_id", T.StringType()),
    T.StructField("n_pages", T.LongType()),
    T.StructField("n_failed_pages", T.LongType()),
    T.StructField("n_fallback_pages", T.LongType()),
    T.StructField("completed_at_unix", T.DoubleType()),
])

#: encodes (bucket, prange) into one long for an IN-list filter; no
#: corpus has 2^40 pages per document, so the encoding never collides
_PR_ENC = 1 << 40


def _page_lineage_path(base: str) -> str:
    return os.path.join(base, "_page_lineage")


def _pages_path(base: str) -> str:
    return os.path.join(base, "pages")


def completed_page_units(spark: SparkSession, base: str) -> set[tuple[int, int]]:
    """(bucket, prange) units committed by any previous run."""
    return _completed(spark, _page_lineage_path(base), PAGE_LINEAGE_SCHEMA,
                      ["bucket", "prange"])


def _page_grain(docs: DataFrame, n_buckets: int, pages_per_range: int) -> DataFrame:
    """Explode the input to page grain with the (bucket, prange) unit key."""
    return (
        docs.withColumn("bucket", _bucket(n_buckets))
        .select("doc_id", "bucket", F.explode("pages").alias("page"))
        .select("doc_id", "bucket", "page.*")
        .withColumn(
            "prange",
            F.floor(F.col("page_no") / F.lit(pages_per_range)).cast("int"))
    )


def run_extraction_paged(
    spark: SparkSession,
    docs: DataFrame,
    base: str,
    n_buckets: int = 64,
    pages_per_range: int = 8,
    units_per_commit: int = 16,
    run_id: str | None = None,
) -> dict:
    """Run (or resume) a page-granular checkpointed parse over ``docs``.

    Returns ``{"run_id", "processed_units", "skipped_units"}``. Safe to
    call again after any failure: committed page ranges are never
    re-parsed — including the completed ranges of a document whose later
    ranges crashed (the giant-doc case the bucket runner recomputes).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # data-derived unit domain: one row per bucket → bounded collect.
    # Ranges are derived from the MAX page_no actually present (not from
    # size(pages)): the two agree on the canonical 0-based contiguous
    # numbering, but an externally-supplied table with 1-based or gapped
    # page_no would otherwise put its last page(s) in a prange outside
    # the domain — never selected, yet the unit lineage still commits,
    # i.e. pages silently dropped with no resumable trace.
    dom = (
        docs.select(
            _bucket(n_buckets).alias("bucket"),
            F.coalesce(F.size("pages"), F.lit(0)).alias("n_pages"),
            # null for a page-less doc, which the guard below refuses
            (F.floor(F.array_max("pages.page_no") / F.lit(pages_per_range))
             .cast("int") + 1).alias("npr"),
            F.array_min("pages.page_no").alias("min_pno"),
        )
        .groupBy("bucket")
        .agg(F.max("npr").alias("npr"), F.min("min_pno").alias("min_pno"),
             F.min("n_pages").alias("min_pages"))
        .collect()
    )
    # array_max covers 1-based/gapped numbering UPWARD, but a negative
    # page_no would get a negative prange that is never in the domain:
    # the page is silently never parsed while its bucket's units all
    # commit lineage — the same silent-drop mode the array_max bound
    # exists to prevent, in the other direction. Fail fast instead; the
    # min comes free in the same bounded domain collect.
    neg = sorted(r["bucket"] for r in dom
                 if r["min_pno"] is not None and r["min_pno"] < 0)
    if neg:
        raise ValueError(
            f"negative page_no in bucket(s) {neg}: pages with page_no < 0 "
            "would fall outside the (bucket, prange) unit domain and be "
            "silently skipped. Renumber pages to be >= 0 before the "
            "paged runner.")
    # A document without pages owns no (bucket, prange) unit, so it
    # never reaches the page table and assembly would drop it while the
    # lineage stays clean. Refuse it from the same collect; the bucket
    # runner (``run_extraction``) emits such documents (n_pages=0).
    empty = sorted(r["bucket"] for r in dom if r["min_pages"] == 0)
    if empty:
        raise ValueError(
            f"document(s) without pages in bucket(s) {empty}: the paged "
            "runner checkpoints pages, so they would be silently missing "
            "from its output. Use run_extraction for such inputs.")
    all_units = {(r["bucket"], p) for r in dom for p in range(r["npr"])}
    done = completed_page_units(spark, base) & all_units
    todo = sorted(all_units - done)

    pages = _page_grain(docs, n_buckets, pages_per_range)
    unit_key = F.col("bucket").cast("long") * _PR_ENC + F.col("prange")

    for lo in range(0, len(todo), units_per_commit):
        group = todo[lo:lo + units_per_commit]
        in_group = unit_key.isin([b * _PR_ENC + p for b, p in group])
        parsed = pipeline.parse_pages_exploded(
            pages.where(in_group).drop("bucket", "prange"))
        out = parsed.withColumn("bucket", _bucket(n_buckets)).withColumn(
            "prange",
            F.floor(F.col("page_no") / F.lit(pages_per_range)).cast("int"))
        _write_group(
            out, _pages_path(base), _page_lineage_path(base),
            PAGE_LINEAGE_SCHEMA, ["bucket", "prange"], group,
            {"n_pages": F.lit(1),
             "n_failed_pages": (F.col("status") == "failed").cast("long"),
             "n_fallback_pages": (F.col("status") == "fallback").cast("long")},
            run_id)

    return {
        "run_id": run_id,
        "processed_units": len(todo),
        "skipped_units": len(done),
    }


def read_page_output(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(_pages_path(base))


def read_page_lineage(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.schema(PAGE_LINEAGE_SCHEMA) \
        .parquet(_page_lineage_path(base))


def assemble_from_page_checkpoint(spark: SparkSession, base: str) -> DataFrame:
    """Stage 2 of the scatter pipeline over the completed page table:
    pure-JVM document reassembly (identical combiner to
    ``pipeline.extract_scatter``)."""
    return pipeline.assemble_documents(
        read_page_output(spark, base)
        .select("doc_id", "page_no", "status", "md", "md_nohf", "spans"))


def page_metrics_summary(spark: SparkSession, base: str) -> DataFrame:
    """Run-level metrics rollup from the PAGE lineage table — the
    page-granular runner's analog of :func:`metrics_summary`."""
    return (
        read_page_lineage(spark, base)
        .groupBy("run_id")
        .agg(
            F.count("*").alias("n_units"),
            F.sum("n_pages").alias("n_pages"),
            F.sum("n_failed_pages").alias("n_failed_pages"),
            F.sum("n_fallback_pages").alias("n_fallback_pages"),
        )
    )


def read_lineage(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.schema(LINEAGE_SCHEMA).parquet(_lineage_path(base))


def metrics_summary(spark: SparkSession, base: str) -> DataFrame:
    """Run-level metrics rollup from the lineage table (A4/A5 analog:
    per-run counters the reference keeps in task stats,
    /root/reference/app/utils/executor/stats.py:22-41)."""
    return (
        read_lineage(spark, base)
        .groupBy("run_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_failed_pages").alias("n_failed_pages"),
            F.sum("n_fallback_pages").alias("n_fallback_pages"),
        )
    )
