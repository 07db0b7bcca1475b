"""Resumability gate (north-rule X6): a failed run resumes without
recomputing completed partitions, and the resumed output equals a
single-shot run's output exactly."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from dots_ocr_spark import checkpoint, pipeline

N_DOCS = 300
N_BUCKETS = 16


@pytest.fixture()
def docs(spark):
    return pipeline.generate_input(spark, N_DOCS, partitions=8)


def _spans_fingerprint(df):
    """Deterministic whole-table fingerprint: doc_id -> (n_spans, md5)."""
    rows = df.select(
        "doc_id", "n_spans", F.md5("markdown").alias("m")
    ).collect()
    return {r["doc_id"]: (r["n_spans"], r["m"]) for r in rows}


def test_resume_skips_completed_buckets(spark, docs, tmp_path, monkeypatch):
    base = str(tmp_path / "ckpt")

    # ---- run 1: crash after the first 2 commit groups -------------------
    real_extract = pipeline.extract
    calls = {"n": 0}

    def failing_extract(df, **kw):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("injected failure")
        return real_extract(df, **kw)

    monkeypatch.setattr(checkpoint.pipeline, "extract", failing_extract)
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run_extraction(
            spark, docs, base, n_buckets=N_BUCKETS, buckets_per_commit=4,
            run_id="run1",
        )
    monkeypatch.setattr(checkpoint.pipeline, "extract", real_extract)

    done_after_crash = checkpoint.completed_buckets(spark, base)
    assert 0 < len(done_after_crash) < N_BUCKETS  # partial progress durable

    # ---- run 2: resume ---------------------------------------------------
    res = checkpoint.run_extraction(
        spark, docs, base, n_buckets=N_BUCKETS, buckets_per_commit=4,
        run_id="run2",
    )
    assert res["skipped_buckets"] == len(done_after_crash)
    assert res["processed_buckets"] == N_BUCKETS - len(done_after_crash)

    # completed buckets kept run1's lineage rows — they were NOT recomputed
    lineage = checkpoint.read_lineage(spark, base)
    by_run = {
        r["run_id"]: r["cnt"]
        for r in lineage.groupBy("run_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_run["run1"] == len(done_after_crash)
    assert by_run["run1"] + by_run["run2"] == N_BUCKETS
    # exactly one lineage row per bucket
    assert lineage.select("bucket").distinct().count() == N_BUCKETS
    assert lineage.count() == N_BUCKETS
    # one lineage file per commit group (4 buckets each), not one per
    # default-parallelism slice of the 4 lineage rows
    lineage_files = [f for f in os.listdir(os.path.join(base, "_lineage"))
                     if f.endswith(".parquet")]
    assert len(lineage_files) == N_BUCKETS // 4

    # ---- resumed output == single-shot output ---------------------------
    resumed = _spans_fingerprint(checkpoint.read_output(spark, base))
    single = _spans_fingerprint(pipeline.extract(docs))
    assert resumed == single


#: two checkpointed runs to fresh bases in one session: the second run's
#: resume scan of a missing lineage table follows an observed write
FRESH_BASES_SCRIPT = r"""
import sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
from dots_ocr_spark import checkpoint, pipeline

docs = pipeline.generate_input(spark, 20, partitions=2)
for name in ("a", "b"):
    checkpoint.run_extraction(spark, docs, f"{sys.argv[1]}/{name}",
                              n_buckets=4, buckets_per_commit=4)
spark.stop()
"""


def test_resume_scan_of_a_fresh_base_logs_no_error(tmp_path):
    """A missing lineage table is looked up, not read and caught: Spark's
    observation listener logs a failed read's analysis error as an
    ERROR with a stack trace once the session has run an observed write."""
    p = subprocess.run([sys.executable, "-c", FRESH_BASES_SCRIPT,
                        str(tmp_path)], check=True, capture_output=True,
                       text=True, cwd=Path(__file__).resolve().parents[1])
    assert "ExecutionListenerBus" not in p.stderr
    assert "PATH_NOT_FOUND" not in p.stderr


def test_rerun_is_noop(spark, docs, tmp_path):
    base = str(tmp_path / "ckpt2")
    r1 = checkpoint.run_extraction(
        spark, docs, base, n_buckets=8, buckets_per_commit=8, run_id="a")
    assert r1["processed_buckets"] == 8
    r2 = checkpoint.run_extraction(
        spark, docs, base, n_buckets=8, buckets_per_commit=8, run_id="b")
    assert r2["processed_buckets"] == 0
    assert r2["skipped_buckets"] == 8
    # lineage untouched by the no-op run
    lineage = checkpoint.read_lineage(spark, base)
    assert lineage.where(F.col("run_id") == "b").count() == 0
    assert checkpoint.read_output(spark, base).count() == N_DOCS


def test_empty_buckets_get_lineage(spark, tmp_path):
    """A bucket with zero documents must still be marked complete: sparse
    inputs (few docs, many buckets) would otherwise reprocess the empty
    buckets on EVERY rerun — resume would never be a no-op (X6)."""
    few = pipeline.generate_input(spark, 5, partitions=2)
    base = str(tmp_path / "ckpt-sparse")
    r1 = checkpoint.run_extraction(
        spark, few, base, n_buckets=64, buckets_per_commit=32, run_id="s1")
    assert r1["processed_buckets"] == 64
    lineage = checkpoint.read_lineage(spark, base)
    assert lineage.count() == 64          # every bucket has a lineage row
    assert lineage.where(F.col("n_docs") == 0).count() >= 64 - 5
    assert int(lineage.agg(F.sum("n_docs")).collect()[0][0]) == 5
    # rerun: a true no-op with correct accounting
    r2 = checkpoint.run_extraction(
        spark, few, base, n_buckets=64, buckets_per_commit=32, run_id="s2")
    assert r2["processed_buckets"] == 0
    assert r2["skipped_buckets"] == 64
    assert checkpoint.read_lineage(spark, base).count() == 64


def test_metrics_summary(spark, docs, tmp_path):
    base = str(tmp_path / "ckpt3")
    checkpoint.run_extraction(
        spark, docs, base, n_buckets=8, buckets_per_commit=8, run_id="m")
    m = checkpoint.metrics_summary(spark, base).collect()
    assert len(m) == 1
    assert m[0]["n_docs"] == N_DOCS
    assert m[0]["n_buckets"] == 8
    assert m[0]["n_spans"] > 0


def test_q_metrics_summary_repeat_invocations_isolated(spark):
    """The registered metrics demo uses a user-scoped scratch dir (fixed
    across processes so the oracle resolves anywhere, rmtree'd per run
    and at exit): two back-to-back invocations must not interfere, and
    the import-time oracle must read the same path the query wrote."""
    import duckdb

    from dots_ocr_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    r1 = {tuple(r) for r in Q.q_metrics_summary(spark, sf).collect()}
    r2 = {tuple(r) for r in Q.q_metrics_summary(spark, sf).collect()}
    assert r1 == r2
    exp = {tuple(r)
           for r in duckdb.connect().execute(Q.ORACLE_METRICS_SUMMARY).fetchall()}
    assert r1 == exp
    assert "/root/repo/" not in Q.METRICS_DEMO_BASE  # relocatable scratch


def test_bucket_col_input_prunes_partitions_and_matches(spark, docs, tmp_path):
    """A bucket-partitioned input + bucket_col= turns each commit
    group's filter into a PARTITION predicate: the scan prunes to the
    group's files (so G commit groups read the corpus once in total,
    not G times), and the run's output is identical to the
    expression-bucketed path."""
    src = str(tmp_path / "bucketed_src")
    docs.withColumn(
        "bucket",
        F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int"),
    ).write.partitionBy("bucket").parquet(src)
    part_docs = spark.read.parquet(src)

    # the group filter reaches the scan as a partition filter
    pruned = part_docs.where(F.col("bucket").isin([0, 1, 2, 3]))
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters")[1].splitlines()[0], plan

    base_a = str(tmp_path / "a")
    base_b = str(tmp_path / "b")
    checkpoint.run_extraction(
        spark, part_docs, base_a, n_buckets=N_BUCKETS,
        buckets_per_commit=4, run_id="pruned", bucket_col="bucket")
    checkpoint.run_extraction(
        spark, docs, base_b, n_buckets=N_BUCKETS,
        buckets_per_commit=4, run_id="expr")
    got = _spans_fingerprint(checkpoint.read_output(spark, base_a))
    exp = _spans_fingerprint(checkpoint.read_output(spark, base_b))
    assert got == exp and len(got) == N_DOCS

    # resume over the pruned path is still a no-op
    r = checkpoint.run_extraction(
        spark, part_docs, base_a, n_buckets=N_BUCKETS,
        buckets_per_commit=4, run_id="again", bucket_col="bucket")
    assert r["processed_buckets"] == 0 and r["skipped_buckets"] == N_BUCKETS


def test_metrics_oracle_resolves_after_query_process_exits():
    """The driver may evaluate oracle_sql() in a DIFFERENT process after
    the one that ran q_metrics_summary has exited — the import-time
    ORACLE_METRICS_SUMMARY path must still resolve, which is why the
    user-scoped scratch must NOT be cleaned at interpreter exit (an
    earlier exit-time rmtree broke exactly this)."""
    import subprocess
    import sys

    import duckdb

    code = (
        "from pyspark.sql import SparkSession; "
        "spark = (SparkSession.builder.master('local[4]')"
        ".config('spark.ui.enabled','false').getOrCreate()); "
        "from dots_ocr_spark import queries as Q; "
        "assert Q.q_metrics_summary(spark, '/root/testdata/sf0.001')"
        ".collect(); spark.stop()"
    )
    subprocess.run([sys.executable, "-c", code], check=True,
                   capture_output=True, text=True, cwd="/root/repo")

    from dots_ocr_spark import queries as Q

    rows = duckdb.sql(Q.ORACLE_METRICS_SUMMARY).fetchall()
    assert rows and rows[0][0] == "driver-demo"
    assert rows[0][2] == 500          # n_docs over the sf0.001 corpus


def test_bucket_col_layout_mismatch_fails_fast(spark, docs, tmp_path):
    """The bucket_col fast path trusts the partition column follows
    pmod(xxhash64(doc_id), n_buckets). If the input was laid out with a
    DIFFERENT bucket count, commit groups would select the wrong docs,
    commit lineage for them, and later groups' dynamic overwrites would
    wipe the stray partitions — silent doc loss behind a clean lineage
    table. The runner must detect the mismatch and refuse to commit."""
    src = str(tmp_path / "mislaid_src")
    docs.withColumn(
        "bucket",
        F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS // 2)).cast("int"),
    ).write.partitionBy("bucket").parquet(src)
    part_docs = spark.read.parquet(src)

    base = str(tmp_path / "mislaid")
    with pytest.raises(ValueError, match="does not follow"):
        checkpoint.run_extraction(
            spark, part_docs, base, n_buckets=N_BUCKETS,
            buckets_per_commit=4, run_id="mislaid", bucket_col="bucket")
    # no lineage was committed for the mismatched layout
    assert checkpoint.completed_buckets(spark, base) == set()


def test_bucket_col_finer_layout_fails_fast(spark, docs, tmp_path):
    """The converse of the coarser layout above: an input laid out with
    2 x n_buckets recomputes consistently inside [0, n_buckets), so no
    commit group sees a stray doc, while every doc with bucket >=
    n_buckets is never selected at all. The runner must refuse the
    out-of-domain partition values before committing anything."""
    src = str(tmp_path / "finer_src")
    docs.withColumn(
        "bucket",
        F.pmod(F.xxhash64("doc_id"), F.lit(2 * N_BUCKETS)).cast("int"),
    ).write.partitionBy("bucket").parquet(src)

    base = str(tmp_path / "finer")
    with pytest.raises(ValueError, match="outside"):
        checkpoint.run_extraction(
            spark, spark.read.parquet(src), base, n_buckets=N_BUCKETS,
            buckets_per_commit=4, run_id="finer", bucket_col="bucket")
    assert checkpoint.completed_buckets(spark, base) == set()


def test_unknown_mode_fails_loudly(spark, docs, tmp_path):
    """A mode other than fused/scatter (a typo, or the removed 'paged')
    must raise instead of silently running a different plan — both in
    pipeline.extract and in the checkpointed runner, before any commit."""
    for mode in ("paged", "Fused", ""):
        with pytest.raises(ValueError, match="unknown extraction mode"):
            pipeline.extract(docs, mode=mode)
    base = str(tmp_path / "badmode")
    with pytest.raises(ValueError, match="unknown extraction mode"):
        checkpoint.run_extraction(
            spark, docs, base, n_buckets=N_BUCKETS, mode="paged")
    assert checkpoint.completed_buckets(spark, base) == set()


def test_job_cli_rejects_removed_mode(tmp_path, monkeypatch, capsys):
    """`--mode paged` is an argparse error, raised before any
    SparkSession starts."""
    import importlib.util
    import sys
    from pathlib import Path

    from pyspark.sql import SparkSession

    path = Path(__file__).resolve().parents[1] / "jobs" / "run_extract.py"
    spec = importlib.util.spec_from_file_location("run_extract_cli", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    def no_session(self):
        raise AssertionError("SparkSession started before argument checks")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    monkeypatch.setattr(sys, "argv", [
        "run_extract.py", "--synthetic", "3", "--output", str(tmp_path),
        "--mode", "paged"])
    with pytest.raises(SystemExit) as exc:
        job.main()
    assert exc.value.code == 2
    assert "invalid choice: 'paged'" in capsys.readouterr().err


def test_resume_raises_on_unreadable_lineage(spark, docs, tmp_path):
    """Only a MISSING lineage table means "nothing done". A lineage file
    the resume scan cannot read must raise: treating it as empty would
    redo every bucket and append a second lineage row for each, which
    ``metrics_summary`` then reports as a second run."""
    import os

    from py4j.protocol import Py4JJavaError

    base = str(tmp_path / "corrupt")
    checkpoint.run_extraction(
        spark, docs, base, n_buckets=8, buckets_per_commit=8, run_id="ok")
    lineage_dir = os.path.join(base, "_lineage")
    with open(os.path.join(lineage_dir, "part-99999-junk.parquet"), "w") as f:
        f.write("this is not a parquet file")
    before = sorted(os.listdir(lineage_dir))
    with pytest.raises(Py4JJavaError):
        checkpoint.run_extraction(
            spark, docs, base, n_buckets=8, buckets_per_commit=8,
            run_id="again")
    assert sorted(os.listdir(lineage_dir)) == before   # nothing appended
