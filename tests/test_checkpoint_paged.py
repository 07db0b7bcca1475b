"""Page-granular resume (the giant-document/scatter story): a crash
mid-giant-doc must resume at the first uncommitted PAGE RANGE of that
document — zero committed pages recomputed — and the assembled output
must equal a single-shot extraction exactly."""

import itertools

import pytest

from pyspark.sql import functions as F

from dots_ocr_spark import checkpoint, pipeline, schemas
from dots_ocr_spark.fixtures import generate_doc

N_BUCKETS = 4
PAGES_PER_RANGE = 8
GIANT_PAGES = 64


@pytest.fixture()
def giant_corpus(spark, tmp_path):
    """20 normal docs + one 64-page giant, written to parquet so both
    runs read identical bytes."""
    base = generate_doc(7, max_pages=4, malformed_frac=0.0)
    tiled = [
        dict(p, page_no=i)
        for i, p in enumerate(
            itertools.islice(itertools.cycle(base["pages"]), GIANT_PAGES))
    ]
    giant_row = [(
        "giant-0",
        [],
        [(p["page_no"], p["width"], p["height"], p["scale_factor"],
          p["payload"], p["toc_json"], p["words_json"]) for p in tiled],
        GIANT_PAGES,
        "giant",
    )]
    d = str(tmp_path / "corpus")
    pipeline.generate_input(spark, 20, partitions=4) \
        .unionByName(spark.createDataFrame(giant_row, schemas.INPUT)) \
        .write.parquet(d)
    return spark.read.parquet(d)


def _unit_domain(spark, docs):
    """The (bucket, prange) domain exactly as the runner derives it."""
    dom = (
        docs.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int")
            .alias("bucket"),
            F.ceil(F.size("pages") / F.lit(PAGES_PER_RANGE)).cast("int")
            .alias("npr"),
        ).groupBy("bucket").agg(F.max("npr").alias("npr")).collect()
    )
    return sorted((r["bucket"], p) for r in dom for p in range(r["npr"]))


def _fingerprint(df):
    rows = df.select("doc_id", "n_spans", F.md5("markdown").alias("m")).collect()
    return {r["doc_id"]: (r["n_spans"], r["m"]) for r in rows}


def test_resume_mid_giant_doc_recomputes_zero_pages(
        spark, giant_corpus, tmp_path, monkeypatch):
    docs = giant_corpus
    base = str(tmp_path / "pckpt")

    all_units = _unit_domain(spark, docs)
    g_bucket = spark.createDataFrame([("giant-0",)], "doc_id string").select(
        F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).cast("int").alias("b")
    ).collect()[0]["b"]
    g_units = [u for u in all_units if u[0] == g_bucket]
    assert len(g_units) >= GIANT_PAGES // PAGES_PER_RANGE  # giant spans many units
    # crash at the THIRD unit of the giant's bucket: some of the giant's
    # page ranges are committed, the rest are not — the mid-doc case
    crash_at = all_units.index(g_units[2])

    real_parse = pipeline.parse_pages_exploded
    calls = {"n": 0}

    def failing_parse(df, **kw):
        calls["n"] += 1
        if calls["n"] > crash_at:
            raise RuntimeError("injected failure")
        return real_parse(df, **kw)

    monkeypatch.setattr(checkpoint.pipeline, "parse_pages_exploded",
                        failing_parse)
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run_extraction_paged(
            spark, docs, base, n_buckets=N_BUCKETS,
            pages_per_range=PAGES_PER_RANGE, units_per_commit=1,
            run_id="run1",
        )
    monkeypatch.setattr(checkpoint.pipeline, "parse_pages_exploded",
                        real_parse)

    done = checkpoint.completed_page_units(spark, base)
    assert done == set(all_units[:crash_at])       # durable partial progress
    assert set(g_units[:2]) <= done                # giant partially committed
    assert g_units[2] not in done

    res = checkpoint.run_extraction_paged(
        spark, docs, base, n_buckets=N_BUCKETS,
        pages_per_range=PAGES_PER_RANGE, units_per_commit=4, run_id="run2",
    )
    assert res["skipped_units"] == crash_at
    assert res["processed_units"] == len(all_units) - crash_at

    lineage = checkpoint.read_page_lineage(spark, base)
    # exactly ONE lineage row per unit: nothing committed twice
    assert lineage.count() == len(all_units)
    assert lineage.select("bucket", "prange").distinct().count() == len(all_units)
    by_run = {r["run_id"]: r["c"] for r in
              lineage.groupBy("run_id").agg(F.count("*").alias("c")).collect()}
    assert by_run["run1"] == crash_at              # run1's commits kept verbatim
    # the giant's units are split across BOTH runs — page-grain, not
    # whole-bucket, resume
    g_runs = {r["run_id"] for r in lineage.where(
        (F.col("bucket") == g_bucket)).collect()}
    assert g_runs == {"run1", "run2"}

    # zero recomputed pages: every input page parsed+committed exactly once
    total_pages = int(docs.selectExpr("sum(size(pages))").collect()[0][0])
    assert int(lineage.agg(F.sum("n_pages")).collect()[0][0]) == total_pages
    assert checkpoint.read_page_output(spark, base).count() == total_pages
    # no duplicate page rows
    assert checkpoint.read_page_output(spark, base) \
        .select("doc_id", "page_no").distinct().count() == total_pages

    # assembled output == single-shot extraction
    assembled = _fingerprint(checkpoint.assemble_from_page_checkpoint(spark, base))
    single = _fingerprint(pipeline.extract(docs))
    assert assembled == single


def test_paged_rerun_is_noop(spark, giant_corpus, tmp_path):
    docs = giant_corpus
    base = str(tmp_path / "pckpt2")
    r1 = checkpoint.run_extraction_paged(
        spark, docs, base, n_buckets=N_BUCKETS,
        pages_per_range=PAGES_PER_RANGE, units_per_commit=8, run_id="a")
    assert r1["processed_units"] > 0
    r2 = checkpoint.run_extraction_paged(
        spark, docs, base, n_buckets=N_BUCKETS,
        pages_per_range=PAGES_PER_RANGE, units_per_commit=8, run_id="b")
    assert r2["processed_units"] == 0
    assert r2["skipped_units"] == r1["processed_units"]
    lineage = checkpoint.read_page_lineage(spark, base)
    assert lineage.where(F.col("run_id") == "b").count() == 0


def test_page_metrics_summary_rolls_up_lineage(spark, giant_corpus, tmp_path):
    docs = giant_corpus
    base = str(tmp_path / "pckpt3")
    checkpoint.run_extraction_paged(
        spark, docs, base, n_buckets=N_BUCKETS,
        pages_per_range=PAGES_PER_RANGE, units_per_commit=8, run_id="m")
    row = checkpoint.page_metrics_summary(spark, base).collect()[0]
    total_pages = int(docs.selectExpr("sum(size(pages))").collect()[0][0])
    assert row["run_id"] == "m"
    assert row["n_pages"] == total_pages
    assert row["n_units"] == len(_unit_domain(spark, docs))


def test_job_cli_page_checkpoint_end_to_end(tmp_path):
    """The spark-submit entry point's --page-checkpoint path: one process
    runs the page-granular runner + assembly and reports page metrics; a
    second invocation with the same output resumes to a no-op while the
    assembled document output stays byte-stable."""
    import json
    import subprocess
    import sys

    base = str(tmp_path / "jobout")
    cmd = [sys.executable, "jobs/run_extract.py", "--synthetic", "30",
           "--output", base, "--buckets", "4", "--page-checkpoint",
           "--pages-per-range", "4", "--units-per-commit", "8"]
    r1 = json.loads(subprocess.run(
        cmd, capture_output=True, text=True, check=True,
        cwd="/root/repo").stdout.strip().splitlines()[-1])
    assert r1["processed_units"] > 0 and r1["skipped_units"] == 0
    assert r1["metrics"][0]["n_pages"] > 0

    import duckdb
    docs1 = duckdb.sql(
        f"SELECT doc_id, n_spans, md5(markdown) AS m "
        f"FROM read_parquet('{base}/output/*.parquet') ORDER BY doc_id"
    ).fetchall()
    assert len(docs1) == 30

    r2 = json.loads(subprocess.run(
        cmd, capture_output=True, text=True, check=True,
        cwd="/root/repo").stdout.strip().splitlines()[-1])
    assert r2["processed_units"] == 0
    assert r2["skipped_units"] == r1["processed_units"]
    docs2 = duckdb.sql(
        f"SELECT doc_id, n_spans, md5(markdown) AS m "
        f"FROM read_parquet('{base}/output/*.parquet') ORDER BY doc_id"
    ).fetchall()
    assert docs2 == docs1


def test_paged_runner_covers_one_based_page_numbering(spark, tmp_path):
    """The unit domain must follow the page_no VALUES, not the array
    length: a doc whose pages are numbered 1..N (externally-supplied
    1-based table) has its last page in prange N//r — deriving ranges
    from size(pages) would exclude that unit from the domain and the
    page would be dropped silently with a committed lineage row."""
    base_doc = generate_doc(3, max_pages=4, malformed_frac=0.0)
    pages = [dict(p, page_no=i + 1)            # 1-based numbering
             for i, p in enumerate(
                 itertools.islice(itertools.cycle(base_doc["pages"]),
                                  PAGES_PER_RANGE))]
    row = [(
        "onebased-0", [],
        [(p["page_no"], p["width"], p["height"], p["scale_factor"],
          p["payload"], p["toc_json"], p["words_json"]) for p in pages],
        PAGES_PER_RANGE, "normal",
    )]
    docs = spark.createDataFrame(row, schemas.INPUT)
    base = str(tmp_path / "ob")
    checkpoint.run_extraction_paged(
        spark, docs, base, n_buckets=N_BUCKETS,
        pages_per_range=PAGES_PER_RANGE, units_per_commit=8, run_id="ob")
    out = checkpoint.read_page_output(spark, base)
    # every page parsed exactly once — including page_no == N, which
    # lands in the second prange of a 1-based doc
    assert out.count() == PAGES_PER_RANGE
    got_pages = {r["page_no"] for r in out.select("page_no").collect()}
    assert got_pages == {i + 1 for i in range(PAGES_PER_RANGE)}


def test_negative_page_no_fails_fast(spark, tmp_path):
    """array_max bounds the domain upward; a NEGATIVE page_no would get
    a prange outside the domain and be silently never parsed while the
    bucket's units all commit lineage — so the runner must refuse the
    input outright (the min comes free in the same domain collect)."""
    base_doc = generate_doc(5, max_pages=2, malformed_frac=0.0)
    pages = [dict(p, page_no=i - 1)            # page_no -1, 0
             for i, p in enumerate(base_doc["pages"][:2])]
    row = [(
        "negpage-0", [],
        [(p["page_no"], p["width"], p["height"], p["scale_factor"],
          p["payload"], p["toc_json"], p["words_json"]) for p in pages],
        2, "normal",
    )]
    docs = spark.createDataFrame(row, schemas.INPUT)
    base = str(tmp_path / "neg")
    with pytest.raises(ValueError, match="negative page_no"):
        checkpoint.run_extraction_paged(
            spark, docs, base, n_buckets=N_BUCKETS,
            pages_per_range=PAGES_PER_RANGE, units_per_commit=8, run_id="neg")
    # nothing committed: a later corrected run starts from scratch
    assert checkpoint.completed_page_units(spark, base) == set()


def test_page_less_doc_fails_fast(spark, tmp_path):
    """A document without pages owns no (bucket, prange) unit: it would
    never reach the page table, and assembly would drop it behind clean
    lineage. The runner must refuse it from its domain collect."""
    base_doc = generate_doc(6, max_pages=2, malformed_frac=0.0)
    rows = [
        ("full-0", [],
         [(p["page_no"], p["width"], p["height"], p["scale_factor"],
           p["payload"], p["toc_json"], p["words_json"])
          for p in base_doc["pages"]],
         len(base_doc["pages"]), "normal"),
        ("empty-0", [], [], 0, "empty"),
    ]
    docs = spark.createDataFrame(rows, schemas.INPUT)
    base = str(tmp_path / "empty")
    with pytest.raises(ValueError, match="without pages"):
        checkpoint.run_extraction_paged(
            spark, docs, base, n_buckets=N_BUCKETS,
            pages_per_range=PAGES_PER_RANGE, units_per_commit=8,
            run_id="empty")
    assert checkpoint.completed_page_units(spark, base) == set()
