"""X7 skew gate: a pathologically skewed corpus (half the docs
table/formula-heavy, giant page counts) must extract identically to the
oracle in every physical mode, and the page-grain mode must actually
spread a giant document across partitions."""

import pytest

from pyspark.sql import functions as F

from dots_ocr_spark import fixtures, oracle, pipeline

KNOBS = dict(skew_frac=0.5, max_pages=30)
N_DOCS = 60


@pytest.fixture(scope="module")
def skewed_golden():
    docs = fixtures.generate_docs(N_DOCS, **KNOBS)
    return {
        d["doc_id"]: oracle.extract_document(d) for d in docs
    }


@pytest.fixture(scope="module")
def skewed_df(spark):
    return pipeline.generate_input(spark, N_DOCS, partitions=6, **KNOBS)


@pytest.mark.parametrize("mode", ["fused", "scatter"])
def test_skewed_corpus_all_modes_equal_oracle(spark, skewed_golden, skewed_df, mode):
    rows = pipeline.extract(skewed_df, mode=mode).collect()
    got = {r["doc_id"]: r for r in rows}
    assert set(got) == set(skewed_golden)
    for doc_id, exp in skewed_golden.items():
        g = got[doc_id]
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in g["spans"]
        ] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp["spans"]
        ], doc_id
        assert g["markdown"] == exp["markdown"], doc_id


def test_corpus_is_actually_skewed(skewed_golden):
    sizes = sorted(g["n_pages"] for g in skewed_golden.values())
    assert sizes[-1] >= 10 * max(1, sizes[0])


def test_scatter_spreads_giant_doc_pages(spark, skewed_df):
    """The scatter repartition must place a giant doc's pages in many
    partitions (that is its purpose: per-page parallelism under skew)."""
    giant = (
        skewed_df.select("doc_id", "n_pages")
        .orderBy(F.col("n_pages").desc()).first()
    )
    pages = skewed_df.select(
        "doc_id", F.explode("pages").alias("page")
    ).select("doc_id", "page.*")
    n_part = pages.sparkSession.sparkContext.defaultParallelism * 4
    scattered = pages.repartition(n_part, F.xxhash64("doc_id", "page_no"))
    dist = (
        scattered.withColumn("pid", F.spark_partition_id())
        .where(F.col("doc_id") == giant["doc_id"])
        .select("pid").distinct().count()
    )
    assert dist >= min(giant["n_pages"], n_part) // 3, (
        f"giant doc ({giant['n_pages']} pages) landed in only {dist} partitions"
    )
