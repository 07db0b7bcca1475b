"""Golden end-to-end gate: the Spark pipeline's output must equal the
plain-Python oracle's — span-sequence equality (kind, text, media_ref,
order) per doc_id, plus markdown and counters (SURVEY.md §5.2)."""

import pytest

from dots_ocr_spark import fixtures, oracle, pipeline, schemas

N_DOCS = 150
#: a document without pages: the oracle emits it (n_pages=0, ok), so
#: every mode must too
EMPTY_DOC = {"doc_id": "empty-0", "spans": [], "pages": [], "n_pages": 0,
             "size_class": "empty"}


@pytest.fixture(scope="module")
def golden():
    docs = fixtures.generate_docs(N_DOCS) + [EMPTY_DOC]
    return {d["doc_id"]: oracle.extract_document(d) for d in docs}


@pytest.fixture(scope="module", params=["fused", "scatter"])
def spark_result(spark, request):
    empty = spark.createDataFrame(
        [tuple(EMPTY_DOC[f.name] for f in schemas.INPUT.fields)], schemas.INPUT)
    docs_df = pipeline.generate_input(spark, N_DOCS, partitions=8) \
        .unionByName(empty)
    rows = pipeline.extract(docs_df, mode=request.param).collect()
    return {r["doc_id"]: r for r in rows}


def test_all_docs_present(golden, spark_result):
    assert set(spark_result) == set(golden)


def test_span_sequence_equality(golden, spark_result):
    mismatches = []
    for doc_id, exp in golden.items():
        got = spark_result[doc_id]
        got_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got["spans"]
        ]
        exp_spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp["spans"]
        ]
        if got_spans != exp_spans:
            mismatches.append((doc_id, exp_spans, got_spans))
    assert not mismatches, (
        f"{len(mismatches)} docs mismatch; first: {mismatches[0][0]}\n"
        f"expected[:5]={mismatches[0][1][:5]}\ngot[:5]={mismatches[0][2][:5]}"
    )


def test_markdown_equality(golden, spark_result):
    for doc_id, exp in golden.items():
        got = spark_result[doc_id]
        assert got["markdown"] == exp["markdown"], doc_id
        assert got["markdown_nohf"] == exp["markdown_nohf"], doc_id


def test_counters_and_status(golden, spark_result):
    for doc_id, exp in golden.items():
        got = spark_result[doc_id]
        assert got["n_pages"] == exp["n_pages"], doc_id
        assert got["n_failed"] == exp["n_failed"], doc_id
        assert got["n_fallback"] == exp["n_fallback"], doc_id
        assert got["n_spans"] == exp["n_spans"], doc_id
        assert got["status"] == exp["status"], doc_id


def test_statuses_exercise_all_paths(golden):
    statuses = {s for g in golden.values() for s in [g["status"]]}
    assert "ok" in statuses
    n_fallback = sum(g["n_fallback"] for g in golden.values())
    n_failed = sum(g["n_failed"] for g in golden.values())
    assert n_fallback > 0, "fixtures must exercise the fallback path"
    assert n_failed > 0, "fixtures must exercise the failed path"


def test_media_refs_roundtrip(golden):
    for g in golden.values():
        for s in g["spans"]:
            if s["kind"] == "picture":
                assert s["media_ref"] and s["text"] is None
            else:
                assert s["media_ref"] is None
