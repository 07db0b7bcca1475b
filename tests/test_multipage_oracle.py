"""Engine-parity gate for the flagship driver queries: the multi-page
interleaved generator + full extraction pipeline must value-match the
DuckDB oracle (the same compare the grading driver runs), and all three
physical modes must agree on the multi-page input."""

import duckdb
import pytest

from pyspark.sql import functions as F

from dots_ocr_spark import pipeline
from dots_ocr_spark import queries as Q
from dots_ocr_spark.sources.ingest import (
    interleaved_multipage,
    interleaved_rich,
    interleaved_toc,
    interleaved_twocol,
    interleaved_wordgrain,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    return c


def _match(spark, con, fn, sql):
    got = {tuple(r) for r in fn(spark, SF).collect()}
    exp = {tuple(r) for r in con.execute(sql).fetchall()}
    assert got == exp, (
        f"{len(got)} spark rows vs {len(exp)} oracle rows; "
        f"spark-only={sorted(got - exp)[:2]} oracle-only={sorted(exp - got)[:2]}"
    )
    return got


def test_extract_spans_matches_oracle(spark, con):
    rows = _match(spark, con, Q.q_extract_spans, Q.ORACLE_EXTRACT_SPANS)
    kinds = {r[2] for r in rows}
    assert kinds == {"text", "picture"}, kinds


def test_extract_docs_matches_oracle(spark, con):
    rows = _match(spark, con, Q.q_extract_docs, Q.ORACLE_EXTRACT_DOCS)
    assert len(rows) == 500
    # the corpus draw rates must actually exercise every path
    assert sum(r[2] for r in rows) > 0, "no failed pages generated"
    assert sum(r[3] for r in rows) > 0, "no fallback pages generated"
    assert {r[5] for r in rows} == {"ok", "failed"}
    # multi-page docs exist (the whole point of this generator)
    assert max(r[1] for r in rows) >= 3


def test_extract_toc_matches_oracle(spark, con):
    rows = _match(spark, con, Q.q_extract_toc, Q.ORACLE_EXTRACT_TOC)
    kinds = {r[2] for r in rows}
    # 'title' only appears via the matched level-1 rewrite (the lowercase
    # category quirk), so its presence proves the TOC claim path ran
    assert kinds == {"title", "section-header", "text", "list-item"}, kinds


def test_toc_rebuild_exercises_every_level_path(spark):
    """The generated corpus must actually drive all four header outcomes
    (matched L=1/2/3 and the empty-TOC demote to 6) plus the List-item
    ⇒ 8 rule through the REAL rebuild code."""
    docs = interleaved_toc(
        spark.read.parquet(f"{SF}/documents.parquet").limit(200))
    texts = [
        s["text"]
        for row in pipeline.extract(docs).collect()
        for s in row["spans"]
        if s["text"] is not None and s["text"].startswith(("#", "li "))
    ]
    prefixes = {t.split(" ", 1)[0] for t in texts if t.startswith("#")}
    assert {"#", "##", "###", "######"} <= prefixes, prefixes
    assert "####" not in prefixes and "#####" not in prefixes, prefixes
    assert any(t.startswith("li ") for t in texts)


def test_extract_twocol_matches_oracle(spark, con):
    rows = _match(spark, con, Q.q_extract_twocol, Q.ORACLE_EXTRACT_TWOCOL)
    kinds = {r[2] for r in rows}
    assert kinds == {"page-header", "text", "page-footer"}, kinds


def test_twocol_order_differs_from_payload_order(spark):
    """The whole point of the two-column input: the emitted span
    sequence must be a nontrivial PERMUTATION of the payload cell order
    (payload: footer, L0,R0,L1,R1, header; reading order: header,
    L0,L1,R0,R1, footer)."""
    import json

    docs = interleaved_twocol(
        spark.read.parquet(f"{SF}/documents.parquet").limit(50))
    for row in pipeline.extract(docs).collect():
        page0 = row["pages"][0] if "pages" in row else None
        kinds = [s["kind"] for s in row["spans"]]
        assert kinds[0] == "page-header"  # payload had the footer first
        n0 = kinds.index("page-footer")
        assert kinds[1:n0] == ["text"] * (n0 - 1)
    # span text order == column-major chunk order on a known doc
    (row,) = pipeline.extract(interleaved_twocol(
        spark.createDataFrame(
            [(1, " ".join(f"w{i:02d}" for i in range(40)))],
            "doc_id long, text string"))).collect()
    texts = [s["text"] for s in row["spans"] if s["kind"] == "text"]
    chunks = [" ".join(f"w{i:02d}" for i in range(c * 10, c * 10 + 10))
              for c in range(4)]
    # payload interleaves L,R,L,R = chunks 0,1,2,3; reading order is
    # left column (0,2) then right column (1,3)
    assert texts == [chunks[0], chunks[2], chunks[1], chunks[3]]


def test_extract_rich_matches_oracle(spark, con):
    rows = _match(spark, con, Q.q_extract_rich, Q.ORACLE_EXTRACT_RICH)
    kinds = {r[2] for r in rows}
    assert kinds == {"text", "formula", "table", "caption",
                     "footnote", "title"}, kinds


def test_rich_formula_branches_all_occur(spark):
    """All four formula_in_markdown branches must actually fire on the
    corpus: $$-wrap of a bare command, $$-rewrap, \\[..\\]-conversion,
    and the inline-$ passthrough."""
    docs = interleaved_rich(
        spark.read.parquet(f"{SF}/documents.parquet").limit(100))
    texts = {
        s["text"]
        for row in pipeline.extract(docs).collect()
        for s in row["spans"] if s["kind"] == "formula"
    }
    assert any(t.startswith("$$\n\\alpha_") for t in texts)
    assert any(t.startswith("$$\nE = ") for t in texts)
    assert any(t.startswith("$$\nx + ") for t in texts)
    assert any(t.startswith("a $x_") for t in texts)


def test_rich_iou_probe_is_present_and_suppressed(spark):
    """The F5 probe cell is IN every payload but must never surface as
    a span (IoU ≈ 0.993 with the larger Title block ⇒ dropped)."""
    import json

    docs = interleaved_rich(
        spark.read.parquet(f"{SF}/documents.parquet").limit(50))
    rows = pipeline.extract(docs).collect()
    payload0 = json.loads(
        docs.select("pages").first()["pages"][0]["payload"])
    assert any(str(c.get("text", "")).startswith("suppressed ")
               for c in payload0)
    assert not any(
        s["text"] is not None and s["text"].startswith("suppressed ")
        for row in rows for s in row["spans"])


def _fingerprint(df):
    rows = df.select(
        "doc_id", "n_spans", "status", F.md5("markdown").alias("m")
    ).collect()
    return {r["doc_id"]: (r["n_spans"], r["status"], r["m"]) for r in rows}


def test_wordgrain_tall_doc_keeps_every_word(spark, tmp_path):
    """A >170-word document stacks more blocks than the nominal page
    height; the generator must grow the page so the bbox clamp cannot
    silently cut cells away from their word boxes."""
    from dots_ocr_spark.sources.ingest import MP_CHUNK_WORDS

    n_words = 400  # 40 chunks, nominal stack ~5k px > PAGE_H
    text = " ".join(f"w{i}" for i in range(n_words))
    d = str(tmp_path / "tall")
    spark.createDataFrame([(1, text)], "doc_id long, text string") \
        .write.parquet(f"{d}/documents.parquet")
    (row,) = pipeline.extract(
        interleaved_wordgrain(spark.read.parquet(f"{d}/documents.parquet"))
    ).collect()
    assert row["status"] == "ok"
    assert row["n_spans"] == n_words // MP_CHUNK_WORDS
    got = " ".join(s["text"] for s in row["spans"])
    assert got == text  # every word recovered through the clip


@pytest.mark.parametrize("mode", ["scatter"])
@pytest.mark.parametrize(
    "gen", [interleaved_multipage, interleaved_rich, interleaved_toc,
            interleaved_twocol, interleaved_wordgrain])
def test_generated_input_modes_agree(spark, mode, gen):
    """Both physical strategies must produce identical documents on
    the generated inputs (fused is the baseline) — including the
    word-grain shape, whose words_json must survive every plumbing."""
    docs = gen(spark.read.parquet(f"{SF}/documents.parquet").limit(120))
    assert _fingerprint(pipeline.extract(docs, mode=mode)) == \
        _fingerprint(pipeline.extract(docs, mode="fused"))


def test_extract_cleaner_probe_matches_oracle(spark, con):
    from dots_ocr_spark.sources import ingest as ing

    rows = _match(spark, con, Q.q_extract_cleaner_probe,
                  Q.ORACLE_EXTRACT_CLEANER_PROBE)
    assert all(r[2] == "text" for r in rows)
    # every probe class occurs in the corpus (the md5 class draw is
    # uniform over 16 nibble values; 500 docs ⇒ ~1900 pages)
    cls_counts = dict(con.execute(f"""
        WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                          len(string_split(text,' ')) AS n FROM documents),
        pg AS (SELECT doc_id, unnest(range(0, CAST(ceil(ceil(n/{ing.MP_CHUNK_WORDS}.0)
                   / {ing.MP_CHUNKS_PER_PAGE}.0) AS INT))) AS page_no FROM t)
        SELECT CASE
          WHEN CAST(('0x' || substring(md5(doc_id || ':cp:' || page_no),1,1)) AS INT)
               < {ing.CP_DUP_BELOW} THEN 'dup'
          WHEN CAST(('0x' || substring(md5(doc_id || ':cp:' || page_no),1,1)) AS INT)
               < {ing.CP_REGEX_BELOW} THEN 'regex'
          WHEN CAST(('0x' || substring(md5(doc_id || ':cp:' || page_no),1,1)) AS INT)
               < {ing.CP_SALVAGE_BELOW} THEN 'salvage'
          ELSE 'control' END AS cls, count(*) FROM pg GROUP BY 1
    """).fetchall())
    assert set(cls_counts) == {"dup", "regex", "salvage", "control"}, cls_counts
    assert min(cls_counts.values()) > 10, cls_counts
