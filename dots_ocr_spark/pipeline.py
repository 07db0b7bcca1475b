"""The Spark extraction job: interleaved document table in, ordered span
table out.

Two physical strategies, both span-sequence-equal to the oracle
(tests/test_golden_e2e.py parametrizes the mode):

  * ``extract_fused`` (default, mode='fused') — document grain, ZERO
    shuffles. The input table is doc-grain with the full ``pages`` array
    nested per row, so parse (the shared spec rules) + reading order +
    cleaning + assembly all complete inside the scan task:
    scan → mapInPandas → sink. Parallelism/balance come from input split
    sizing (``spark.sql.files.maxPartitionBytes``): documents are ~KBs,
    so every split holds thousands of docs and per-doc skew averages
    out. Measured 0.875 scaling efficiency N→4N (BENCH/BASELINE.md).
  * ``extract_scatter`` (mode='scatter') — page-scatter repartition by
    ``hash(doc_id, page_no)`` + JVM reassembly
    (``array_sort(collect_list(...))`` + higher-order functions). TWO
    shuffles, but page-level parallelism: for corpora whose largest
    documents are big enough to straggle a whole task (X7 skew note).

The reference's analog of the Arrow batching here is its hand-rolled
micro-batch collector (task_executor_pool.py:84-142); its analog of the
skew handling is the bounded page queue (configs.py:8-61).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .spec.assemble import TASK_FAIL_THRESHOLD, assemble_page_results
from .spec.page import process_page


def _page_result(doc_id: str, p) -> dict:
    """One PAGE-shaped mapping through the shared spec rules: the
    row → ``process_page`` decode both UDFs below share."""
    toc_json = p["toc_json"]
    words_json = p.get("words_json")
    sf = p["scale_factor"]
    return process_page(
        p["payload"], int(p["width"]), int(p["height"]),
        doc_id=doc_id, page_no=int(p["page_no"]),
        scale_factor=float(sf) if sf is not None else 1.0,
        toc=None if toc_json is None else json.loads(toc_json),
        words=None if words_json is None else json.loads(words_json),
    )


# --------------------------------------------------------------------------
# stage 1 — page parse (the only Python stage)
# --------------------------------------------------------------------------

_PARSED_COLS = tuple(f.name for f in schemas.PARSED_PAGE.fields)


def _parse_pages_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: page rows in, parsed page rows out.

    Arrow delivers columnar batches; the per-page loop below is the
    page-granular compute the reference runs per task (ocr_task.py:518-634),
    here amortized over a whole Arrow batch per Python call.
    """
    for pdf in batches:
        out: list[tuple] = []
        for p in pdf.to_dict("records"):
            doc_id = p["doc_id"]
            if pd.isna(p["page_no"]):
                # explode_outer row of a document without pages: passed on
                # as an all-null page so stage 2 still emits the document
                out.append((doc_id,) + (None,) * (len(_PARSED_COLS) - 1))
                continue
            r = _page_result(doc_id, p)
            out.append((
                doc_id, int(p["page_no"]), r["status"], r["md"], r["md_nohf"],
                [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]],
                len(r["cells"]),
            ))
        yield pd.DataFrame(out, columns=_PARSED_COLS)


def parse_pages(docs: DataFrame) -> DataFrame:
    """Stage 1: explode documents to page grain and run the parse UDF.
    ``explode_outer`` keeps a document with no pages as one null-page
    row, so stage 2 emits it (``n_pages=0``) as the oracle does."""
    pages = docs.select(
        "doc_id", F.explode_outer("pages").alias("page")
    ).select("doc_id", "page.*")
    return parse_pages_exploded(pages)


def parse_pages_exploded(pages: DataFrame) -> DataFrame:
    """Parse an already page-grain frame (doc_id + the PAGE columns) —
    the seam shared by ``parse_pages`` and the page-granular checkpoint
    runner (``checkpoint.run_extraction_paged``).

    Pages are scattered by ``hash(doc_id, page_no)`` so table/formula-heavy
    docs can't clump (X7). The partition count is explicit: an
    expression-only repartition is an AQE-coalescible exchange, and page
    batches are small enough (~8 MB) that AQE's 64 MB advisory size would
    collapse the Python stage to a handful of tasks — starving the
    executors where the work actually is.
    """
    n_part = pages.sparkSession.sparkContext.defaultParallelism * 4
    return pages.repartition(n_part, F.xxhash64("doc_id", "page_no")) \
        .mapInPandas(_parse_pages_batches, schema=schemas.PARSED_PAGE)


# --------------------------------------------------------------------------
# stage 2 — document assembly (pure JVM)
# --------------------------------------------------------------------------

def assemble_documents(parsed: DataFrame) -> DataFrame:
    """Stage 2: per-document assembly with built-in expressions only.

    Mirrors the reference combiner (dotsocr_service.py:430-515): pages
    sorted by page_no; failed pages excluded; page markdown joined with a
    trailing ``\\n\\n`` per page; document failed when failed/total > 0.1.
    """
    grouped = parsed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(
            # a null-page row (document without pages) adds no page
            F.when(F.col("page_no").isNotNull(),
                   F.struct("page_no", "status", "md", "md_nohf", "spans"))
        )).alias("pr")
    )

    ok = F.filter("pr", lambda p: p["status"] != F.lit("failed"))
    out = grouped.select(
        "doc_id",
        ok.alias("ok_pages"),
        F.size("pr").alias("n_pages"),
        F.size(F.filter("pr", lambda p: p["status"] == F.lit("failed"))).alias("n_failed"),
        F.size(F.filter("pr", lambda p: p["status"] == F.lit("fallback"))).alias("n_fallback"),
    )

    flat_spans = F.flatten(F.transform("ok_pages", lambda p: p["spans"]))
    spans = F.transform(
        flat_spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )

    def fold(col: str):
        # one join, linear in the document's bytes (a concat fold copies
        # its accumulator at every page); md is never null on a non-failed
        # page
        return F.array_join(F.transform(
            "ok_pages", lambda p: F.concat(p[col], F.lit("\n\n"))), "")

    markdown = fold("md")
    markdown_nohf = fold("md_nohf")

    return out.select(
        "doc_id",
        spans.alias("spans"),
        markdown.alias("markdown"),
        markdown_nohf.alias("markdown_nohf"),
        "n_pages",
        "n_failed",
        "n_fallback",
        F.size(spans).alias("n_spans"),
        # try_divide: a document without pages has 0/0 failed pages and
        # is "ok", like the oracle's ``n_pages and ...`` guard
        F.when(
            F.try_divide(F.col("n_failed"), F.col("n_pages")) > TASK_FAIL_THRESHOLD,
            F.lit("failed"),
        ).otherwise(F.lit("ok")).alias("status"),
    )


# --------------------------------------------------------------------------
# fused parse+assemble, document grain (default path — ZERO shuffles)
# --------------------------------------------------------------------------

_OUT_COLS = tuple(f.name for f in schemas.OUTPUT.fields)


def _extract_doc_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker, document grain: each input row carries the whole
    document (nested ``pages`` array), so parse + assembly complete inside
    the task — no shuffle anywhere in the job."""
    for pdf in batches:
        out: list[tuple] = []
        for doc_id, pages in zip(pdf["doc_id"].tolist(), pdf["pages"].tolist()):
            page_results = [
                _page_result(doc_id, p)
                for p in sorted(pages if pages is not None else [],
                                key=lambda p: p["page_no"])
            ]
            d = assemble_page_results(doc_id, page_results)
            out.append((
                doc_id,
                [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in d["spans"]],
                d["markdown"], d["markdown_nohf"], d["n_pages"], d["n_failed"],
                d["n_fallback"], d["n_spans"], d["status"],
            ))
        yield pd.DataFrame(out, columns=_OUT_COLS)


def extract_fused(docs: DataFrame) -> DataFrame:
    """Fused parse+assemble at document grain: ZERO shuffles.

    The input table is document-grain with the full ``pages`` array nested
    in the row, so every document is parsed and assembled inside its scan
    task — the job is scan → mapInPandas → sink, embarrassingly parallel.
    Parallelism and balance come from input split sizing
    (``spark.sql.files.maxPartitionBytes``; docs are ~KBs, so every split
    holds thousands of documents and skew averages out). Per-task skew is
    bounded by the largest single document; for corpora with pathological
    page counts per doc, use ``extract_scatter``, which redistributes at
    page grain.
    """
    return docs.select("doc_id", "pages").mapInPandas(
        _extract_doc_batches, schema=schemas.OUTPUT)


def extract_scatter(docs: DataFrame) -> DataFrame:
    """Two-stage pipeline: page-scatter parse + JVM document reassembly.
    Use when single documents are so large that one document per task
    would straggle (page-grain parallelism is preserved here)."""
    return assemble_documents(parse_pages(docs))


#: mode name → physical strategy (see the module docstring)
MODES = {"fused": extract_fused, "scatter": extract_scatter}


def extract(docs: DataFrame, mode: str = "fused") -> DataFrame:
    """Full pipeline: input table → (doc_id, ordered spans, markdown, …).

    mode: 'fused' (doc-grain, zero shuffles — default) or 'scatter' (page
    scatter + JVM reassembly, two shuffles — giant-doc corpora). Any
    other value raises ``ValueError``, so a typo cannot silently pick a
    different plan."""
    if mode not in MODES:
        raise ValueError(
            f"unknown extraction mode {mode!r}; expected one of {sorted(MODES)}")
    return MODES[mode](docs)


# --------------------------------------------------------------------------
# distributed fixture generation
# --------------------------------------------------------------------------

def generate_input(spark: SparkSession, n_docs: int, seed: int = 42,
                   partitions: int | None = None, **knobs) -> DataFrame:
    """Build the synthetic interleaved input table distributedly: each
    executor generates its own documents from (seed, doc_index) — no driver
    materialization, so the same code scales from 500 docs to millions."""
    from .fixtures import generate_doc

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "spans", "pages", "n_pages", "size_class")}
            for i in pdf["id"].tolist():
                d = generate_doc(int(i), seed=seed, **knobs)
                rows["doc_id"].append(d["doc_id"])
                rows["spans"].append(
                    [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in d["spans"]]
                )
                rows["pages"].append(
                    [(p["page_no"], p["width"], p["height"], p["scale_factor"],
                      p["payload"], p["toc_json"], p.get("words_json"))
                     for p in d["pages"]]
                )
                rows["n_pages"].append(d["n_pages"])
                rows["size_class"].append(d["size_class"])
            yield pd.DataFrame(rows)

    n_part = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(n_docs, numPartitions=n_part).mapInPandas(
        _gen, schema=schemas.INPUT
    )
