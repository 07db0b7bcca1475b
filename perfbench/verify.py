"""Correctness checks for the extraction workloads.

An operation is one input document. It fails when its output row is
missing, duplicated, or reports a different page count, or when it is in
the deterministic sample and differs from ``oracle.extract_document``.
Rows for documents that were never in the input count as failures too.
The checks work on plain Python rows, so they can be tried without Spark.
"""

from __future__ import annotations

import random
from collections import Counter

from dots_ocr_spark import oracle

#: output columns the summary check reads for every document
SUMMARY_COLS = ("doc_id", "n_pages", "n_failed", "n_fallback", "status")
#: output columns compared against the oracle on the sample
FULL_COLS = ("doc_id", "spans", "markdown", "markdown_nohf", "n_pages",
             "n_failed", "n_fallback", "n_spans", "status")


def sample_ids(docs: list[dict], seed: int, k: int) -> list[str]:
    """``k`` seeded documents plus the one with the most pages."""
    rng = random.Random(seed ^ 0x5EED)
    picked = rng.sample(range(len(docs)), min(k, len(docs)))
    largest = max(range(len(docs)), key=lambda i: docs[i]["n_pages"])
    return sorted({docs[i]["doc_id"] for i in picked} | {docs[largest]["doc_id"]})


def _canon(row: dict) -> tuple:
    spans = tuple((s["kind"], s["text"], s["media_ref"], int(s["offset"]))
                  for s in row["spans"])
    return (spans,) + tuple(row[c] for c in FULL_COLS if c not in ("doc_id", "spans"))


class Expected:
    """What a correct output of ``docs`` looks like: the id set with page
    counts, and the oracle rows of a seeded sample (computed once)."""

    def __init__(self, docs: list[dict], seed: int, sample_k: int = 24):
        self.n_pages = {d["doc_id"]: d["n_pages"] for d in docs}
        self.total_pages = sum(self.n_pages.values())
        by_id = {d["doc_id"]: d for d in docs}
        self.sample = {i: _canon(oracle.extract_document(by_id[i]))
                       for i in sample_ids(docs, seed, sample_k)}


def check_rows(expected: Expected, summary: list[dict],
               full: list[dict] | None) -> dict:
    """Compare output rows with ``expected``.

    ``summary`` holds :data:`SUMMARY_COLS` of every output row; ``full``
    holds :data:`FULL_COLS` of the output rows whose ids are in the
    sample, or is None to skip the oracle comparison.
    """
    counts = Counter(r["doc_id"] for r in summary)
    bad = {i for i in expected.n_pages if counts[i] != 1}
    unexpected = sum(n for i, n in counts.items() if i not in expected.n_pages)
    pages = {"ok": 0, "fallback": 0, "failed": 0}
    for r in summary:
        want = expected.n_pages.get(r["doc_id"])
        if want is None:
            continue
        ok_pages = r["n_pages"] - r["n_failed"] - r["n_fallback"]
        if r["n_pages"] != want or ok_pages < 0 or r["status"] not in ("ok", "failed"):
            bad.add(r["doc_id"])
        pages["ok"] += ok_pages
        pages["fallback"] += r["n_fallback"]
        pages["failed"] += r["n_failed"]
    got = {}
    for r in full or ():
        got.setdefault(r["doc_id"], []).append(_canon(r))
    mismatched = [] if full is None else [
        i for i, want in expected.sample.items() if got.get(i) != [want]]
    bad.update(mismatched)
    failed = len(bad) + unexpected
    pages_add_up = (sum(pages.values()) == expected.total_pages
                    and len(summary) == len(expected.n_pages))
    return {
        "attempted": len(expected.n_pages),
        "failed": failed,
        "correct": failed == 0 and pages_add_up,
        "pages": pages,
        "missing_or_duplicated": sorted(i for i in expected.n_pages
                                        if counts[i] != 1)[:10],
        "oracle_mismatch": mismatched[:10],
        "unexpected_rows": unexpected,
    }


def check_output(expected: Expected, out_df, sample: bool = True) -> dict:
    """Collect what :func:`check_rows` needs from a Spark output frame in
    one job: the summary columns of every row, the rest for the sample.
    With ``sample=False`` only the summary is checked."""
    from pyspark.sql import functions as F

    in_sample = F.col("doc_id").isin(list(expected.sample) if sample else [])
    rest = [c for c in FULL_COLS if c not in SUMMARY_COLS]
    rows = out_df.select(
        *SUMMARY_COLS, in_sample.alias("_sampled"),
        *[F.when(in_sample, F.col(c)).alias(c) for c in rest]).collect()
    summary, full = [], []
    for r in rows:
        d = r.asDict(recursive=True)
        summary.append({c: d[c] for c in SUMMARY_COLS})
        if d["_sampled"]:
            full.append(d)
    return check_rows(expected, summary, full if sample else None)


def check_lineage(lineage: list[dict], n_buckets: int, n_docs: int,
                  resume: dict) -> list[str]:
    """Problems with a checkpointed run's lineage and its resume call:
    one lineage row per bucket, ``n_docs`` adding up to the input, and a
    resume that processes nothing."""
    problems = []
    buckets = Counter(r["bucket"] for r in lineage)
    if sorted(buckets) != list(range(n_buckets)) or set(buckets.values()) != {1}:
        problems.append(f"lineage rows per bucket: {dict(buckets)}")
    if sum(r["n_docs"] for r in lineage) != n_docs:
        problems.append("lineage n_docs do not add up to the input")
    if resume["processed_buckets"] != 0 or resume["skipped_buckets"] != n_buckets:
        problems.append(f"resume was not a no-op: {resume}")
    return problems
