"""Seeded input tables for the extraction workload.

Documents come from the program's own fixture generator, so every page
shape the spec rules handle (tables, formulas, malformed payloads, TOCs,
word-grain pages) appears at its default rate. The tables are written as
parquet with pyarrow, in the program's input schema, before Spark
starts, so input generation is never part of a timed phase.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from dots_ocr_spark import schemas
from dots_ocr_spark.fixtures import generate_doc

INPUT_SCHEMA = to_arrow_schema(schemas.INPUT)
_PAGE_FIELDS = schemas.PAGE.fieldNames()


def uniform_docs(n_pages: int, seed: int) -> list[dict]:
    """Default fixture documents (1-5 pages, 12% table/formula-heavy), as
    many as it takes to reach ``n_pages`` pages, so that every seed gives
    about the same amount of work."""
    docs, total = [], 0
    while total < n_pages:
        docs.append(generate_doc(len(docs), seed=seed))
        total += docs[-1]["n_pages"]
    return docs


def _rows(docs: list[dict]) -> dict:
    return {
        "doc_id": [d["doc_id"] for d in docs],
        "spans": [d["spans"] for d in docs],
        "pages": [[{k: p.get(k) for k in _PAGE_FIELDS} for p in d["pages"]]
                  for d in docs],
        "n_pages": [d["n_pages"] for d in docs],
        "size_class": [d["size_class"] for d in docs],
    }


def write_table(docs: list[dict], path: str, n_files: int) -> None:
    """Write ``docs`` as ``n_files`` parquet files of contiguous slices, so
    the scan has one task per file."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // n_files)
    for k in range(n_files):
        part = docs[k * step:(k + 1) * step]
        if part:
            table = pa.Table.from_pydict(_rows(part), schema=INPUT_SCHEMA)
            pq.write_table(table, os.path.join(path, f"part-{k:04d}.parquet"))
