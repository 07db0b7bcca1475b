"""The benchmark's workloads: input shape, one timed pass, and its check.

* ``uniform``    — default fixture documents through
  ``pipeline.extract(docs)`` into a committed parquet sink. It is called
  without a ``mode``, so whatever mode the program picks for the data is
  what gets measured. The spec rules and the Arrow boundary do most of
  the work.
* ``corpus_ops`` — the training-data operator queries over a seeded text
  corpus (see ``corpus.py``): dedup, similarity, HTML and text analysis,
  each taken from the query registry.

A workload writes its input under the run's work directory and returns a
pass object with ``run(spark)`` (one full pass), ``warm(spark)`` (one
warm-up pass), ``check(spark, sample)`` (the correctness check of the
latest pass, one entry per operation) and ``n_docs``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from dots_ocr_spark import pipeline

from perfbench import corpus, inputs, verify


class ExtractPass:
    """Runs ``pipeline.extract`` passes over one input table and checks
    the result of the latest pass."""

    def __init__(self, docs: list[dict], input_path: str, work: str, seed: int):
        self.docs_list = docs
        self.n_docs = len(docs)
        self.input_path = input_path
        self.work = work
        self.out_path = os.path.join(work, "out")
        self.expected = verify.Expected(docs, seed)

    def docs(self, spark):
        return spark.read.parquet(self.input_path)

    def run(self, spark) -> None:
        shutil.rmtree(self.out_path, ignore_errors=True)
        pipeline.extract(self.docs(spark)).write.parquet(self.out_path)

    warm = run

    def check(self, spark, sample: bool = True) -> dict:
        return verify.check_output(self.expected,
                                   spark.read.parquet(self.out_path), sample)

    def describe(self) -> dict:
        return {"docs": self.n_docs, "pages": self.expected.total_pages}


@dataclass
class Extraction:
    #: pages of default documents; the document count follows from them
    pages: int
    #: passes after the cold one before the timed phase
    warm_passes: int
    kind = "extract"

    def prepare(self, work: str, seed: int, n_files: int) -> ExtractPass:
        docs = inputs.uniform_docs(self.pages, seed)
        path = os.path.join(work, "input")
        inputs.write_table(docs, path, n_files)
        return ExtractPass(docs, path, work, seed)


@dataclass
class Corpus:
    docs: int
    vectors: int
    warm_passes: int
    kind = "corpus"

    def prepare(self, work: str, seed: int, n_files: int) -> corpus.CorpusPass:
        sf_dir = os.path.join(work, "corpus")
        corpus.write_corpus(sf_dir, self.docs, self.vectors, seed, n_files)
        return corpus.CorpusPass(sf_dir, corpus.oracle_hashes(sf_dir))


#: full-size workloads
FULL = {
    # ~800 documents; a warm pass takes ~2 s at local[2]. The CPU a pass
    # uses keeps falling for ~4 passes after the cold one, while the JIT
    # compiles.
    "uniform": Extraction(2900, warm_passes=4),
    # one pass runs 15 queries, ~8-10 s warm at local[2], most of it
    # per-job overhead. The time a pass takes keeps falling for several
    # passes while the JIT compiles; after two warm-up passes more than
    # the cold one it changes little.
    "corpus_ops": Corpus(1000, 500, warm_passes=2),
}
#: the same shapes at a size that runs in seconds: the smoke test, and
#: the inputs a traced run measures the other workload's layers on
TINY = {
    "uniform": Extraction(150, warm_passes=1),
    "corpus_ops": Corpus(200, 100, warm_passes=0),
}
