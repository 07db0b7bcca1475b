"""The ``corpus_ops`` workload: training-data operator queries over a
seeded text corpus.

The queries are the operator entries of ``bench.py``'s ``HEADLINE``
list but two (see :data:`QUERY_NAMES`), taken from the program's
registry (``queries.QUERIES``) by name: text analysis, exact and near
dedup, similarity search, HTML boilerplate stripping and media decode.
The materialized training corpus (the one user of ``sinks``) is timed
only as a layer (:data:`LAYER_QUERIES`). The extraction and relational
queries are left out; the extraction workloads cover the first.

The corpus has the shape of the generated ``documents`` and
``embeddings`` test tables: texts of 8-110 words from a 30-word
vocabulary, 20 sources, five languages, 5% near-duplicates (an earlier
text plus one word), a few exact duplicates, and unit-length 64-d
embedding vectors with labels 0-9. It is written under the run's work
directory with pyarrow before Spark starts.

Each query's expected output is the hash of what the program's own
DuckDB oracle (``queries.ORACLE_SQL``) returns on the same files, so
every pass is checked in full, query by query.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from dots_ocr_spark import queries as Q

#: the queries of a timed pass: ``bench.py`` HEADLINE minus the
#: extraction and relational queries, minus ``dedup_survivors_cc`` (37
#: jobs, ~4 s of fixed overhead a pass at ``local[2]``) and minus
#: :data:`LAYER_QUERIES`. The longest queries come first, so that a
#: concurrent warm-up pass does not end waiting on one alone.
QUERY_NAMES = [
    "embed_ann_buckets", "simhash", "quality_repetition",
    "winnow_fingerprints", "minhash_band_buckets", "media_decode",
    "embed_topk", "html_main_content", "quality_score", "dedup_exact",
    "minhash_signature", "corpus_stats", "langid", "token_stats",
    "fingerprint",
]
#: queries timed only as a layer, in traced runs. ``training_corpus`` (the
#: one user of ``sinks``, and of the exact- and near-dup pair code that
#: ``dedup_survivors_cc`` also runs) takes ~6-10 s of per-job overhead, as
#: long as all the others together: with it a pass could only be timed
#: once a run.
LAYER_QUERIES = ["training_corpus"]
#: queries a warm-up pass runs at once
WARM_THREADS = 3

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]
N_SOURCES = 20
NEAR_DUP_RATE = 0.05
EXACT_DUP_RATE = 0.002
DIM = 64


def documents(n_docs: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    rows: list[dict] = []
    originals: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if originals and r < NEAR_DUP_RATE:
            text = rng.choice(originals) + " dup"
        elif originals and r < NEAR_DUP_RATE + EXACT_DUP_RATE:
            text = rng.choice(originals)
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 110)))
            originals.append(text)
        rows.append({"doc_id": i, "text": text, "lang": rng.choice(LANGS),
                     "source": f"src{i % N_SOURCES}", "n_chars": len(text)})
    return rows


def embeddings(n_vecs: int, seed: int) -> list[dict]:
    rng = random.Random(seed ^ 0xE3B)
    rows = []
    for i in range(n_vecs):
        v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        rows.append({"vec_id": i, "embedding": [x / norm for x in v],
                     "label": rng.randrange(10)})
    return rows


_DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])
_EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                         ("embedding", pa.list_(pa.float32())),
                         ("label", pa.int32())])


def _write(rows: list[dict], schema: pa.Schema, path: str, n_files: int) -> None:
    """``rows`` as ``n_files`` parquet files in the directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step:(k + 1) * step]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=schema),
                           os.path.join(path, f"part-{k:04d}.parquet"))


def write_corpus(sf_dir: str, n_docs: int, n_vecs: int, seed: int,
                 n_files: int) -> None:
    """The corpus in the layout the queries read:
    ``<sf_dir>/documents.parquet`` and ``<sf_dir>/embeddings.parquet``."""
    _write(documents(n_docs, seed), _DOC_SCHEMA,
           os.path.join(sf_dir, "documents.parquet"), n_files)
    _write(embeddings(n_vecs, seed), _EMB_SCHEMA,
           os.path.join(sf_dir, "embeddings.parquet"), n_files)


def _plain(v):
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if isinstance(v, float):
        return repr(v)
    return v


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: column names and the sorted
    rows, each value in its plain Python form."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    canon = sorted(repr(tuple(_plain(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_hashes(sf_dir: str) -> dict[str, tuple[int, str]]:
    """Row count and :func:`result_hash` of each query's DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
        out = {}
        for name in QUERY_NAMES + LAYER_QUERIES:
            cur = con.execute(Q.ORACLE_SQL[name])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[name] = (len(rows), result_hash(cols, rows))
        return out
    finally:
        con.close()


class CorpusPass:
    """Runs every query of the workload once per pass, collecting its
    rows to the driver, and checks each result against the oracle."""

    def __init__(self, sf_dir: str, expected: dict[str, tuple[int, str]]):
        self.sf_dir = sf_dir
        self.expected = expected
        self.n_docs = pq.ParquetDataset(
            os.path.join(sf_dir, "documents.parquet")).read(["doc_id"]).num_rows
        self.n_vectors = pq.ParquetDataset(
            os.path.join(sf_dir, "embeddings.parquet")).read(["vec_id"]).num_rows
        #: name -> (columns, rows) and wall time of the latest pass
        self.results: dict[str, tuple[list[str], list]] = {}
        self.walls: dict[str, float] = {}

    def run_query(self, spark, name: str):
        """Run one query and keep its rows; returns its DataFrame (for
        plan inspection)."""
        t0 = time.perf_counter()
        df = Q.QUERIES[name](spark, self.sf_dir)
        self.results[name] = (df.columns, df.collect())
        self.walls[name] = time.perf_counter() - t0
        return df

    def run(self, spark) -> None:
        self.results.clear()
        for name in QUERY_NAMES:
            self.run_query(spark, name)

    def warm(self, spark) -> None:
        """A warm-up pass, :data:`WARM_THREADS` queries at a time: it
        compiles the same code as a sequential pass, in less time, and
        its results are checked the same way."""
        self.results.clear()
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            list(pool.map(lambda name: self.run_query(spark, name), QUERY_NAMES))

    def check(self, spark=None, sample: bool = True) -> dict:
        """A query is one operation; it fails when its row count or
        result hash differs from the oracle's. Every query of a pass is
        checked, and any layer query run since."""
        got = {n: (len(rows), result_hash(cols, rows))
               for n, (cols, rows) in self.results.items()}
        names = QUERY_NAMES + [n for n in LAYER_QUERIES if n in got]
        failed = sorted(n for n in names if got.get(n) != self.expected[n])
        return {"attempted": len(names), "failed": len(failed),
                "correct": not failed, "mismatched": failed}

    def describe(self) -> dict:
        return {"docs": self.n_docs, "vectors": self.n_vectors,
                "queries": len(QUERY_NAMES)}
