"""Smoke test of the benchmark itself, at a tiny size.

    python -m pytest perfbench/test_smoke.py -q

Checks that the correctness checks reject a broken output, that every
workload runs end to end and prints exactly the metrics ``BENCHMARK.json``
names, and that the benchmark fails without printing a result where the
program is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from dots_ocr_spark import oracle  # noqa: E402

from perfbench import corpus, inputs, verify  # noqa: E402


def _engine_rows(docs):
    """Output rows as a correct engine would produce them."""
    return [oracle.extract_document(d) for d in docs]


def _check(expected, rows):
    summary = [{c: r[c] for c in verify.SUMMARY_COLS} for r in rows]
    full = [r for r in rows if r["doc_id"] in expected.sample]
    return verify.check_rows(expected, summary, full)


@pytest.fixture(scope="module")
def case():
    docs = inputs.uniform_docs(120, seed=3)
    return verify.Expected(docs, seed=3, sample_k=8), _engine_rows(docs)


def test_correct_output_passes(case):
    expected, rows = case
    res = _check(expected, rows)
    assert res["correct"] and res["failed"] == 0
    assert sum(res["pages"].values()) == expected.total_pages


def test_dropped_document_is_rejected(case):
    expected, rows = case
    res = _check(expected, rows[1:])
    assert not res["correct"]
    assert res["failed"] == 1
    assert res["missing_or_duplicated"] == [rows[0]["doc_id"]]


def test_duplicated_document_is_rejected(case):
    expected, rows = case
    res = _check(expected, rows + rows[-1:])
    assert not res["correct"] and res["failed"] == 1


def test_changed_sampled_document_is_rejected(case):
    expected, rows = case
    victim = next(iter(expected.sample))
    changed = [dict(r, markdown=r["markdown"] + "x") if r["doc_id"] == victim
               else r for r in rows]
    res = _check(expected, changed)
    assert not res["correct"] and res["oracle_mismatch"] == [victim]


def test_lineage_check():
    lineage = [{"bucket": b, "n_docs": 1} for b in range(4)]
    noop = {"processed_buckets": 0, "skipped_buckets": 4}
    assert verify.check_lineage(lineage, 4, 4, noop) == []
    assert verify.check_lineage(lineage[1:], 4, 3, noop)
    assert verify.check_lineage(lineage, 4, 5, noop)
    assert verify.check_lineage(lineage, 4, 4, {"processed_buckets": 1,
                                                "skipped_buckets": 3})


def test_corpus_check_rejects_a_changed_result(tmp_path):
    sf_dir = str(tmp_path / "corpus")
    corpus.write_corpus(sf_dir, 60, 20, seed=3, n_files=2)
    expected = corpus.oracle_hashes(sf_dir)
    p = corpus.CorpusPass(sf_dir, expected)
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
    for name in corpus.QUERY_NAMES:
        cur = con.execute(corpus.Q.ORACLE_SQL[name])
        p.results[name] = ([d[0] for d in cur.description], cur.fetchall())
    assert p.check()["correct"]
    cols, rows = p.results["token_stats"]
    p.results["token_stats"] = (cols, rows[1:])
    res = p.check()
    assert not res["correct"] and res["failed"] == 1
    assert res["mismatched"] == ["token_stats"]


def _bench(cwd, workload, trace):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["uniform", "corpus_ops"])
def test_workload_end_to_end(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    proc = _bench(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in listed} == \
        {k: v["unit"] for k, v in result["metrics"].items()}
    if trace:
        assert result["metrics"]["pipeline.exchanges"]["value"] == 0


def test_fails_without_the_program():
    bare = os.path.join(HERE, "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("work", "results",
                                                      "__pycache__"))
        proc = _bench(bare, "uniform", 0)
        assert proc.returncode != 0
        assert proc.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)
