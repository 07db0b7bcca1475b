"""Engine-parity gate for the training-data-pipeline operators: every
Spark implementation must match its DuckDB oracle exactly at sf0.001."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from dots_ocr_spark import dedup as D
from dots_ocr_spark import similarity as S
from dots_ocr_spark import textops as TX

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("documents", "embeddings"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _match(spark, con, fn, sql, cols=None):
    got = {tuple(r) for r in fn(spark, SF).collect()}
    exp = {tuple(r) for r in con.execute(sql).fetchall()}
    assert got == exp, (
        f"{len(got)} spark rows vs {len(exp)} oracle rows; "
        f"spark-only={sorted(got - exp)[:2]} oracle-only={sorted(exp - got)[:2]}"
    )
    return got


def _min_labels(pairs) -> dict:
    """Plain union-find over undirected pairs: node -> min node id of its
    connected component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_simhash(spark, con):
    rows = _match(spark, con, D.simhash_signatures, D.ORACLE_SIMHASH)
    assert len(rows) == 500
    # signatures are 60-bit non-negative
    assert all(0 <= r[1] < (1 << 60) for r in rows)


def test_simhash_bands(spark, con):
    rows = _match(spark, con, D.simhash_band_buckets, D.ORACLE_SIMHASH_BANDS)
    assert rows, "band buckets must find candidates in this corpus"


def test_simhash_neardup_pairs(spark, con):
    rows = _match(spark, con, D.simhash_neardup_pairs,
                  D.ORACLE_SIMHASH_NEARDUP)
    assert all(0 <= r[2] <= D.SIMHASH_MAX_HAMMING for r in rows)


def test_dedup_survivors(spark, con):
    rows = _match(spark, con, D.dedup_survivors, D.ORACLE_DEDUP_SURVIVORS)
    # survivors are a subset of the corpus and exclude near-dup doc_j's
    assert 0 < len(rows) <= 500
    ids = {r[0] for r in rows}
    dropped = {r["doc_j"] for r in D.jaccard_pairs(spark, SF).collect()}
    assert not (ids & dropped)


def test_neardup_components(spark, con):
    rows = _match(spark, con, D.neardup_components,
                  D.ORACLE_NEARDUP_COMPONENTS)
    # component id is the min doc_id of the component
    assert all(r[1] <= r[0] for r in rows)


def test_connected_components_converges_past_round_bound(spark):
    """The production fixpoint variant must solve graphs DEEPER than the
    oracle-checked fixed-round bound: a 30-node chain (diameter 29) plus
    a disjoint triangle, checked against a plain union-find."""
    chain = [(i, i + 1) for i in range(100, 130)]
    tri = [(500, 501), (501, 502)]
    pairs = spark.createDataFrame(chain + tri, "doc_i long, doc_j long")
    got = {r["doc_id"]: r["component"]
           for r in D.connected_components(pairs).collect()}
    assert got == _min_labels(chain + tri)
    assert got[130] == 100 and got[502] == 500


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_cc_oracle_round_bound_holds_on_test_tables(sf):
    """DuckDB only: on the sf0.001 and sf0.01 test tables, COMPONENT_ROUNDS
    rounds of the fixed-bound CC oracle must already reach the true
    components, or a deeper component would carry split labels in both
    engines alike."""
    path = os.path.join(os.path.dirname(SF), sf, "documents.parquet")
    c = duckdb.connect()
    c.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    pairs = [r[:2] for r in c.execute(D.ORACLE_JACCARD_PAIRS).fetchall()]
    assert pairs
    got = dict(c.execute(D.ORACLE_NEARDUP_COMPONENTS).fetchall())
    assert got == _min_labels(pairs)


def test_dedup_survivors_cc_matches_oracle(spark, con):
    rows = _match(spark, con, D.dedup_survivors_cc,
                  D.ORACLE_DEDUP_SURVIVORS_CC)
    assert 0 < len(rows) <= 500
    # keep-one-per-cluster is at least as aggressive as greedy:
    # cc_survivors is a subset of greedy survivors
    cc_ids = {r[0] for r in rows}
    greedy_ids = {r[0] for r in D.dedup_survivors(spark, SF).collect()}
    assert cc_ids <= greedy_ids


def test_cc_survivors_beat_greedy_on_star_cluster(spark):
    """Adversarial pair-graph shape: a cluster star-shaped around its
    LARGEST id — pairs (a,c) and (b,c) with a < b < c and no (a,b)
    pair. Greedy drop-doc_j keeps BOTH a and b (each only ever appears
    as the smaller id); components collapse the cluster to {a} alone.
    Built directly from the composition pieces so the graph shape is
    exact rather than hoping LSH produces it."""
    reps = spark.createDataFrame(
        [(i, f"h{i}") for i in (1, 2, 3, 10)], "doc_id long, text_md5 string")
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3)], "doc_i long, doc_j long")

    dropped_greedy = pairs.select(
        F.col("doc_j").alias("doc_id")).distinct()
    greedy = {r[0] for r in reps.join(
        dropped_greedy, "doc_id", "left_anti").collect()}

    comp = D.connected_components(pairs)
    non_min = comp.where(F.col("doc_id") != F.col("component"))         .select("doc_id")
    cc = {r[0] for r in reps.join(non_min, "doc_id", "left_anti").collect()}

    assert greedy == {1, 2, 10}      # b=2 survives greedy: never a doc_j
    assert cc == {1, 10}             # one survivor per cluster
    assert cc < greedy


def test_jaccard_pairs(spark, con):
    rows = _match(spark, con, D.jaccard_pairs, D.ORACLE_JACCARD_PAIRS)
    assert rows, "LSH candidates with jaccard >= 0.5 must exist"
    assert all(0.5 <= r[2] <= 1.0 for r in rows)


def test_embed_topk(spark, con):
    rows = _match(spark, con, S.embed_topk, S.ORACLE_EMBED_TOPK)
    assert len(rows) == S.N_QUERIES * S.TOP_K
    # per query, ranks are 1..k and cosine non-increasing
    by_q = {}
    for q, rank, n, c in rows:
        by_q.setdefault(q, []).append((rank, c))
    for q, rc in by_q.items():
        rc.sort()
        assert [r for r, _ in rc] == list(range(1, S.TOP_K + 1))
        cs = [c for _, c in rc]
        assert cs == sorted(cs, reverse=True)


def test_embed_ann_buckets(spark, con):
    rows = _match(spark, con, S.embed_ann_buckets, S.ORACLE_EMBED_ANN_BUCKETS)
    # one row per (vector, table); buckets within each table's bit range
    assert len(rows) == 500 * S.N_TABLES
    assert all(0 <= b < (1 << S.BITS_PER_TABLE) for _, _, b in rows)


def test_embed_neardup(spark, con):
    # this corpus has NO true near-duplicates (max pairwise cosine 0.48),
    # so a precise 12-bit LSH proposes almost nothing — the value compare
    # vs the oracle is the contract; recall on real near-dups is covered
    # by test_ann_recall_on_planted_neardups.
    _match(spark, con, S.embed_neardup_pairs, S.ORACLE_EMBED_NEARDUP)


def test_ivf_assign(spark, con):
    rows = _match(spark, con, S.ivf_assign, S.ORACLE_IVF_ASSIGN)
    assert len(rows) == 500
    cents = {r[1] for r in rows}
    assert all(c < S.IVF_N_CENTROIDS for c in cents)
    assert len(cents) > 3, "assignment must spread across centroids"


def test_ivf_topk(spark, con):
    rows = _match(spark, con, S.ivf_topk, S.ORACLE_IVF_TOPK)
    assert len(rows) == S.N_QUERIES * S.IVF_TOP_K
    # IVF recall sanity: probing 2/10 cells must still recover a good
    # share of the brute-force top-3 (cells hold cosine-similar vectors)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in S.embed_topk(spark, SF).where("rank <= 3").collect()}
    ivf = {(r[0], r[2]) for r in rows}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.3, f"IVF recall {recall} too low"


def test_corpus_stats(spark, con):
    _match(spark, con, TX.corpus_stats, TX.ORACLE_CORPUS_STATS)


def test_media_decode(spark, con):
    rows = _match(spark, con, TX.media_decode, TX.ORACLE_MEDIA_DECODE)
    assert len(rows) == 500
    assert all(r[6] == "stub" for r in rows)


def test_jaccard_pairs_survive_short_docs(spark, tmp_path):
    """Docs with < 3 words have no 3-shingles; they must be silently
    excluded (matching the oracle's len(toks) >= 3 gate), NOT crash the
    job with INVALID_ARRAY_INDEX_IN_ELEMENT_AT from a descending
    sequence() bound."""
    rows = [
        (1, "one"), (2, "two words"), (3, ""),
        (4, "alpha beta gamma delta epsilon zeta"),
        (5, "alpha beta gamma delta epsilon zeta"),
        (6, "alpha beta gamma delta epsilon eta"),
    ]
    d = str(tmp_path / "shortdocs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{d}/documents.parquet")
    got = {(r["doc_i"], r["doc_j"]) for r in D.jaccard_pairs(spark, d).collect()}
    # 4/5 are exact dups (collapsed to rep 4); 4-6 share 3/5 shingles = 0.5
    assert got == {(4, 6)}
    c = duckdb.connect()
    c.execute("CREATE VIEW documents AS "
              f"SELECT * FROM '{d}/documents.parquet/*.parquet'")
    exp = {(r[0], r[1]) for r in c.execute(D.ORACLE_JACCARD_PAIRS).fetchall()}
    assert got == exp


def test_jaccard_bucket_cap_bounds_degenerate_buckets(spark, tmp_path):
    """Adversarial near-constant corpus: many near-identical (but not
    byte-identical) docs land in one LSH bucket — in BOTH bands, so a
    cap that simply dropped oversized buckets would let exactly the
    most-duplicated content escape near-dup dedup entirely. The star
    degrade must (a) keep enumeration sub-quadratic, (b) still collapse
    the cluster, (c) value-match the DuckDB oracle on the star path
    (which the sf0.001 corpus never exercises)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{base} tail{i}") for i in range(300)]
    d = str(tmp_path / "skewdocs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{d}/documents.parquet")
    got = {(r["doc_i"], r["doc_j"])
           for r in D.jaccard_pairs(spark, d).collect()}
    # sub-quadratic: uncapped this corpus yields ~300*299/2 ≈ 45k pairs;
    # star pairing bounds each oversized bucket at k-1
    cap = D.MAX_BUCKET_MEMBERS
    assert 0 < len(got) <= 2 * cap * (cap - 1) // 2, len(got)
    # the cluster collapses: every bucket member except representatives
    # is a doc_j of some verified pair, so survivors ≪ corpus
    survivors = D.dedup_survivors(spark, d).count()
    assert survivors < 100, f"{survivors} of 300 boilerplate docs survived"
    # oracle parity on the star path
    c = duckdb.connect()
    c.execute("CREATE VIEW documents AS "
              f"SELECT * FROM '{d}/documents.parquet/*.parquet'")
    exp = {(r[0], r[1])
           for r in c.execute(D.ORACLE_JACCARD_PAIRS).fetchall()}
    assert got == exp, (
        f"spark-only={sorted(got - exp)[:3]} oracle-only={sorted(exp - got)[:3]}")
    # simhash family: same corpus, same degenerate-bucket shape — checks
    # the payload-carrying star leg (arg_min window) against its oracle
    sh_got = {tuple(r) for r in D.simhash_neardup_pairs(spark, d).collect()}
    sh_exp = {tuple(r) for r in c.execute(D.ORACLE_SIMHASH_NEARDUP).fetchall()}
    assert sh_got == sh_exp
    assert len({j for _, j, _ in sh_got}) > 200, "simhash star leg inert"


def _plant_neardups(spark, base_dir, n=100, seed=7, src=None):
    """Write an embeddings dir of n corpus vectors + one perturbed copy
    each (cosine ≈ 0.995); returns (dir, planted pair set)."""
    import numpy as np

    rows = spark.read.parquet(f"{src or SF}/embeddings.parquet") \
        .orderBy("vec_id").limit(n).collect()
    rng = np.random.default_rng(seed)
    out = []
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float32)
        noise = rng.normal(0.0, 0.1 * float(np.linalg.norm(v)) / np.sqrt(v.size),
                           v.shape).astype(np.float32)
        out.append((int(r["vec_id"]), [float(x) for x in v]))
        out.append((int(r["vec_id"]) + 100_000, [float(x) for x in v + noise]))
    d = str(base_dir / "planted")
    spark.createDataFrame(out, "vec_id long, embedding array<float>") \
        .write.parquet(f"{d}/embeddings.parquet")
    planted = {(int(r["vec_id"]), int(r["vec_id"]) + 100_000) for r in rows}
    return d, planted


def test_ann_recall_on_planted_neardups(spark, tmp_path):
    """End-to-end LSH recall on TRUE near-duplicates: plant a perturbed
    copy (cosine ≈ 0.995) of each of 100 corpus vectors; the banded LSH +
    cosine verify must recover >= 85% of the planted pairs (theory: p/bit
    ≈ 0.97 at θ ≈ 5.5° ⇒ table hit 0.97^12 ≈ 0.68 ⇒ 8-table recall ≈
    1-(1-0.68)^8 ≈ 0.9999; the slack absorbs draw variance)."""
    d, planted = _plant_neardups(spark, tmp_path)
    found = {
        (r["vec_i"], r["vec_j"])
        for r in S.embed_neardup_pairs(spark, d, threshold=0.9).collect()
    }
    recall = len(found & planted) / len(planted)
    assert recall >= 0.85, f"planted near-dup recall {recall:.2f} too low"


def test_ann_recall_cost_dial_monotone(spark, tmp_path):
    """``n_tables`` is the recall/cost dial: both planted-pair recall
    and candidate volume rise monotonically with the table count
    (table subsets nest, so this is exact, not statistical), and the
    single-table configuration is strictly cheaper than the full one."""
    d, planted = _plant_neardups(spark, tmp_path)
    recalls, cands = {}, {}
    for nt in (1, 4, 8):
        cands[nt] = S.embed_ann_candidates(spark, d, n_tables=nt).count()
        found = {
            (r["vec_i"], r["vec_j"])
            for r in S.embed_neardup_pairs(
                spark, d, threshold=0.9, n_tables=nt).collect()
        }
        recalls[nt] = len(found & planted) / len(planted)
    assert recalls[1] <= recalls[4] <= recalls[8], recalls
    assert cands[1] <= cands[4] <= cands[8], cands
    assert cands[1] < cands[8], cands
    assert recalls[8] >= 0.85, recalls


def test_ivf_default_recall_floor_vs_exact(spark):
    """Recall floor at the REGISTERED defaults (n_probe=2), pinned in
    pytest so a centroid/probe change can't silently gut recall while
    the oracle (which mirrors whatever the code does) stays green.
    Compared against the exact brute-force top-k at aligned k =
    IVF_TOP_K on the seeded corpus; all inputs deterministic, so the
    measured 0.93 mean / 0.67 min recall is stable — the floor leaves
    margin for a deliberate parameter retune, not for a regression to
    chance. (The sign-LSH default-tables floor is pinned the same way
    by test_ann_recall_on_planted_neardups: >= 0.85 planted-pair
    recall at N_TABLES.)"""
    exact = {}
    for r in S.embed_topk(spark, SF).collect():
        if r["rank"] <= S.IVF_TOP_K:
            exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in S.ivf_topk(spark, SF).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q] & got.get(q, set())) / len(exact[q])
               for q in exact]
    assert len(recalls) == S.N_QUERIES
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.85, f"IVF default-probe mean recall {mean:.2f}"
    assert min(recalls) >= 0.6, f"IVF per-query recall floor {min(recalls):.2f}"


def test_ivf_probe_dial_monotone(spark):
    """``n_probe`` is IVF's recall dial: probing more cells can only add
    candidates, so brute-force-top-3 recall is monotone in n_probe."""
    bf = {(r["query_id"], r["neighbor_id"])
          for r in S.embed_topk(spark, SF).where("rank <= 3").collect()}
    rec = {}
    for npb in (1, 2, 4):
        ivf = {(r["query_id"], r["neighbor_id"])
               for r in S.ivf_topk(spark, SF, n_probe=npb).collect()}
        rec[npb] = len(bf & ivf) / len(bf)
    assert rec[1] <= rec[2] <= rec[4], rec
    assert rec[4] >= rec[2] >= 0.3, rec


def test_ivf_assign_plan_has_no_window_sort(spark):
    """The n×K scored set must be reduced by a partial-aggregating MAX,
    never a row_number window (which sorts and shuffles every scored
    row)."""
    plan = S.ivf_assign(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastExchange" in plan  # centroids broadcast, corpus scanned once


def test_winnow_shapes_agree(spark):
    """The zero-exchange mapInPandas winnowing leg and the exploded
    SQL-window leg share one spec (spec/winnow.py) and must produce
    identical fingerprints, row for row."""
    from dots_ocr_spark import queries as Q

    a = {tuple(r) for r in Q.q_winnow_fingerprints(spark, SF).collect()}
    b = {tuple(r)
         for r in Q.q_winnow_fingerprints_exploded(spark, SF).collect()}
    assert a == b and len(a) == 500


def test_winnow_spec_shared_substring_guarantee():
    """Property the algorithm exists for: two texts sharing a substring
    of length >= K+W-1 share at least one fingerprint."""
    from dots_ocr_spark.spec.winnow import WINNOW_K, WINNOW_W, winnow_select

    shared = "abcdefghijklmnopqrstuvwxyz"[: WINNOW_K + WINNOW_W - 1]
    t1 = "PREFIXONE " + shared + " SUFFIXONE"
    t2 = "zz " + shared + " qq tail here"
    assert set(winnow_select(t1)) & set(winnow_select(t2))


def test_streaming_band_rows_match_batch_bands(spark):
    """The streaming near-dedup's python band computation must coincide
    exactly with the batch JVM _minhash_bands (same shingles, same md5
    permutation minima, same band hashes) — the foundation of the
    stream-vs-batch survivor parity."""
    import pandas as pd

    from dots_ocr_spark.streaming.neardedup import EXACT_BAND, _band_rows

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").toPandas()
    got = set()
    for pdf in _band_rows(iter([docs])):
        for r in pdf.itertuples():
            if r.band != EXACT_BAND:
                got.add((r.doc_id, r.band, r.bucket))
    exp = {(r["doc_id"], r["band"], r["bucket"])
           for r in D._minhash_bands(spark, SF).collect()}
    assert got == exp


def test_quality_repetition_known_doc(spark, tmp_path):
    """Hand-computed repetition signals: 'a b a b a c' has top word a×3
    of 6 (frac 0.5) and bigrams [ab, ba, ab, ba, ac] = 5 total / 3
    distinct (dup frac 0.4) — both over the gate thresholds."""
    from dots_ocr_spark import queries as Q

    d = str(tmp_path / "repdocs")
    spark.createDataFrame(
        [(1, "a b a b a c"), (2, "x y z w v u")],
        "doc_id long, text string").write.parquet(f"{d}/documents.parquet")
    rows = {r["doc_id"]: r
            for r in Q.q_quality_repetition(spark, d).collect()}
    assert rows[1]["n_words"] == 6 and rows[1]["top_word_count"] == 3
    assert rows[1]["top_word_frac"] == 0.5
    assert rows[1]["dup_bigram_frac"] == 0.4
    assert rows[1]["repetition_pass"] is False
    assert rows[2]["top_word_frac"] == round(1 / 6, 4)
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert rows[2]["repetition_pass"] is True


def test_training_corpus_composition(spark, con):
    """The capstone composition (near-dedup survivors ∩ quality gate ∩
    repetition gate) must value-match its composed oracle AND each leg
    must be load-bearing (the kept set is strictly smaller than every
    individual leg's pass set)."""
    from dots_ocr_spark import queries as Q

    rows = _match(spark, con, Q.q_training_corpus, Q.ORACLE_TRAINING_CORPUS)
    kept = {r[0] for r in rows}
    n_surv = D.dedup_survivors(spark, SF).count()
    n_rep = Q.q_quality_repetition(spark, SF).where("repetition_pass").count()
    n_q = Q.q_quality_score(spark, SF).where("quality_pass").count()
    assert 0 < len(kept) < min(n_surv, n_rep, n_q), (
        len(kept), n_surv, n_rep, n_q)
