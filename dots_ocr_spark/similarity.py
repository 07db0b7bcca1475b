"""Similarity search over the embedding column (array<float>, 64-dim).

  * **Brute-force cosine top-k** — the exactness baseline: broadcast the
    (small) query set, scan the corpus once, rank per query. At 100 TB
    scale this is the one-pass pattern: queries broadcast to every
    executor, a single projection computes all dot products, and the
    per-query top-k is a partial-aggregating window (no corpus self-join).
  * **Sign-LSH (random hyperplane) buckets** — the scale path: H
    deterministic hyperplanes give an H-bit bucket per vector; bucket
    mates are near-neighbor candidates (one shuffle on the bucket id).
    Hyperplane components are derived from md5 so the SAME double
    literals are embedded in the Spark plan and the DuckDB oracle SQL —
    both engines compute identical buckets.

Determinism: dot products are computed as sequential double-precision
sums of exact float32 products, which Spark's ``aggregate(zip_with(...))``
and DuckDB's ``list_dot_product(CAST(... AS DOUBLE[]))`` evaluate
identically (verified bit-exact in tests).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DIM = 64
N_QUERIES = 10
TOP_K = 5

#: banded sign-LSH shape: BITS_PER_TABLE hyperplane sign bits per table
#: (2^12 = 4096 buckets/table), N_TABLES independent tables for recall.
#: Bits must scale ~log2(corpus/target_bucket_size) — 2-bit tables would
#: put n/4 vectors in every bucket and make candidate generation
#: quadratic. 12 bits × 8 tables gives ~74% recall on true near-dups
#: (cosine ≥ 0.95 ⇒ per-bit agreement p ≈ 1 - θ/π ≈ 0.86, table hit
#: p^12 ≈ 0.15, 1-(1-0.15)^8 ≈ 0.74 — verified by the planted-dup recall
#: test); vectors at cosine ≤ 0.5 almost never collide, which is the
#: precision the bucket join needs at 10^9 rows.
BITS_PER_TABLE = 12
N_TABLES = 8
N_PLANES = N_TABLES * BITS_PER_TABLE

#: skew guard shared with the text-LSH family
#: (dedup.lsh_candidate_pairs): buckets holding more vectors than the
#: cap (e.g. a zero/constant-embedding cluster) degrade from all-pairs
#: to O(k) star pairing against the bucket min, so a degenerate bucket
#: cannot go quadratic yet its cluster still collapses downstream.
from .dedup import (  # noqa: E402
    MAX_BUCKET_MEMBERS,
    _oracle_pair_sql,
    lsh_candidate_pairs,
)


def _plane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1)."""
    h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8]
    return (int(h, 16) % 1000) / 500.0 - 1.0


PLANES: list[list[float]] = [
    [_plane_component(p, d) for d in range(DIM)] for p in range(N_PLANES)
]


def _dot(a, b):
    """Sequential double-precision dot product (engine-parity form)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: for each of the first N_QUERIES vectors,
    the TOP_K nearest other vectors by cosine (ties broken by vec_id).
    Norms are computed ONCE per side below the join (they are the same
    interpreted aggregate as the dot product — recomputing them per pair
    tripled the hot-path cost); the value is bit-identical either way."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("qn"))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("ce"),
                   _norm(F.col("embedding")).alias("cn"))
    cos = _dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


ORACLE_EMBED_TOPK = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
           AS cosine
  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= {TOP_K}
"""


def embed_ann_buckets(spark: SparkSession, sf_dir: str,
                      n_tables: int = N_TABLES) -> DataFrame:
    """(vec_id, lsh_table, bucket) — banded sign-LSH: N_TABLES tables of
    BITS_PER_TABLE hyperplanes each. A single H-bit code has ~p^H
    recall for near-neighbors (p = 1 - θ/π per bit); with B bands of r
    bits recall is 1-(1-p^r)^B — the same trade minhash-LSH banding
    makes. Candidates = same (lsh_table, bucket); the 2^12-bucket space
    keeps expected occupancy at n/4096 per table and MAX_BUCKET_MEMBERS
    bounds the worst case.

    Physical shape: posexplode the vector, broadcast-join the (plane,
    dim, value) table, and reduce with TWO partial-aggregating groupBys
    (dot per (vec, plane), then bucket per (vec, table)) — everything
    whole-stage-codegen. The projection form (96 aggregate(zip_with(...))
    expressions) is interpreted AND CollapseProject duplicates it per
    consumer: measured 9.5s -> ~1s at sf0.1. Engine parity holds because
    the exploded products reach the partial aggregator in dimension
    order within one scan task, so the double sum accumulates in exactly
    the oracle's list_dot_product sequence.

    ``n_tables`` is the recall/cost dial (default = the registered
    8-table shape): recall on near-dups is 1-(1-p^r)^n_tables while
    candidate volume grows ~linearly in tables — the measured curve is
    in BENCH/BASELINE.md (tools/bench_ann_recall.py)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_planes = n_tables * BITS_PER_TABLE
    planes_df = emb.sparkSession.createDataFrame(
        [(p, d, PLANES[p][d]) for p in range(n_planes) for d in range(DIM)],
        "p int, d int, v double",
    )
    prod = (
        emb.select("vec_id", F.posexplode("embedding").alias("d", "x"))
        .join(F.broadcast(planes_df), "d")
        .select("vec_id", "p",
                (F.col("x").cast("double") * F.col("v")).alias("xv"))
    )
    bits = (
        prod.groupBy("vec_id", "p")
        .agg(F.sum("xv").alias("dot"))
        .select(
            "vec_id",
            F.expr(f"p div {BITS_PER_TABLE}").cast("long").alias("lsh_table"),
            F.expr(
                f"shiftleft(CASE WHEN dot > 0 THEN 1L ELSE 0L END, "
                f"p % {BITS_PER_TABLE})"
            ).alias("c"),
        )
    )
    return (
        bits.groupBy("vec_id", "lsh_table")
        .agg(F.sum("c").alias("bucket"))
        .select("vec_id", "lsh_table", "bucket")
    )


def _oracle_sign_bit_sql(p: int) -> str:
    lits = ", ".join(repr(v) for v in PLANES[p])
    return (f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{lits}]::DOUBLE[]) > 0 THEN 1 ELSE 0 END")


def _oracle_table_bucket_sql(t: int) -> str:
    return " + ".join(
        f"{_oracle_sign_bit_sql(t * BITS_PER_TABLE + i)} * {1 << i}"
        for i in range(BITS_PER_TABLE)
    )


ORACLE_EMBED_ANN_BUCKETS = f"""
{" UNION ALL ".join(
    f"SELECT vec_id, CAST({t} AS BIGINT) AS lsh_table, "
    f"CAST({_oracle_table_bucket_sql(t)} AS BIGINT) AS bucket FROM embeddings"
    for t in range(N_TABLES)
)}
"""


def embed_ann_candidates(spark: SparkSession, sf_dir: str,
                         n_tables: int = N_TABLES) -> DataFrame:
    """Distinct LSH candidate pairs (pre-verify): bucket mates in ANY of
    the first ``n_tables`` tables, degenerate buckets star-degraded.
    This is the cost side of the recall/cost dial — every candidate
    pays one exact-cosine verification downstream."""
    return (
        lsh_candidate_pairs(
            embed_ann_buckets(spark, sf_dir, n_tables=n_tables),
            "lsh_table", "bucket", id_col="vec_id")
        .select(F.col("id_i").alias("vec_i"),
                F.col("id_j").alias("vec_j"))
        .distinct()
    )


def embed_neardup_pairs(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.3,
                        n_tables: int = N_TABLES) -> DataFrame:
    """Near-duplicate vector pairs: banded-LSH candidates (bucket mates
    in ANY table, deduplicated, degenerate buckets capped) verified by
    exact cosine >= threshold. On a corpus WITHOUT true near-duplicates
    (this synthetic one maxes at pairwise cosine 0.48) a well-tuned
    12-bit LSH correctly proposes (almost) nothing — that precision is
    the point at 10^9 rows; recall on real near-dups (cosine >= 0.95) is
    demonstrated by the planted-duplicate test in
    tests/test_dedup_similarity.py."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cand = embed_ann_candidates(spark, sf_dir, n_tables=n_tables)
    ei = emb.select(F.col("vec_id").alias("vec_i"),
                    F.col("embedding").alias("ei"),
                    _norm(F.col("embedding")).alias("ni"))
    ej = emb.select(F.col("vec_id").alias("vec_j"),
                    F.col("embedding").alias("ej"),
                    _norm(F.col("embedding")).alias("nj"))
    cos = _dot(F.col("ei"), F.col("ej")) / (F.col("ni") * F.col("nj"))
    return (
        cand.join(ei, "vec_i").join(ej, "vec_j")
        .select("vec_i", "vec_j", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-bucketed alternative to sign-LSH
# ---------------------------------------------------------------------------

#: FIXED coarse-quantizer size — independent of corpus size. Centroids =
#: the first IVF_N_CENTROIDS vectors (a deterministic stand-in for
#: k-means, which would not be engine-parity testable). A
#: corpus-proportional centroid set (the old every-50th-vector scheme)
#: makes assignment O(n²/step) and the centroid broadcast unbounded; a
#: fixed K keeps assignment O(nK) with a constant-size broadcast — on a
#: real deployment K ≈ sqrt(n) trained offline, still broadcastable.
IVF_N_CENTROIDS = 32
N_PROBE = 2          # query probes its 2 nearest centroids
IVF_TOP_K = 3


def _centroids(emb: DataFrame) -> DataFrame:
    # centroid norm precomputed once per centroid (K rows), not per
    # scored pair — same value, bit-identical cosine
    return emb.where(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce"),
        _norm(F.col("embedding")).alias("c_norm"))


def ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF build step: every vector assigned to its nearest centroid by
    cosine. Relational shape: broadcast the fixed-size centroid set, one
    corpus scan, then a groupBy(vec_id) MAX over (cos, -centroid_id)
    structs — an ordinary aggregate that partial-aggregates map-side
    (each task reduces its K candidate rows per vector before the
    exchange), unlike a row_number window which would shuffle and sort
    all n×K scored rows. Tie-break = lowest centroid_id, exactly the
    oracle's ORDER BY cos DESC, centroid_id."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scored = (
        emb.select("vec_id", "embedding",
                   _norm(F.col("embedding")).alias("e_norm"))
        .crossJoin(F.broadcast(_centroids(emb)))
        .select("vec_id", "centroid_id",
                (_dot(F.col("embedding"), F.col("ce"))
                 / (F.col("e_norm") * F.col("c_norm"))).alias("cos"))
    )
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct(
            F.col("cos").alias("cos"),
            (-F.col("centroid_id")).alias("neg_cid"),
        )).alias("m")
    )
    return best.select(
        "vec_id",
        (-F.col("m.neg_cid")).alias("centroid_id"),
        F.col("m.cos").alias("cosine"),
    )


_ORACLE_CENT_COS = """
list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
/ (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
   * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
"""

ORACLE_IVF_ASSIGN = f"""
WITH scored AS (
  SELECT e.vec_id, c.vec_id AS centroid_id,
         {_ORACLE_CENT_COS} AS cos
  FROM embeddings e
  JOIN embeddings c ON c.vec_id < {IVF_N_CENTROIDS}
), ranked AS (
  SELECT vec_id, centroid_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, centroid_id) AS rn
  FROM scored
)
SELECT vec_id, centroid_id, cos AS cosine FROM ranked WHERE rn = 1
"""


def ivf_topk(spark: SparkSession, sf_dir: str,
             n_probe: int = N_PROBE) -> DataFrame:
    """IVF probe: each query vector (vec_id < N_QUERIES) searches only the
    members of its ``n_probe`` nearest centroids' lists — exact cosine
    inside the probed cells, top IVF_TOP_K. At scale this scans
    |probe lists| instead of the corpus; the assignment table is the
    inverted file. ``n_probe`` is IVF's recall/cost dial (default = the
    registered 2-probe shape): more probed cells = higher recall, more
    exact-cosine work per query — measured curve in BENCH/BASELINE.md."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign = ivf_assign(spark, sf_dir).select("vec_id", "centroid_id")
    cents = _centroids(emb)

    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        _norm(F.col("embedding")).alias("q_norm"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qe", "q_norm", "centroid_id",
                (_dot(F.col("qe"), F.col("ce"))
                 / (F.col("q_norm") * F.col("c_norm"))).alias("ccos"))
        .withColumn("prn", F.row_number().over(probe_w))
        .where(F.col("prn") <= n_probe)
        .select("query_id", "qe", "q_norm", "centroid_id")
    )
    members = assign.join(
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("ne"),
                   _norm(F.col("embedding")).alias("n_norm")),
        assign.vec_id == F.col("neighbor_id"))
    scored = (
        probes.join(members, "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                (_dot(F.col("qe"), F.col("ne"))
                 / (F.col("q_norm") * F.col("n_norm"))).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= IVF_TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


ORACLE_IVF_TOPK = f"""
WITH assign AS ({ORACLE_IVF_ASSIGN}),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT e.vec_id AS query_id, c.vec_id AS centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_ORACLE_CENT_COS} DESC, c.vec_id) AS prn
    FROM embeddings e
    JOIN embeddings c ON c.vec_id < {IVF_N_CENTROIDS}
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE prn <= {N_PROBE}
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[]))))
           AS cosine
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings n ON n.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, rank, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {IVF_TOP_K}
"""


ORACLE_EMBED_NEARDUP = f"""
WITH b_all AS ({ORACLE_EMBED_ANN_BUCKETS}),
b AS (
  SELECT vec_id, lsh_table, bucket,
         count(*) OVER (PARTITION BY lsh_table, bucket) AS bn,
         min(vec_id) OVER (PARTITION BY lsh_table, bucket) AS bmin
  FROM b_all
),
cand AS (
  SELECT DISTINCT id_i AS vec_i, id_j AS vec_j
  FROM ({_oracle_pair_sql("b", "lsh_table", "bucket", id_col="vec_id")}
  )
)
SELECT cand.vec_i, cand.vec_j,
       list_dot_product(CAST(ei.embedding AS DOUBLE[]), CAST(ej.embedding AS DOUBLE[]))
       / (sqrt(list_dot_product(CAST(ei.embedding AS DOUBLE[]), CAST(ei.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(ej.embedding AS DOUBLE[]), CAST(ej.embedding AS DOUBLE[]))))
         AS cosine
FROM cand
JOIN embeddings ei ON ei.vec_id = cand.vec_i
JOIN embeddings ej ON ej.vec_id = cand.vec_j
WHERE list_dot_product(CAST(ei.embedding AS DOUBLE[]), CAST(ej.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(ei.embedding AS DOUBLE[]), CAST(ei.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(ej.embedding AS DOUBLE[]), CAST(ej.embedding AS DOUBLE[]))))
      >= 0.3
"""
