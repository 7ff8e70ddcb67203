"""Batch KNN join: every row of a query RELATION gets its top-k
nearest neighbors from the vector corpus (SURVEY.md §2.C47).

This is the batch-retrieval shape a training-data pipeline actually
runs at 100 TB — "for each of these 10M new documents, find the 5
nearest existing embeddings" — and it is structurally different
from ``ann_ivf`` (similarity.py), whose query side is a constant
handful of driver-held probes. Here the query side is a large
relation (a fixed ~10% slice of the corpus in the driver query), so
nothing about it may be broadcast or collected:

- centroids (k_centroids rows) are the only driver-held vectors;
  ``nearest_centroids`` ranks every vector against them in one Arrow
  pass (linear work), and that one ranking serves both roles: a
  vector's KNN_ASSIGN nearest buckets as a corpus row and its
  KNN_NPROBE nearest as a query row. Past TWO_LEVEL_MIN_K centroids
  ``two_level_assign`` takes over, so the driver holds ~sqrt(k).
- per-bucket scoring is one ``applyInPandas`` over role-tagged
  bucket groups: one exchange hashed on ``centroid_id`` alone, then
  each bucket's query x corpus cosine matrix (the ``_fold`` of
  similarity.py) and each query's local top-k in the task, so only
  k slim rows per (query, bucket) leave it.
- per-query candidates are corpus/k * KNN_NPROBE * KNN_ASSIGN —
  bounded by the index geometry, not by corpus², so total work is
  O(|Q| * corpus/k * nprobe * assign).
- the final per-query top-k is a window over those slim
  (query_id, neighbor_id, cos_sim) rows, never vectors.

Reference parity anchor: the reference exposes Lance's vector
index family through its dataset surface (rust/lib.rs); a KNN join
is that surface applied to a relation of probes instead of one
literal probe vector.

Determinism / oracle: every step — seed centroids (the k lowest
vec_ids, standing in for a k-means fit exactly as ann_ivf
documents), nearest-bucket ranks with explicit tie-breaks
(similarity desc, centroid_id asc), in-bucket exact cosine, final
rank (cos_sim desc, neighbor_id asc) — is deterministic, so the
DuckDB oracle replicates the ALGORITHM and the driver row is
hash-exact, recall misses included. The registry's ``ann_knn_join``
and ``ann_knn_join_vectorized`` are both this operator, checked
against the same ``ANN_KNN_JOIN_SQL``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load
from .similarity import IVF_K

KNN_JOIN_K = 5     # neighbors per query row
KNN_NPROBE = 4     # buckets searched per query (ann_ivf's depth)
KNN_ASSIGN = 2     # corpus multi-assignment (the NDUP_ASSIGN remedy:
#                    boundary neighbors are caught via the second
#                    bucket; measured recall@5 0.72-0.76 vs 0.50-0.53
#                    single-assigned at the same nprobe on the random
#                    test corpus — uniform random 64-dim vectors are
#                    the worst case for any clustering index, real
#                    embedding corpora bucket far tighter)
KNN_QUERY_MOD = 10  # query relation: vec_id % 10 == 7 (~10% slice)
KNN_QUERY_REM = 7


ANN_KNN_JOIN_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
c AS (
  SELECT vec_id AS centroid_id, emb AS ce FROM e ORDER BY vec_id LIMIT {IVF_K}
),
assign AS (
  SELECT neighbor_id, centroid_id, ne FROM (
    SELECT e.vec_id AS neighbor_id, e.emb AS ne, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.emb, c.ce) DESC,
                 c.centroid_id ASC) AS crnk
    FROM e CROSS JOIN c) t
  WHERE crnk <= {KNN_ASSIGN}
),
q AS (
  SELECT vec_id AS query_id, emb AS qe FROM e
  WHERE vec_id % {KNN_QUERY_MOD} = {KNN_QUERY_REM}
),
qb AS (
  SELECT query_id, qe, centroid_id FROM (
    SELECT q.query_id, q.qe, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY list_cosine_similarity(q.qe, c.ce) DESC,
                 c.centroid_id ASC) AS brnk
    FROM q CROSS JOIN c) t
  WHERE brnk <= {KNN_NPROBE}
),
cand AS (
  SELECT DISTINCT qb.query_id, a.neighbor_id,
    list_cosine_similarity(qb.qe, a.ne) AS cos_sim
  FROM qb JOIN assign a USING (centroid_id)
  WHERE a.neighbor_id <> qb.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT query_id, neighbor_id, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
  FROM cand) t
WHERE rnk <= {KNN_JOIN_K}
ORDER BY query_id, rnk
"""


def ann_knn_join_vectorized(
    spark: SparkSession,
    sf_dir: str,
    k_centroids: int = IVF_K,
    coarse_m: int | None = None,
    probes: int | None = None,
    corpus_filter: str | None = None,
) -> DataFrame:
    """The batch KNN join (see the module docstring); the registry
    runs it as both ``ann_knn_join`` and ``ann_knn_join_vectorized``.

    k_centroids must scale with the corpus in production (k ~ n/500,
    exactly like ivf_neardup_pairs): per-query candidate work is
    corpus/k * nprobe * assign, so a FIXED k makes the join quadratic
    in corpus size — the r7 scale smoke measured exactly that (2e9
    candidate dots at 10x with k=16). The driver query keeps the
    IVF_K default because its oracle interpolates the same constant;
    the smoke runs this operator at the scaled k.

    ``corpus_filter`` (r13): a Spark-SQL row predicate over the
    embeddings table with PRE-filter semantics on the CORPUS side —
    "k nearest QUALIFYING neighbors per query row" (the curation
    shape: join each doc to its nearest high-quality/in-domain
    vectors). Qualifying ids semi-join the corpus role before
    bucket scoring, so the per-bucket local top-K and the global
    window rank qualifying candidates only; the query side stays
    unfiltered. Per-vector bucket assignment is independent of
    other rows, so filtering before or after assignment is
    equivalent — the oracle filters the assign CTE."""
    import math

    from ..materialize import spill_to_parquet
    from .similarity import (
        TWO_LEVEL_MIN_K,
        TWO_LEVEL_PROBES,
        nearest_centroids,
        two_level_assign,
    )

    emb = load(spark, sf_dir, "embeddings")
    n_keep = max(KNN_ASSIGN, KNN_NPROBE)
    if coarse_m is None and k_centroids >= TWO_LEVEL_MIN_K:
        # coarse-quantizer tier (r9 VERDICT item 1): at the k ~ n/500
        # rule the flat n*k assignment is O(n^2/500) and the driver
        # collect grows with the corpus — route through
        # two_level_assign, driver holds ~sqrt(k) coarse seeds only
        coarse_m = max(1, math.isqrt(k_centroids))
    if coarse_m:
        assigned = two_level_assign(
            spark,
            emb.select("vec_id", "embedding"),
            k_centroids,
            n_keep,
            coarse_m,
            probes or max(TWO_LEVEL_PROBES, KNN_NPROBE),
        )
    else:
        cents = [
            (r["vec_id"], r["embedding"])
            for r in emb.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(k_centroids)
            .collect()
        ]
        assigned = nearest_centroids(emb, "vec_id", "embedding", cents, n_keep)
    # the n*k assignment pass is THE cost this operator bounds — spill
    # it once so the two role filters in _knn_from_assigned read the
    # parquet stage instead of each re-running the assignment of the
    # whole corpus (the union's branches are distinct subtrees, so
    # ReuseExchange cannot deduplicate them). The spill backs the
    # returned frame and is swept by the session's spill lifecycle
    # (materialize.py).
    return _knn_from_assigned(
        spark,
        emb,
        spill_to_parquet(assigned, label="knn_assign"),
        corpus_filter=corpus_filter,
    )


def _knn_from_assigned(
    spark: SparkSession,
    emb: DataFrame,
    assigned: DataFrame,
    corpus_filter: str | None = None,
) -> DataFrame:
    """Shared ann_knn_join_vectorized tail over a spilled
    (vec_id, centroid_id, crnk) assignment (flat or two-level):
    role-tagged bucket scoring, pair dedupe, per-query top-k.
    ``corpus_filter`` restricts the CORPUS role to qualifying rows
    (pre-filter semantics; see ann_knn_join_vectorized)."""
    import numpy as np
    import pandas as pd

    from .similarity import _cos_matrix, _fold, _require_nonzero_norms

    corpus_role = assigned.where(F.col("crnk") <= KNN_ASSIGN).select(
        "vec_id", "centroid_id", F.lit(0).alias("role")
    )
    if corpus_filter is not None:
        corpus_role = corpus_role.join(
            emb.where(corpus_filter).select("vec_id"),
            "vec_id",
            "left_semi",
        )
    tagged = (
        corpus_role
        .unionByName(
            assigned.where(
                (F.col("vec_id") % KNN_QUERY_MOD == KNN_QUERY_REM)
                & (F.col("crnk") <= KNN_NPROBE)
            ).select("vec_id", "centroid_id", F.lit(1).alias("role"))
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )

    def score_bucket(pdf):
        is_q = pdf["role"].to_numpy() == 1
        if not is_q.any() or not (~is_q).any():
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cos_sim": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64",
                      "cos_sim": "float64"})
        X = np.array(list(pdf["embedding"]), dtype=np.float32).astype(
            np.float64
        )
        nrm = np.sqrt(_fold(X.T, X.T))
        _require_nonzero_norms(nrm)
        ids = pdf["vec_id"].to_numpy()
        qid, nid = ids[is_q], ids[~is_q]
        cos = _cos_matrix(X[is_q], nrm[is_q], X[~is_q], nrm[~is_q])
        # LOCAL top-K per query (r10 — the tier-4 disk fix): emitting
        # every bucket pair shipped ~bucket_size rows per (query,
        # probe) — a CONSTANT ~400x corpus blowup at the k~n/500
        # rule (8B pair rows / ~190 GB of shuffle at 20M vectors,
        # ENOSPC twice on this container). The global top-K of a
        # union is contained in the union of per-source top-Ks under
        # the SAME total order, so per-bucket top-KNN_JOIN_K by
        # (cos DESC, neighbor_id ASC) — a bucket never holds the
        # same neighbor twice, and cross-bucket duplicate pairs
        # carry equal cos — leaves the post-dedupe global window's
        # answer BIT-IDENTICAL while shuffling K rows per (query,
        # probe) instead of ~1000.
        self_mask = qid[:, None] == nid[None, :]
        cos_m = np.where(self_mask, -np.inf, cos)
        kk = min(KNN_JOIN_K, len(nid))
        order = np.lexsort(
            (np.broadcast_to(nid, cos_m.shape), -cos_m), axis=1
        )[:, :kk]
        rows = np.repeat(np.arange(len(qid)), kk)
        cols = order.reshape(-1)
        sel = cos_m[rows, cols]
        keep = np.isfinite(sel)  # drop the masked self-pairs
        return pd.DataFrame(
            {
                "query_id": qid[rows[keep]],
                "neighbor_id": nid[cols[keep]],
                "cos_sim": sel[keep],
            }
        )

    scored = (
        tagged.groupBy("centroid_id")
        .applyInPandas(
            score_bucket,
            schema="query_id long, neighbor_id long, cos_sim double",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= KNN_JOIN_K)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
        .orderBy("query_id", "rnk")
    )


def ann_knn_join_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (r13): the batch KNN join with a CORPUS-side
    predicate — every query row's top-k nearest QUALIFYING
    neighbors (label IN (2, 5), ~20% selectivity), the curation
    shape of r12 verdict item 1's filtered search. Runs the
    vectorized scale path with ``corpus_filter``; every step stays
    deterministic (same seed centroids, same tie-breaks, exact
    fold cosine), so the oracle replicates the ALGORITHM with the
    assign CTE filtered — hash-exact, no recall flag needed.
    Pre-filter semantics are what the hash proves: a post-filtered
    unfiltered join would return ~1 qualifying row per query where
    this returns the full k."""
    return ann_knn_join_vectorized(
        spark, sf_dir, corpus_filter="label IN (2, 5)"
    )


ANN_KNN_JOIN_FILTERED_SQL = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
c AS (
  SELECT vec_id AS centroid_id, emb AS ce FROM e ORDER BY vec_id LIMIT {IVF_K}
),
assign AS (
  SELECT neighbor_id, centroid_id, ne FROM (
    SELECT e.vec_id AS neighbor_id, e.emb AS ne, e.label, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.emb, c.ce) DESC,
                 c.centroid_id ASC) AS crnk
    FROM e CROSS JOIN c) t
  WHERE crnk <= {KNN_ASSIGN} AND label IN (2, 5)
),
q AS (
  SELECT vec_id AS query_id, emb AS qe FROM e
  WHERE vec_id % {KNN_QUERY_MOD} = {KNN_QUERY_REM}
),
qb AS (
  SELECT query_id, qe, centroid_id FROM (
    SELECT q.query_id, q.qe, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id
        ORDER BY list_cosine_similarity(q.qe, c.ce) DESC,
                 c.centroid_id ASC) AS brnk
    FROM q CROSS JOIN c) t
  WHERE brnk <= {KNN_NPROBE}
),
cand AS (
  SELECT DISTINCT qb.query_id, a.neighbor_id,
    list_cosine_similarity(qb.qe, a.ne) AS cos_sim
  FROM qb JOIN assign a USING (centroid_id)
  WHERE a.neighbor_id <> qb.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT query_id, neighbor_id, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
      ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
  FROM cand) t
WHERE rnk <= {KNN_JOIN_K}
ORDER BY query_id, rnk
"""


QUERIES = {
    "ann_knn_join": ann_knn_join_vectorized,
    "ann_knn_join_vectorized": ann_knn_join_vectorized,
    "ann_knn_join_filtered": ann_knn_join_filtered,
}
ORACLE = {
    "ann_knn_join": ANN_KNN_JOIN_SQL,
    "ann_knn_join_vectorized": ANN_KNN_JOIN_SQL,
    "ann_knn_join_filtered": ANN_KNN_JOIN_FILTERED_SQL,
}
