"""Hybrid retrieval: BM25 lexical + embedding cosine, RRF-fused.

The two retrieval families this repo already ships — the BM25
inverted index (fts.py; reference parity anchor: Lance's FTS index
family, rust/lib.rs dataset surface) and the vector index family
(similarity.py; the reference's `_indices/` vector support) — are
combined the way production RAG stacks do: run both arms, then fuse
with Reciprocal Rank Fusion (Cormack et al. 2009),

    rrf(d) = sum over arms of 1 / (RRF_K + rank_arm(d)),

which needs no score normalization across heterogeneous scales
(BM25 sums vs cosines) and is rank-only, hence integer-deterministic.

Scale shape (100 TB posture):
- each arm ends in a per-partition partial top-k, NOT a global sort
  shuffle: the lexical arm in ``orderBy(...).limit(RANK_CAP)``
  (Spark's TakeOrdered, a driver-side merge of RANK_CAP-row heaps),
  the vector arm in ``similarity.cosine_topk`` (per-batch top-k,
  then a window over those few rows). The lexical arm only ever
  aggregates postings for the query's terms; the vector arm is one
  Arrow pass over the corpus against a driver-held probe.
- ranking/fusion then run on two <=RANK_CAP-row frames — sub-task
  sized regardless of corpus scale.
- the indexed variant reads the persisted term-bucket inverted
  index (partition-pruned to the query terms' buckets) instead of
  re-tokenizing the corpus: at scale, a 3-term query touches
  <= 3/64 of postings and never the documents table.

Float discipline (oracle hash-exactness): ranks are integers with
explicit tie-breaks (score desc, doc_id asc); each arm's scores are
the proven-exact fts/similarity expressions. The fused score is
round(1/(RRF_K+rank), 6) per arm summed as DECIMAL(18,6) — and
because rank <= RANK_CAP, the rounding agreement between Spark's
HALF_UP and DuckDB's ROUND is verified EXHAUSTIVELY for every
reachable input in tests/test_hybrid.py (all 2*RANK_CAP values),
not assumed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load
from . import fts
from .similarity import cosine_topk

RRF_K = 60
RANK_CAP = 50  # per-arm candidate depth
HYBRID_TOP_K = 20
PROBE_VEC_ID = 0  # the query embedding: vec_id 0's vector


def _rank(topk: DataFrame, rank_col: str) -> DataFrame:
    """Attach 1-based ranks to an arm's already-limited top-k frame
    (score desc, doc_id asc — the same order the limit used). The
    window is driver-trivial: the input is <= RANK_CAP rows."""
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        "doc_id", F.row_number().over(w).alias(rank_col)
    )


def _lex_arm_direct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-RANK_CAP computed straight from the corpus — the
    ONE fts_bm25 pipeline at a deeper cut (r8 review: this used to
    be a verbatim copy of its body, a silent-desync hazard)."""
    return fts.fts_bm25(spark, sf_dir, k=RANK_CAP)


def _vec_arm(
    spark: SparkSession, sf_dir: str, doc_filter: str | None = None
) -> DataFrame:
    """Cosine top-RANK_CAP against the probe vector, scored by
    ``similarity.cosine_topk`` (the probe row itself excluded).
    ``doc_filter`` (r13): pre-filter — qualifying doc ids (doc_id
    == vec_id in this corpus) semi-join the candidates before the
    top-RANK_CAP cut."""
    emb = load(spark, sf_dir, "embeddings")
    probes = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") == PROBE_VEC_ID)
        .select("vec_id", "embedding")
        .collect()
    ]
    cand = emb
    if doc_filter is not None:
        qual = (
            load(spark, sf_dir, "documents")
            .where(doc_filter)
            .select(F.col("doc_id").alias("vec_id"))
        )
        cand = cand.join(qual, "vec_id", "left_semi")
    return cosine_topk(cand, "vec_id", "embedding", probes, RANK_CAP).select(
        F.col("neighbor_id").alias("doc_id"), F.col("cos_sim").alias("score")
    )


def _rrf_contrib(rank_col: str):
    """round(1/(RRF_K + rank), 6) as DECIMAL(18,6); 0 when the doc
    is absent from that arm. Exhaustively engine-checked per rank."""
    return F.coalesce(
        F.round(
            F.lit(1.0) / (F.lit(RRF_K) + F.col(rank_col)), 6
        ).cast("decimal(18,6)"),
        F.lit(0).cast("decimal(18,6)"),
    )


def _fuse(lex: DataFrame, vec: DataFrame) -> DataFrame:
    fused = lex.join(vec, "doc_id", "full_outer")
    return (
        fused.select(
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            (_rrf_contrib("lex_rank") + _rrf_contrib("vec_rank"))
            .cast("double")
            .alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(HYBRID_TOP_K)
    )


def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF-fused hybrid top-HYBRID_TOP_K for the fixed query
    (fts.QUERY_TERMS lexically, vec_id PROBE_VEC_ID's embedding
    vectorially), index-free. doc_id/vec_id align 1:1 in the
    testdata corpus (both 0..N-1 over the same documents)."""
    lex = _rank(_lex_arm_direct(spark, sf_dir), "lex_rank")
    vec = _rank(_vec_arm(spark, sf_dir), "vec_rank")
    return _fuse(lex, vec)


def hybrid_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same fused ranking served from the PERSISTED term-bucket
    inverted index (partition-pruned scan, corpus never touched on
    the lexical arm) — must reproduce ``hybrid_search`` bit-for-bit,
    so both share one oracle.

    r10: the index is REUSED when already built for this exact
    corpus; r11 moves the build-or-reuse policy into the shared
    ``fts.ensure_fts_index`` (one copy, absolute-path + doc_id
    content fingerprint in the marker — rationale there). The
    unconditional rmtree+rebuild this replaced charged the one-time
    build to every invocation, 12.2s vs the 4.2s index-FREE twin at
    sf1, inverting the index's story."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    index_dir = os.path.join("/tmp/lance_duckdb_spark", tag, "hybrid_fts_index")
    fts.ensure_fts_index(spark, sf_dir, index_dir)
    lex = _rank(
        fts.search_bm25(spark, index_dir, list(fts.QUERY_TERMS), k=RANK_CAP),
        "lex_rank",
    )
    vec = _rank(_vec_arm(spark, sf_dir), "vec_rank")
    return _fuse(lex, vec)


# ------------------------------------------------------------ oracle


def _strip_final_select(sql: str) -> str:
    """The FTS oracle is `WITH <ctes> SELECT <final>`; keep the CTE
    chain, replace the final top-k SELECT with a deeper one."""
    idx = sql.rindex("SELECT doc_id, COUNT(*) AS n_terms")
    return sql[:idx].rstrip().rstrip(",")


HYBRID_SEARCH_SQL = f"""
{_strip_final_select(fts.FTS_BM25_SQL)},
lex_scores AS (
  SELECT doc_id, COUNT(*) AS n_terms,
         CAST(ROUND(SUM(comp), 4) AS DOUBLE) AS score
  FROM comp GROUP BY doc_id
),
lex AS (
  SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
    FROM lex_scores
  ) WHERE lex_rank <= {RANK_CAP}
),
vec_scores AS (
  SELECT c.vec_id AS doc_id,
         list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) AS score
  FROM embeddings c, embeddings p
  WHERE p.vec_id = {PROBE_VEC_ID} AND c.vec_id != {PROBE_VEC_ID}
),
vec AS (
  SELECT doc_id, CAST(vec_rank AS INTEGER) AS vec_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS vec_rank
    FROM vec_scores
  ) WHERE vec_rank <= {RANK_CAP}
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       l.lex_rank, v.vec_rank,
       CAST(
         COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.lex_rank), 6)
                       AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6)))
         + COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) / ({RRF_K} + v.vec_rank), 6)
                         AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6)))
       AS DOUBLE) AS rrf_score
FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {HYBRID_TOP_K}
"""


# Filtered hybrid retrieval (r13): the RAG production shape — a
# metadata predicate rides the fused query. ~27% selectivity on the
# test corpus; BM25 statistics stay GLOBAL (see fts_bm25.doc_filter).
HYBRID_FILTER_PRED = "lang IN ('de', 'fr')"


def hybrid_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (r13): both arms pre-filtered by a documents
    predicate — the fused top-k ranks QUALIFYING docs only (each
    arm's RANK_CAP cut applies after its qualifying semi-join, so a
    doc outside the filter can never crowd a qualifying one out of
    either arm). Deterministic end to end, so the oracle replicates
    both filtered arms — hash-exact."""
    lex = _rank(
        fts.fts_bm25(
            spark, sf_dir, k=RANK_CAP, doc_filter=HYBRID_FILTER_PRED
        ),
        "lex_rank",
    )
    vec = _rank(
        _vec_arm(spark, sf_dir, doc_filter=HYBRID_FILTER_PRED),
        "vec_rank",
    )
    return _fuse(lex, vec)


HYBRID_SEARCH_FILTERED_SQL = f"""
{_strip_final_select(fts.FTS_BM25_SQL)},
qual AS (
  SELECT doc_id FROM documents WHERE lang IN ('de', 'fr')
),
lex_scores AS (
  SELECT doc_id, COUNT(*) AS n_terms,
         CAST(ROUND(SUM(comp), 4) AS DOUBLE) AS score
  FROM comp WHERE doc_id IN (SELECT doc_id FROM qual)
  GROUP BY doc_id
),
lex AS (
  SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
    FROM lex_scores
  ) WHERE lex_rank <= {RANK_CAP}
),
vec_scores AS (
  SELECT c.vec_id AS doc_id,
         list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) AS score
  FROM embeddings c, embeddings p
  WHERE p.vec_id = {PROBE_VEC_ID} AND c.vec_id != {PROBE_VEC_ID}
    AND c.vec_id IN (SELECT doc_id FROM qual)
),
vec AS (
  SELECT doc_id, CAST(vec_rank AS INTEGER) AS vec_rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS vec_rank
    FROM vec_scores
  ) WHERE vec_rank <= {RANK_CAP}
)
SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       l.lex_rank, v.vec_rank,
       CAST(
         COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.lex_rank), 6)
                       AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6)))
         + COALESCE(CAST(ROUND(CAST(1.0 AS DOUBLE) / ({RRF_K} + v.vec_rank), 6)
                         AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6)))
       AS DOUBLE) AS rrf_score
FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {HYBRID_TOP_K}
"""


QUERIES = {
    "hybrid_search": hybrid_search,
    "hybrid_search_indexed": hybrid_search_indexed,
    "hybrid_search_filtered": hybrid_search_filtered,
}

ORACLE = {
    "hybrid_search": HYBRID_SEARCH_SQL,
    "hybrid_search_indexed": HYBRID_SEARCH_SQL,
    "hybrid_search_filtered": HYBRID_SEARCH_FILTERED_SQL,
}
