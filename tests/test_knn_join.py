"""Batch KNN join (operators/knn_join.py): planted-geometry
semantics, the 100 TB plan shape (bucket scoring behind one exchange
hashed on the bucket id alone), recall vs the exact answer on the
real corpus, and oracle equality at a non-default centroid count.
Oracle equality at the registry's settings is covered by
test_correctness.py."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from lance_duckdb_spark.operators import knn_join
from lance_duckdb_spark.operators.similarity import IVF_K
from lance_duckdb_spark.plans.checks import executed_plan

from .oracle import duckdb_connection


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """IVF_K well-separated axis clusters, 8 vectors each (the
    centroid seed = the cluster's axis vector, since seeds are the
    lowest vec_ids): member j of cluster c is the axis vector e_c
    tilted by j*0.02 in a per-cluster companion plane, so in-cluster
    cosines are near 1 and cross-cluster cosines near 0. Every
    vector's true top neighbors therefore sit in its own bucket, and
    vec_id % 10 == 7 queries hit several distinct clusters."""
    d = tmp_path_factory.mktemp("knn_sf")
    n_per = 8
    ids, vecs = [], []
    for c in range(IVF_K):
        for j in range(n_per):
            vid = c if j == 0 else IVF_K + (c * (n_per - 1)) + (j - 1)
            v = [0.0] * 64
            v[c] = 1.0
            if j:
                v[(c + IVF_K) % 64] = 0.02 * j
            ids.append(vid)
            vecs.append(v)
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    emb = pa.table(
        {
            "vec_id": pa.array([ids[i] for i in order], pa.int64()),
            "embedding": pa.array(
                [vecs[i] for i in order], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(ids), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(str(d), "embeddings.parquet"))
    return str(d)


def test_knn_join_planted_neighbors(spark, planted_dir):
    out = knn_join.ann_knn_join_vectorized(spark, planted_dir).collect()
    assert out, "query slice must be non-empty"
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(r)
    # per-query contract: exactly KNN_JOIN_K rows, ranks 1..K,
    # scores non-increasing, no self-pairs
    for qid, rows in got.items():
        assert qid % knn_join.KNN_QUERY_MOD == knn_join.KNN_QUERY_REM
        assert [r["rnk"] for r in rows] == list(
            range(1, knn_join.KNN_JOIN_K + 1)
        )
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rows)
    # geometry: every query's nearest neighbor is in-cluster —
    # cos >= 0.99 (cross-cluster pairs sit near 0)
    for qid, rows in got.items():
        assert rows[0]["cos_sim"] > 0.99, (qid, rows[0])


def test_knn_join_plan_is_shuffle_hash_on_bucket(spark, planted_dir):
    """Bucket scoring sits behind ONE exchange hashed on centroid_id
    alone: both roles of a bucket meet in one task, no vector is
    broadcast or re-joined per pair, and no wider key (which would
    split a bucket's rows) is hashed."""
    plan = executed_plan(knn_join.ann_knn_join_vectorized(spark, planted_dir))
    keys = [
        ln.split("hashpartitioning(")[1].rsplit(",", 1)[0]
        for ln in plan.splitlines()
        if "hashpartitioning(" in ln and "centroid_id" in ln
    ]
    assert keys, plan
    for k in keys:
        assert k.startswith("centroid_id#") and k.count("#") == 1, plan
    for ln in plan.splitlines():
        if "BroadcastHashJoin" in ln:
            assert "centroid_id" not in ln, ln


def test_knn_join_recall_vs_exact(spark, sf_dir):
    """On the real corpus the nprobe=4/K=16 geometry must keep
    recall@5 against the exact answer >= 0.7 (same bound family as
    the IVF search ops; measured ~0.8-0.95 across sf0.001-0.1)."""
    from lance_duckdb_spark.operators.similarity import cosine_topk
    from lance_duckdb_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(
            F.col("vec_id") % knn_join.KNN_QUERY_MOD == knn_join.KNN_QUERY_REM
        ).collect()
    ]
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in cosine_topk(
            emb, "vec_id", "embedding", queries, knn_join.KNN_JOIN_K
        ).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_join.ann_knn_join_vectorized(spark, sf_dir).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.7


def test_vectorized_variant_scaled_k(spark, sf_dir):
    """At a non-default centroid count the operator still matches the
    DuckDB oracle formatted with that count — the smoke runs it at
    k ~ n/500, so oracle equality must not be an artifact of
    k == IVF_K."""
    sql = knn_join.ANN_KNN_JOIN_SQL
    assert sql.count(f"LIMIT {IVF_K}\n") == 1
    con = duckdb_connection(sf_dir)
    want = sorted(con.execute(sql.replace(f"LIMIT {IVF_K}\n", "LIMIT 32\n")).fetchall())
    con.close()
    got = sorted(
        map(
            tuple,
            knn_join.ann_knn_join_vectorized(
                spark, sf_dir, k_centroids=32
            ).collect(),
        )
    )
    assert want and got == want


def test_zero_norm_vectors_refused_by_both_forms(spark, tmp_path):
    """Zero-norm embeddings make cosine undefined (0/0). Both the
    flat and the two-level assignment must FAIL LOUDLY on a zero
    vector — the flat tier's Arrow kernel with ANSI DIVIDE_BY_ZERO,
    as the SQL would, the two-level tier's numpy shapes through
    _require_nonzero_norms — rather than rank NaN cosines."""
    n_per = 8
    ids, vecs = [], []
    for c in range(IVF_K):
        for j in range(n_per):
            vid = c if j == 0 else IVF_K + (c * (n_per - 1)) + (j - 1)
            v = [0.0] * 64
            v[c] = 1.0
            if j:
                v[(c + IVF_K) % 64] = 0.02 * j
            ids.append(vid)
            vecs.append(v)
    # zero-norm corpus member (not a seed, not a query slice id)
    ids.append(9990)
    vecs.append([0.0] * 64)
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    emb = pa.table(
        {
            "vec_id": pa.array([ids[i] for i in order], pa.int64()),
            "embedding": pa.array(
                [vecs[i] for i in order], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(ids), pa.int32()),
        }
    )
    d = str(tmp_path / "zn")
    os.makedirs(d)
    pq.write_table(emb, os.path.join(d, "embeddings.parquet"))

    with pytest.raises(Exception, match="zero-norm embedding"):
        knn_join.ann_knn_join_vectorized(spark, d).collect()
    # the scale (two-level) tier refuses too
    with pytest.raises(Exception, match="zero-norm embedding"):
        knn_join.ann_knn_join_vectorized(
            spark, d, k_centroids=256
        ).collect()


def test_knn_join_filtered_corpus_predicate(spark, sf_dir):
    """r13: corpus-side pre-filter — every neighbor satisfies the
    predicate, every query still gets the full k (qualifying
    candidates fill the window), and a post-filter of the
    unfiltered join provably under-returns."""
    from pyspark.sql import functions as F

    from lance_duckdb_spark.operators.knn_join import (
        KNN_JOIN_K,
        ann_knn_join_filtered,
        ann_knn_join_vectorized,
    )
    from lance_duckdb_spark.tables import load

    labels = {
        r["vec_id"]: r["label"]
        for r in load(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    got = ann_knn_join_filtered(spark, sf_dir).collect()
    assert all(labels[r["neighbor_id"]] in (2, 5) for r in got)
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == KNN_JOIN_K for v in per_q.values())
    unfiltered = ann_knn_join_vectorized(spark, sf_dir).collect()
    post = [r for r in unfiltered if labels[r["neighbor_id"]] in (2, 5)]
    assert len(post) < len(got)
