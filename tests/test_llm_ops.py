"""Quality assertions for the approximate LLM-pipeline operators.

The DuckDB oracles check the *algorithms* deterministically; these
tests check the algorithms are *good*: LSH recall against exact
similarity, and IVF recall against brute force.
"""

from __future__ import annotations

from lance_duckdb_spark.operators import dedup, similarity

from .oracle import duckdb_connection


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    con = duckdb_connection(sf_dir)
    exact = con.execute(
        """
        WITH sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, len(string_split(trim(text), ' ')) - 1),
            i -> string_split(trim(text), ' ')[i] || ' ' ||
                 string_split(trim(text), ' ')[i+1] || ' ' ||
                 string_split(trim(text), ' ')[i+2]))) AS shingle
          FROM documents),
        sizes AS (SELECT doc_id, COUNT(*) sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id da, b.doc_id db, COUNT(*) ni
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT da, db FROM inter
        JOIN sizes za ON za.doc_id = da JOIN sizes zb ON zb.doc_id = db
        WHERE CAST(ni AS DOUBLE) / (za.sz + zb.sz - ni) >= 0.5
        """
    ).fetchall()
    con.close()
    exact_pairs = {(a, b) for a, b in exact}
    assert exact_pairs, "corpus has no strong near-dup pairs; weak test"
    got = dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    got_pairs = {(r.doc_a, r.doc_b) for r in got}
    recall = len(exact_pairs & got_pairs) / len(exact_pairs)
    # LSH with 8 bands x 4 rows: P(catch) at jac 0.5 is ~0.4 per
    # pair but the planted near-dups sit far above threshold
    assert recall >= 0.9, f"minhash recall {recall} on {len(exact_pairs)} pairs"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    exact = similarity.ann_topk_bruteforce(spark, sf_dir).collect()
    approx = similarity.ann_ivf(spark, sf_dir).collect()
    exact_set = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_set = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"ann_ivf recall {recall}"


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    pairs = dedup.dedup_simhash(spark, sf_dir).collect()
    for r in pairs:
        assert r.hamming <= dedup.HAMMING_T


def test_embedding_lsh_recall_vs_exact(spark, sf_dir):
    exact = {
        (r.vec_a, r.vec_b)
        for r in similarity.embedding_neardup(spark, sf_dir).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b)
        for r in similarity.lsh_neardup_pairs(spark, sf_dir).collect()
    }
    assert exact, "no exact near-dup pairs; weak test"
    # LSH must be a subset (same verification threshold) with
    # reasonable recall on the cos>=0.4 pairs
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.65, f"embedding LSH recall {recall}"


def test_ann_ivf_indexed_recall_and_pruning(spark, sf_dir):
    """Persistent-index ANN: recall vs brute force, partition
    pruning of the postings scan, and the staleness guard."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import vector_index as vi

    exact = similarity.ann_topk_bruteforce(spark, sf_dir).collect()
    # ann_ivf_indexed builds the index as a side effect and (r5)
    # returns the exact top-k plus the hashed recall flag
    flagged = similarity.ann_ivf_indexed(spark, sf_dir).collect()
    assert all(r.ivf_recall_ok for r in flagged)

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join("/tmp/lance_duckdb_spark", tag, "ivfindex.lance")

    # the tighter direct recall assertion against the raw index search
    probes10 = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < similarity.N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), "embedding")
    )
    approx = vi.ann_search(
        spark, root, probes10, k_neighbors=similarity.TOP_K, nprobe=6
    ).collect()
    exact_set = {(r.probe_id, r.neighbor_id) for r in exact}
    approx_set = {(r.probe_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"ann_ivf_indexed recall {recall}"

    # the postings scan is partition-pruned to the probed buckets
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    res = vi.ann_search(spark, root, probes, k_neighbors=5, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "bucket_id" in plan  # partition filter present on the scan

    # staleness: appending to the dataset invalidates the index
    emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    ).write.format("lance").mode("append").save(root)
    with pytest.raises(vi.StaleIndexError):
        vi.ann_search(spark, root, probes)
    # but the indexed snapshot stays searchable explicitly
    assert (
        vi.ann_search(spark, root, probes, allow_stale=True).count() > 0
    )


def test_high_dim_dot_bit_exact(spark):
    """pair_cosine at production dims (1024): no per-dimension SQL
    expression to outgrow, and every score is the dot summed left to
    right in float64 over the norms summed the same way, clamped to
    [-1, 1] — the fold DuckDB runs."""
    import numpy as np
    from pyspark.sql import functions as F

    from lance_duckdb_spark.operators.similarity import pair_cosine

    rng = np.random.RandomState(7)
    n, dim = 60, 1024
    mat = rng.rand(n, dim).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    probe = df.where("vec_id = 0").select(F.col("embedding").alias("p"))
    got = (
        pair_cosine(df.crossJoin(F.broadcast(probe)), "embedding", "p", dim)
        .select("vec_id", "cos_sim")
        .orderBy("vec_id")
        .collect()
    )
    X = mat.astype(np.float64)
    P = np.broadcast_to(X[0], X.shape)

    def fold(a, b):
        acc = a[:, 0] * b[:, 0]
        for i in range(1, dim):
            acc = acc + a[:, i] * b[:, i]
        return acc

    want = np.clip(fold(X, P) / (np.sqrt(fold(X, X)) * np.sqrt(fold(P, P))), -1.0, 1.0)
    assert len(got) == n
    assert [r.cos_sim for r in got] == want.tolist(), "kernel diverged from the fold"


def test_ivf_build_high_dim_and_distributed_init(spark, tmp_path):
    """Regression (r4): IVF build at production dims (1024) — the
    bucket means go through the two-stage Arrow partial-sum path —
    and the deterministic init is a distributed TakeOrdered, not a
    single-partition global Window."""
    import numpy as np
    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import vector_index as vi
    from lance_duckdb_spark.sources.datasource import register

    register(spark)
    rng = np.random.RandomState(11)
    n, dim, k = 120, 1024, 4
    mat = rng.rand(n, dim).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    root = str(tmp_path / "hd.lance")
    df.write.format("lance").mode("overwrite").save(root)

    # init plan shape: distributed top-k, no global-sort exchange
    plan = (
        df.orderBy("vec_id")
        .limit(k)
        .select("embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan

    # lloyd_iters=0 isolates the init: centroids ARE the k lowest-id
    # vectors, deterministically ordered
    meta0 = vi.build_ivf_index(
        spark, root, k=k, lloyd_iters=0
    )
    C0 = np.array(meta0["centroids"])
    assert C0.shape == (k, dim)
    np.testing.assert_array_equal(C0, mat[:k].astype(np.float64))

    # a refinement round exercises the high-dim Arrow mean path
    meta = vi.build_ivf_index(spark, root, k=k, lloyd_iters=1)
    C = np.array(meta["centroids"])
    assert C.shape == (k, dim) and not np.array_equal(C, C0)

    probes = df.where("vec_id < 2").select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    res = vi.ann_search(spark, root, probes, k_neighbors=3, nprobe=2)
    rows = res.collect()
    assert {r.probe_id for r in rows} == {0, 1}
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in rows)


def test_image_decoder_crafted_payloads():
    """Real decode asserted on crafted payloads: PGM with header
    comments, PPM, 8-bit BMP round-trip (bottom-up rows + padding),
    24-bit BMP, and loud failures on garbage."""
    import numpy as np
    import pytest

    from lance_duckdb_spark.operators.multimodal import (
        decode_image,
        encode_bmp_gray8,
    )

    # PGM with comment lines in the header
    pgm = b"P5\n# a comment\n3 2\n# another\n255\n" + bytes(range(6))
    img = decode_image(pgm)
    assert (img["width"], img["height"], img["channels"]) == (3, 2, 1)
    assert img["pixels"] == bytes(range(6))

    # PPM: 2x1 RGB
    ppm = b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 255, 0])
    img = decode_image(ppm)
    assert (img["width"], img["height"], img["channels"]) == (2, 1, 3)
    assert img["pixels"] == bytes([255, 0, 0, 0, 255, 0])

    # 8-bit BMP round-trip: 5 wide (stride pads to 8), 3 high
    pixels = bytes(range(15))
    bmp = encode_bmp_gray8(5, 3, pixels)
    img = decode_image(bmp)
    assert (img["width"], img["height"], img["channels"]) == (5, 3, 1)
    assert img["pixels"] == pixels  # padding stripped, rows re-flipped
    assert float(np.frombuffer(img["pixels"], np.uint8).mean()) == 7.0

    # 24-bit BMP, 1x1, crafted by hand (BGR order preserved raw)
    import struct

    data_off = 54
    hdr = struct.pack("<2sIHHI", b"BM", data_off + 4, 0, 0, data_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 0, 0, 0, 0
    )
    bmp24 = hdr + info + bytes([10, 20, 30, 0])  # 1 px + 1 pad byte
    img = decode_image(bmp24)
    assert (img["width"], img["height"], img["channels"]) == (1, 1, 3)
    assert img["pixels"] == bytes([10, 20, 30])

    with pytest.raises(ValueError, match="unknown image magic"):
        decode_image(b"GIF89a")
    with pytest.raises(ValueError, match="truncated PNM"):
        decode_image(b"P5\n10 10\n255\nshort")
    with pytest.raises(ValueError, match="unsupported BMP"):
        decode_image(hdr + struct.pack(
            "<IiiHHIIiiII", 40, 1, 1, 1, 24, 1, 4, 0, 0, 0, 0
        ) + b"\x00" * 4)


def test_multimodal_pipeline_decodes_real_payloads(spark, sf_dir):
    """The pipeline's per-image features come from a genuine PGM
    parse of the synthesized payloads — width == n_pixels == text
    byte length, mean_pixel equals the text's mean byte value."""
    import numpy as np

    from lance_duckdb_spark.operators import multimodal as mm
    from lance_duckdb_spark.tables import load

    docs = load(spark, sf_dir, "documents").limit(5)
    feats = (
        mm.as_media_table(docs)
        .mapInPandas(mm._decode_batch, schema=mm._FEATURE_SCHEMA)
        .collect()
    )
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == 5
    for r in feats:
        raw = texts[r.doc_id].encode("utf-8")
        assert r.width == len(raw) and r.height == 1
        assert r.n_pixels == len(raw)
        assert r.mean_pixel == float(
            np.frombuffer(raw, np.uint8).mean()
        )


def test_ngram_jaccard_survives_null_text(spark, sf_dir, tmp_path):
    """NULL text must be DROPPED (the oracle's WHERE len(text) >= N
    NULL-comparison semantics), not crash the shingler stage (r5
    review finding)."""
    import shutil

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(30)
        .toPandas()
    )
    docs.loc[docs.index[:2], "text"] = None
    corpus = tmp_path / "nulls"
    corpus.mkdir()
    # mirror the sf layout so the operator loads it like a corpus
    import pandas as pd  # noqa: F401

    docs.to_parquet(str(corpus / "documents.parquet"))
    out = dedup.ngram_jaccard(spark, str(corpus))
    got = out.collect()  # must not raise; NULL-text docs absent
    null_ids = set(docs[docs["text"].isna()]["doc_id"])
    assert not any(
        r.doc_a in null_ids or r.doc_b in null_ids for r in got
    )


def test_ann_search_exclude_self_flag(spark, sf_dir):
    """With probes drawn from the dataset, exclude_self=False must
    surface the trivial self-match at rank 1 (and the default True
    must not) — the id-namespace contract made explicit in r5."""
    import os

    from pyspark.sql import functions as F

    from lance_duckdb_spark.sources import vector_index as vi

    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join("/tmp/lance_duckdb_spark", tag, "ivfindex.lance")
    if not os.path.exists(vi._index_meta_path(root)):
        similarity.ann_ivf_indexed(spark, sf_dir)  # builds the index
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    with_self = vi.ann_search(
        spark, root, probes, k_neighbors=3, nprobe=4,
        allow_stale=True, exclude_self=False,
    ).collect()
    top1 = {r.probe_id: r.neighbor_id for r in with_self if r.rnk == 1}
    assert top1 == {0: 0, 1: 1}
    without = vi.ann_search(
        spark, root, probes, k_neighbors=3, nprobe=4, allow_stale=True
    ).collect()
    assert all(r.neighbor_id != r.probe_id for r in without)


def test_ivf_neardup_planted_duplicates_recall(spark, tmp_path):
    """The IVF near-dup scale path must find planted TRUE duplicates
    (cos 0.95 copies — the workload shape embedding dedup exists
    for) with high recall, at a bucket count scaled to corpus size.
    Built on a corpus of isotropic noise + planted copies, exactly
    how the sfd smoke corpora are constructed."""
    import os

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    n, dim, every = 3000, 64, 20
    X = rng.standard_normal((n, dim)).astype(np.float32)
    base = np.arange(0, n, every)
    V = X[base].astype(np.float64)
    G = rng.standard_normal(V.shape)
    vn = np.linalg.norm(V, axis=1, keepdims=True)
    Gp = G - (np.sum(G * V, axis=1, keepdims=True) / vn**2) * V
    Gp *= vn / np.linalg.norm(Gp, axis=1, keepdims=True)
    th = np.arccos(0.95)
    copies = (V * np.cos(th) + Gp * np.sin(th)).astype(np.float32)
    all_vecs = np.vstack([X, copies])
    sf = str(tmp_path / "planted")
    os.makedirs(sf)
    pd.DataFrame(
        {
            "vec_id": np.arange(len(all_vecs), dtype=np.int64),
            "embedding": list(all_vecs),
            "label": np.zeros(len(all_vecs), dtype=np.int32),
        }
    ).to_parquet(f"{sf}/embeddings.parquet")

    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.ivf_neardup_pairs(
            spark, sf, threshold=0.8, k=max(16, len(all_vecs) // 500)
        ).collect()
    }
    planted = {(int(b), int(n + i)) for i, b in enumerate(base)}
    assert got <= planted | got  # sanity
    recall = len(got & planted) / len(planted)
    # rank-2 assignment catches same-cluster copies and most
    # boundary splits; misses are the documented residual
    assert recall >= 0.85, f"planted-dup recall {recall}"
    # no false positives at 6.4-sigma threshold on isotropic noise
    assert got <= planted


def test_two_level_equals_flat_at_coarse_one(spark, sf_dir):
    """coarse_m=1, probes=1 degenerates the two-level assignment to
    the flat one (the single cell holds every fine centroid and
    every vector probes it), so the pair set must be IDENTICAL —
    the equivalence that pins the two-level machinery's cosine fold,
    tie-breaks, and rank cut to the proven flat semantics."""
    flat = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in similarity.ivf_neardup_pairs(spark, sf_dir).collect()
    }
    two = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in similarity.ivf_neardup_pairs(
            spark, sf_dir, coarse_m=1, probes=1
        ).collect()
    }
    assert two == flat


def _planted_corpus(tmp_path, n=2000, dim=64, every=20, seed=11):
    import os

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, dim)).astype(np.float32)
    base = np.arange(0, n, every)
    V = X[base].astype(np.float64)
    G = rng.standard_normal(V.shape)
    vn = np.linalg.norm(V, axis=1, keepdims=True)
    Gp = G - (np.sum(G * V, axis=1, keepdims=True) / vn**2) * V
    Gp *= vn / np.linalg.norm(Gp, axis=1, keepdims=True)
    th = np.arccos(0.95)
    copies = (V * np.cos(th) + Gp * np.sin(th)).astype(np.float32)
    all_vecs = np.vstack([X, copies])
    sf = str(tmp_path / "planted2l")
    os.makedirs(sf)
    pd.DataFrame(
        {
            "vec_id": np.arange(len(all_vecs), dtype=np.int64),
            "embedding": list(all_vecs),
            "label": np.zeros(len(all_vecs), dtype=np.int32),
        }
    ).to_parquet(f"{sf}/embeddings.parquet")
    planted = {(int(b), int(n + i)) for i, b in enumerate(base)}
    return sf, planted


def test_two_level_planted_duplicates_recall(spark, tmp_path):
    """The coarse-quantizer tier must keep finding planted true
    duplicates: near-identical vectors probe the same coarse cells,
    so the two-level routing preserves the dedup workload's recall
    (the r9 verdict's done-criterion for the third scale decade)."""
    import math

    sf, planted = _planted_corpus(tmp_path)
    k = max(16, (2 * 2000 + 100) // 25)  # force a real fine tier
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.ivf_neardup_pairs(
            spark, sf, threshold=0.8, k=k,
            coarse_m=max(1, math.isqrt(k)), probes=4,
        ).collect()
    }
    recall = len(got & planted) / len(planted)
    assert recall >= 0.8, f"two-level planted-dup recall {recall}"
    assert got <= planted  # no false positives at 6.4 sigma


def test_two_level_broadcast_equals_cogroup(spark, sf_dir, monkeypatch):
    """The bounded-broadcast tier and the cogroup tier of
    two_level_assign must be BIT-IDENTICAL (same candidates, same
    fold cosines, same tie-breaks) — the equivalence that lets the
    byte gate pick purely on shuffle economics."""
    from lance_duckdb_spark.tables import load as _load

    emb = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    kw = dict(k=16, keep_n=2, coarse_m=4, probes=2)
    bcast = {
        tuple(r)
        for r in similarity.two_level_assign(spark, emb, **kw).collect()
    }
    monkeypatch.setattr(similarity, "TWO_LEVEL_BROADCAST_BYTES", 0)
    cog = {
        tuple(r)
        for r in similarity.two_level_assign(spark, emb, **kw).collect()
    }
    assert bcast == cog and len(bcast) > 0


def test_knn_vectorized_two_level_topk(spark, sf_dir):
    """Two-level KNN join: per-query top-k comes back well-formed
    (k rows per query, rnk contiguous, cos within [-1,1]) and every
    neighbor really is in the corpus."""
    from lance_duckdb_spark.operators import knn_join

    out = knn_join.ann_knn_join_vectorized(
        spark, sf_dir, k_centroids=16, coarse_m=4, probes=4
    ).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert -1.0 <= r.cos_sim <= 1.0
        assert r.neighbor_id != r.query_id
    for q, rows in by_q.items():
        assert [r.rnk for r in sorted(rows, key=lambda r: r.rnk)] == list(
            range(1, len(rows) + 1)
        )
        assert len(rows) <= knn_join.KNN_JOIN_K


def test_lsh_diagnostic_refuses_large_corpus(spark, sf_dir, monkeypatch):
    """The quarantine guard (r8 VERDICT item 3): the sign-RP LSH
    recall diagnostic must refuse corpora past its documented bound
    and name embedding_neardup_ivf as the scale path."""
    import pytest

    monkeypatch.setattr(similarity, "LSH_DIAGNOSTIC_MAX_CORPUS", 1)
    with pytest.raises(ValueError, match="embedding_neardup_ivf"):
        similarity.embedding_neardup_lsh(spark, sf_dir).collect()


def test_pipeline_compose_no_shuffle_carries_text(spark, sf_dir, capsys):
    """The composed filter->dedup->pack frame must drop the document
    body at the FIRST projection: fingerprint + token count are
    computed in the scan stage, so no Exchange / Window /
    FlatMapGroupsInPandas node re-materializes ``text`` (r10 verdict
    item 7's plan assertion — at 100 TB a shuffle carrying bodies is
    the difference between moving hashes and moving the corpus)."""
    import re

    from lance_duckdb_spark.operators.pipeline import _packed_frame

    df = _packed_frame(spark, sf_dir)
    df.explain(mode="formatted")
    plan = capsys.readouterr().out
    assert "Exchange" in plan and "FlatMapGroupsInPandas" in plan
    for block in re.split(r"\n\(\d+\) ", plan):
        head = block.split("\n", 1)[0]
        if any(
            k in head
            for k in ("Exchange", "Window", "FlatMapGroupsInPandas", "Sort")
        ):
            assert "text#" not in block, f"text flows through: {head}"
