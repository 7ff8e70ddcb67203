"""Embedding similarity operators (SURVEY.md §2.C5-C7): near-duplicate
pairs, brute-force ANN top-k, and an IVF-bucketed ANN scale path.

Numeric discipline: every exact cosine is ``_fold`` — the dot product
summed left to right in float64 — over the norms folded the same
way, then clamped to [-1, 1]. That is bit-identical to DuckDB's
``list_cosine_similarity(CAST(x AS DOUBLE[]), ...)`` (verified: 14.5k
pairs, 0 ulps apart), so thresholds and ranks compare identical
doubles in both engines. Three Arrow kernels carry it:
``cosine_topk`` (a probe set's top-k over a corpus),
``nearest_centroids`` (each row's nearest centroids) and
``pair_cosine`` (the cosine of two columns of a row). The bucket
tasks (``_bucket_pairs``, ``two_level_assign``) run the same fold in
numpy. A BLAS matmul never produces a returned score: it only builds
approximate indexes and prefilters pairs at a proven-lossless margin.

Scale notes (100 TB / billions of vectors):
- ``embedding_neardup`` broadcasts the corpus matrix and streams the
  probes; the exact top-k queries (``cosine_topk``) stream the corpus
  once through Arrow against a driver-held probe set — no shuffle of
  the vector corpus; exact answers.
- ``ann_ivf`` is the scale path: vectors are assigned to their
  nearest of K deterministic centroids (one Arrow pass), probes
  search only the nearest IVF_NPROBE buckets — candidate set is
  corpus/K·IVF_NPROBE per probe, and bucket ids are partition-prunable
  on disk. Recall vs brute force is asserted in tests (≥0.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..materialize import spill_to_parquet
from ..tables import load


DIM = 64  # embedding dimensionality of the test corpus


# -- exact cosine kernels (see the module docstring) -------------------------

# per-batch score matrix bound (rows x probes or rows x centroids):
# larger shapes are scored in chunks, so a batch never holds more
# than this many float64 scores at once
_CELLS = 1 << 22
# centroids scored per block by nearest_centroids: each block's best
# ``keep`` are merged, and the global best ``keep`` are in that union
_CENTROID_BLOCK = 4096


def _ansi(spark: SparkSession) -> bool:
    return spark.conf.get("spark.sql.ansi.enabled", "true").lower() == "true"


def _vector_block(col, dim: int, ansi: bool):
    """(float64 matrix [dim, n], null mask [n]) of an Arrow list
    column: row r's first ``dim`` elements, read through the list
    offsets so a null element stays null (``flatten().reshape`` would
    turn it into NaN, which the clamp maps to 1.0, not -1.0). A row is
    null when the list is null or one of its first ``dim`` elements
    is. A shorter non-null list raises under ANSI, as ``v[i]`` does;
    without ANSI its missing terms are null, so its row is null."""
    import numpy as np
    import pyarrow as pa

    n = len(col)
    offsets = col.offsets.to_numpy()
    lengths = offsets[1:] - offsets[:-1]
    row_null = col.is_null().to_numpy(zero_copy_only=False)
    short = ~row_null & (lengths < dim)
    if ansi and short.any():
        got = int(lengths[short].min())
        raise IndexError(
            f"[INVALID_ARRAY_INDEX] The index {got} is out of bounds. "
            f"The array has {got} elements; the cosine kernels read the "
            f"first {dim} (ANSI GetArrayItem semantics)"
        )
    take = ~row_null & ~short
    values = col.values
    flat = values.cast(pa.float64()).to_numpy(zero_copy_only=False)
    elem_null = values.is_null().to_numpy(zero_copy_only=False)
    idx = offsets[:-1][take][None, :] + np.arange(dim)[:, None]
    mat = np.zeros((dim, n))
    mat[:, take] = flat[idx]
    null = ~take
    null[take] |= elem_null[idx].any(axis=0)
    return mat, null


def _driver_block(vectors, dim: int, ansi: bool):
    """(matrix [dim, n], null mask, norms) of driver-held vectors."""
    import numpy as np
    import pyarrow as pa

    mat, null = _vector_block(
        pa.array(list(vectors), type=pa.list_(pa.float64())), dim, ansi
    )
    return mat, null, np.sqrt(_fold(mat, mat))


def _fold(a, b):
    """Row-wise dot of two [dim, ...] arrays, summed left to right
    from the first term in float64 — DuckDB's
    ``list_cosine_similarity`` over ``DOUBLE[]`` sums in this order,
    so the scores are its bits. Starting from the first term, not
    0.0, keeps the sign of a dot whose terms are all ``-0.0``."""
    acc = a[0] * b[0]
    for i in range(1, a.shape[0]):
        acc += a[i] * b[i]
    return acc


def _clamp(cos):
    """``least(1, greatest(-1, cos))``: DuckDB clamps the cosine to
    [-1, 1] (an identity pair whose quotient rounds to
    1.0000000000000002 comes back 1.0), and Spark orders NaN above
    every double, so a NaN clamps to 1.0."""
    import numpy as np

    return np.where(np.isnan(cos), 1.0, np.minimum(1.0, np.maximum(-1.0, cos)))


def _sql_cosine(dot, denom, null, ansi: bool):
    """``_clamp(dot / denom)`` with the SQL's NULL rules: where
    ``null`` holds (a null vector, or a null element among the first
    ``dim``) the quotient is NULL, and ``greatest(-1.0, NULL)`` is
    -1.0. A zero denominator raises DIVIDE_BY_ZERO under ANSI (the
    session's default) and is NULL without it."""
    import numpy as np

    null = np.broadcast_to(null, np.shape(dot))
    zero = ~null & (denom == 0)
    if zero.any():
        if ansi:
            raise ZeroDivisionError(
                "[DIVIDE_BY_ZERO] Division by zero: a zero-norm "
                "embedding has no cosine similarity"
            )
        null = null | zero
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = _clamp(dot / denom)
    cos[null] = -1.0
    return cos


def _require_nonzero_norms(nrm) -> None:
    """Refuse zero-norm embeddings in the numpy shapes that run
    inside a task. Cosine is undefined for the zero vector: the
    Arrow kernels raise DIVIDE_BY_ZERO on it under ANSI, as the SQL
    does, while a bare numpy quotient would silently yield NaN and
    rank it differently than Spark's NaN-greatest desc ordering."""
    import numpy as np

    if (np.asarray(nrm) == 0).any():
        raise ValueError(
            "zero-norm embedding encountered: cosine similarity is "
            "undefined for the zero vector (the SQL form raises ANSI "
            "DIVIDE_BY_ZERO on the same input) — filter or re-embed "
            "zero vectors before the ANN/KNN operators"
        )


def _cos_matrix(X, x_nrm, C, c_nrm):
    """[n, m] clamped cosines of the rows of ``X`` [n, dim] against
    the rows of ``C`` [m, dim], non-zero norms given."""
    return _clamp(
        _fold(X.T[:, :, None], C.T[:, None, :]) / (x_nrm[:, None] * c_nrm[None, :])
    )


def _pairs_above(a_ids, A, a_nrm, b_ids, B, b_nrm, threshold: float):
    """``(a_id, b_id, cos)`` for every row pair of ``A`` x ``B``
    ([n, dim] float64) with ``a_id < b_id`` and exact cosine
    ``>= threshold``. A BLAS matmul prefilters with a 1e-6 margin and
    only the survivors get the exact fold. Lossless: the fold and the
    blocked BLAS sum differ by at most gamma_dim * sum|x_i y_i|
    (<= 7.1e-15 |x||y| at dim 64), far inside the margin, so no pair
    at or above the threshold is prefiltered away; the recheck drops
    the sub-threshold pairs the margin admits. ``B`` is scored in
    column blocks, so the approximate matrix stays bounded."""
    import numpy as np

    _require_nonzero_norms(a_nrm)
    _require_nonzero_norms(b_nrm)
    out_a, out_b, out_c = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    step = max(1, _CELLS // max(1, len(A)))
    for s in range(0, len(B), step):
        Bb, bb_ids, bb_nrm = B[s : s + step], b_ids[s : s + step], b_nrm[s : s + step]
        approx = A @ Bb.T
        ai, bi = np.nonzero(
            (a_ids[:, None] < bb_ids[None, :])
            & (approx >= (threshold - 1e-6) * (a_nrm[:, None] * bb_nrm[None, :]))
        )
        cos = _clamp(_fold(A[ai].T, Bb[bi].T) / (a_nrm[ai] * bb_nrm[bi]))
        keep = cos >= threshold
        out_a.append(a_ids[ai][keep])
        out_b.append(bb_ids[bi][keep])
        out_c.append(cos[keep])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def _bucket_pairs(threshold: float):
    """applyInPandas body: the exact near-dup pairs of one bucket of
    ``(vec_id, embedding)`` rows, as ``(vec_a, vec_b, cos_sim)``."""
    import numpy as np
    import pandas as pd

    def fn(pdf):
        ids = pdf["vec_id"].to_numpy()
        X = np.array(list(pdf["embedding"]), dtype=np.float32).astype(np.float64)
        nrm = np.sqrt(_fold(X.T, X.T))
        a, b, c = _pairs_above(ids, X, nrm, ids, X, nrm, threshold)
        return pd.DataFrame({"vec_a": a, "vec_b": b, "cos_sim": c})

    return fn


def _topk_batch(batch, probes, k, exclude_self, bucket_col, ansi):
    """Partial top-k of one Arrow batch: per probe, at most ``k``
    candidates by (cos_sim desc, id asc nulls first) — the order of
    the final window, so the batch's best k hold its share of the
    global top k."""
    import numpy as np
    import pyarrow as pa

    pids, P, p_null, p_nrm, p_buckets, dim = probes
    n = batch.num_rows
    if n == 0:
        return None
    id_arr = batch.column(0)
    ids = id_arr.fill_null(0).cast(pa.int64()).to_numpy()
    id_null = id_arr.is_null().to_numpy(zero_copy_only=False)
    X, x_null = _vector_block(batch.column(1), dim, ansi)
    x_nrm = np.sqrt(_fold(X, X))
    if bucket_col is not None:
        buckets = batch.column(2).to_numpy(zero_copy_only=False)
    out_p, out_id, out_id_null, out_cos = [], [], [], []
    step = max(1, _CELLS // n)
    for s in range(0, len(pids), step):
        e = min(s + step, len(pids))
        cand = np.ones((e - s, n), dtype=bool)
        if bucket_col is not None:
            for j in range(s, e):
                cand[j - s] = np.isin(buckets, p_buckets[j])
        if exclude_self:  # neighbor_id != probe_id: a NULL id drops
            cand &= ~id_null[None, :] & (ids[None, :] != pids[s:e, None])
        # a pair that is not a candidate is never evaluated, so it
        # cannot raise DIVIDE_BY_ZERO: score it as NULL and drop it
        cos = _sql_cosine(
            _fold(P[:, s:e, None], X[:, None, :]),
            p_nrm[s:e, None] * x_nrm[None, :],
            p_null[s:e, None] | x_null[None, :] | ~cand,
            ansi,
        )
        for j in range(s, e):
            sel = np.flatnonzero(cand[j - s])
            c = cos[j - s, sel]
            sel = sel[np.lexsort((ids[sel], ~id_null[sel], -c))[:k]]
            out_p.append(np.full(len(sel), j))
            out_id.append(ids[sel])
            out_id_null.append(id_null[sel])
            out_cos.append(cos[j - s, sel])
    out_p = np.concatenate(out_p)
    if not len(out_p):
        return None
    return pa.RecordBatch.from_arrays(
        [
            pa.array(pids[out_p]),
            pa.array(np.concatenate(out_id), mask=np.concatenate(out_id_null)),
            pa.array(np.concatenate(out_cos)),
        ],
        names=["probe_id", "neighbor_id", "cos_sim"],
    )


def cosine_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    probes,
    k: int,
    exclude_self: bool = True,
    bucket_col: str | None = None,
    probe_buckets=None,
    dim: int = DIM,
) -> DataFrame:
    """Exact cosine top-``k`` of a small driver-held probe set over
    ``corpus``: ``(probe_id, neighbor_id, cos_sim, rnk)`` with ranks
    by cos_sim desc then neighbor_id asc, bit-identical to
    ``row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC,
    neighbor_id)`` over the probe x corpus pairs, where ``cos`` is
    ``least(1, greatest(-1, dot(pe, ne) / (p_nrm * n_nrm)))`` with
    the dot and both norms summed left to right in float64.

    ``probes``: ``(probe_id, vector)`` pairs. ``exclude_self`` drops
    the candidate whose id equals the probe id (``neighbor_id !=
    probe_id``). With ``bucket_col``, probe ``p`` only scores rows
    whose bucket is in ``probe_buckets[p]`` — the IVF candidate set
    without building posting x probe rows.

    One ``mapInArrow`` pass scores each Arrow batch with numpy and
    keeps its best ``k`` rows per probe; a ``row_number`` window over
    those few rows gives the final ranks. Edge cases follow the SQL:
    a null vector or a null element among the first ``dim`` makes the
    quotient NULL, which the clamp's ``greatest(-1.0, NULL)`` turns
    into -1.0; a NaN quotient clamps to 1.0; a zero norm raises
    DIVIDE_BY_ZERO and a vector shorter than ``dim`` raises
    INVALID_ARRAY_INDEX under ANSI (the session's default; without
    ANSI both give a NULL quotient)."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.types import LongType

    from ..session import local_frame

    spark = corpus.sparkSession
    ansi = _ansi(spark)
    out_schema = "probe_id long, neighbor_id long, cos_sim double"
    probes = list(probes)
    if not probes:
        return local_frame(spark, [], out_schema + ", rnk int")
    pids = np.array([int(p) for p, _ in probes], dtype=np.int64)
    p_buckets = None
    if bucket_col is not None:
        p_buckets = [
            np.asarray(sorted(probe_buckets.get(p, ())), dtype=np.int64)
            for p, _ in probes
        ]
    P, p_null, p_nrm = _driver_block((v for _, v in probes), dim, ansi)
    packed = (pids, P, p_null, p_nrm, p_buckets, dim)

    def topk(batches):
        for batch in batches:
            out = _topk_batch(
                batch, packed, k, exclude_self, bucket_col, ansi
            )
            if out is not None:
                yield out

    cols = [id_col, vec_col] + ([bucket_col] if bucket_col else [])
    partial = corpus.select(*cols).mapInArrow(topk, out_schema)
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    id_type = corpus.schema[id_col].dataType
    neighbor = F.col("neighbor_id")
    if id_type != LongType():
        neighbor = neighbor.cast(id_type)
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("probe_id", neighbor.alias("neighbor_id"), "cos_sim", "rnk")
    )


def _nearest(X, x_null, x_nrm, centroids, keep: int, ansi: bool):
    """Ids [n, min(keep, m)] of the nearest centroids of each column
    of ``X`` [dim, n], by cos desc then centroid id asc; ``centroids``
    is ``(ids, matrix [dim, m], null mask, norms)``."""
    import numpy as np

    c_ids, C, c_null, c_nrm = centroids
    kk = min(keep, len(c_ids))
    best_cos, best_ids = [], []
    for s in range(0, len(c_ids), _CENTROID_BLOCK):
        e = min(s + _CENTROID_BLOCK, len(c_ids))
        cos = _sql_cosine(
            _fold(X[:, :, None], C[:, None, s:e]),
            x_nrm[:, None] * c_nrm[None, s:e],
            x_null[:, None] | c_null[None, s:e],
            ansi,
        )
        ids = c_ids[s:e]
        top = np.lexsort((np.broadcast_to(ids, cos.shape), -cos), axis=1)[:, :kk]
        best_cos.append(np.take_along_axis(cos, top, 1))
        best_ids.append(ids[top])
    cos, ids = np.concatenate(best_cos, 1), np.concatenate(best_ids, 1)
    return np.take_along_axis(ids, np.lexsort((ids, -cos), axis=1)[:, :kk], 1)


def _centroid_block(centroids, dim: int, ansi: bool):
    """``_nearest``'s centroid tuple of ``(centroid_id, vector)`` pairs."""
    import numpy as np

    centroids = list(centroids)
    C, c_null, c_nrm = _driver_block((v for _, v in centroids), dim, ansi)
    return np.array([int(c) for c, _ in centroids], dtype=np.int64), C, c_null, c_nrm


def nearest_centroids(
    frame: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    keep: int,
    dim: int = DIM,
) -> DataFrame:
    """``(id_col, centroid_id, crnk)``: each row's ``keep`` nearest of
    the driver-held ``centroids`` — ``(centroid_id, vector)`` pairs —
    ranked from 1, as ``row_number() OVER (PARTITION BY id ORDER BY
    cos DESC, centroid_id)`` ranks the row x centroid pairs, with
    ``cos`` and its edge cases those of ``cosine_topk``. With fewer
    than ``keep`` centroids every one is ranked.

    One ``mapInArrow`` pass. Centroids are scored in blocks of
    ``_CENTROID_BLOCK`` and each block's best ``keep`` merged, so a
    batch never holds a rows x centroids matrix."""
    import numpy as np
    import pyarrow as pa

    from ..session import local_frame

    spark = frame.sparkSession
    ansi = _ansi(spark)
    cents = _centroid_block(centroids, dim, ansi)
    id_type = frame.schema[id_col].dataType.simpleString()
    schema = f"`{id_col}` {id_type}, centroid_id long, crnk int"
    if not len(cents[0]):
        return local_frame(spark, [], schema)
    step = max(1, _CELLS // min(len(cents[0]), _CENTROID_BLOCK))

    def assign(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            X, x_null = _vector_block(batch.column(1), dim, ansi)
            x_nrm = np.sqrt(_fold(X, X))
            top = np.concatenate(
                [
                    _nearest(
                        X[:, s : s + step], x_null[s : s + step],
                        x_nrm[s : s + step], cents, keep, ansi,
                    )
                    for s in range(0, n, step)
                ]
            )
            kk = top.shape[1]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(pa.array(np.repeat(np.arange(n), kk))),
                    pa.array(top.reshape(-1)),
                    pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), n)),
                ],
                names=[id_col, "centroid_id", "crnk"],
            )

    return frame.select(id_col, vec_col).mapInArrow(assign, schema)


def pair_cosine(
    frame: DataFrame, a_col: str, b_col: str, dim: int = DIM
) -> DataFrame:
    """``frame`` with a ``cos_sim`` column: the cosine of the two
    vector columns of each row, scored as ``cosine_topk`` scores a
    pair, edge cases included. One ``mapInArrow`` pass."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    ansi = _ansi(frame.sparkSession)
    ia, ib = frame.columns.index(a_col), frame.columns.index(b_col)

    def score(batches):
        for batch in batches:
            A, a_null = _vector_block(batch.column(ia), dim, ansi)
            B, b_null = _vector_block(batch.column(ib), dim, ansi)
            cos = _sql_cosine(
                _fold(A, B),
                np.sqrt(_fold(A, A)) * np.sqrt(_fold(B, B)),
                a_null | b_null,
                ansi,
            )
            yield pa.RecordBatch.from_arrays(
                batch.columns + [pa.array(cos, type=pa.float64())],
                names=batch.schema.names + ["cos_sim"],
            )

    schema = StructType(frame.schema.fields + [StructField("cos_sim", DoubleType())])
    return frame.mapInArrow(score, schema)


NEARDUP_THRESHOLD = 0.4

# embedding_neardup is the O(N²) exactness baseline: it broadcasts
# the whole corpus to every executor. That is only sane for corpora
# that fit comfortably in executor memory — beyond this bound the
# operator REFUSES and points at the LSH scale path instead of
# OOMing the driver at 100 TB. 1M × 64 dims × 8B ≈ 512 MB broadcast.
NEARDUP_MAX_CORPUS = 1_000_000


def _corpus_matrix(emb: DataFrame):
    """(vec_ids int64[n], matrix float64[n, DIM]) built FROM the
    loaded DataFrame (arrow transfer), so version/filter semantics of
    the source can never diverge from what the pair scan sees."""
    import numpy as np

    t = emb.select("vec_id", "embedding").toArrow()
    ids = t["vec_id"].to_numpy()
    mat = np.array(t["embedding"].to_pylist(), dtype=np.float32).astype(np.float64)
    return ids, mat


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ threshold, exact.

    Arrow-vectorized pair scan: each executor batch of vectors is
    scored against the broadcast corpus matrix by ``_pairs_above`` —
    a BLAS prefilter at a proven-lossless margin, then the exact fold
    for the survivors only (one dgemm pass instead of 64 broadcast
    passes: the sf1 pair scan went 54 s -> ~8 s), so every emitted
    score is the DuckDB oracle's bits. Inherently O(N²): this
    operator is the exactness baseline; ann_ivf is the 100 TB path.
    """
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    if n_corpus > NEARDUP_MAX_CORPUS:
        raise ValueError(
            f"embedding_neardup is the exact O(N²) baseline and bounds "
            f"its broadcast corpus at {NEARDUP_MAX_CORPUS} vectors "
            f"(got {n_corpus}); use embedding_neardup_ivf (the "
            "SemDeDup-style bucketed scale path) for larger corpora"
        )
    ids, corpus = _corpus_matrix(emb)
    bc = spark.sparkContext.broadcast((ids, corpus, np.sqrt(_fold(corpus.T, corpus.T))))

    def score(batches):
        c_ids, C, c_nrm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float32).astype(np.float64)
            a, b, c = _pairs_above(
                pdf["vec_id"].to_numpy(), X, np.sqrt(_fold(X.T, X.T)),
                c_ids, C, c_nrm, NEARDUP_THRESHOLD,
            )
            yield pd.DataFrame({"vec_a": a, "vec_b": b, "cos_sim": c})

    # a small parquet file arrives as ONE input partition, which
    # would serialize the whole O(N·corpus) scan onto one core (925s
    # at sf1); spread the probe side across the cluster first — the
    # corpus side is already broadcast, so this shuffle is tiny
    n_parts = spark.sparkContext.defaultParallelism
    return (
        emb.repartition(n_parts)
        .mapInPandas(score, schema="vec_a long, vec_b long, cos_sim double")
        .orderBy("vec_a", "vec_b")
    )


EMBEDDING_NEARDUP_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                         CAST(b.embedding AS DOUBLE[])) AS cos_sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""

N_PROBES = 10
TOP_K = 10


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_topk_filtered_exact(spark, sf_dir, pred=None).orderBy(
        "probe_id", "rnk"
    )


_ANN_TOPK_INNER = f"""
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
    list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                           CAST(c.embedding AS DOUBLE[])) AS cos_sim,
    ROW_NUMBER() OVER (
      PARTITION BY p.vec_id
      ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) DESC,
               c.vec_id ASC) AS rnk
  FROM embeddings p, embeddings c
  WHERE p.vec_id < {N_PROBES} AND c.vec_id != p.vec_id
"""

ANN_TOPK_SQL = f"""
SELECT probe_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
FROM ({_ANN_TOPK_INNER})
WHERE rnk <= {TOP_K}
ORDER BY probe_id, rnk
"""


def _topk_flag_sql(flag_col: str) -> str:
    """The brute-force top-k oracle with a literal-TRUE recall flag —
    the oracle side of the r5 hash-greening pattern: the Spark query
    emits the exact top-k plus a computed recall-≥-bound boolean, the
    oracle asserts the same rows plus TRUE, so an index recall
    regression breaks the driver hash."""
    return f"""
SELECT probe_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk,
       TRUE AS {flag_col}
FROM ({_ANN_TOPK_INNER})
WHERE rnk <= {TOP_K}
ORDER BY probe_id, rnk
"""

IVF_K = 16  # centroid count (sqrt-ish of local corpus; 4096+ at scale)
IVF_NPROBE = 4


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with deterministic seed centroids (the K lowest-vec_id
    vectors). Because every step — centroid pick, nearest-centroid
    assignment, nprobe bucket choice, in-bucket exact cosine top-k —
    is a deterministic composition of cosine + rank with explicit tie
    breaks, the DuckDB oracle replicates the ALGORITHM itself
    (ANN_IVF_SQL), so this row is hash-exact. The k-means-refined
    variants (ann_ivf_indexed / ann_ivf_pq) can't be SQL-replicated
    and use the recall-flag pattern instead.

    Three steps: ``nearest_centroids`` assigns every vector to its
    bucket in one Arrow pass; the same ranking, run on the driver,
    picks each probe's IVF_NPROBE buckets; ``cosine_topk`` scores
    only the rows of those buckets."""
    emb = load(spark, sf_dir, "embeddings")
    rows = (
        emb.where(F.col("vec_id") < max(IVF_K, N_PROBES))
        .select("vec_id", "embedding")
        .collect()
    )
    cents = [(r["vec_id"], r["embedding"]) for r in rows if r["vec_id"] < IVF_K]
    probes = [(r["vec_id"], r["embedding"]) for r in rows if r["vec_id"] < N_PROBES]
    ansi = _ansi(spark)
    P, p_null, p_nrm = _driver_block((v for _, v in probes), DIM, ansi)
    nearest = _nearest(P, p_null, p_nrm, _centroid_block(cents, DIM, ansi), IVF_NPROBE, ansi)
    probe_buckets = {p: nearest[i].tolist() for i, (p, _) in enumerate(probes)}
    assigned = nearest_centroids(emb, "vec_id", "embedding", cents, keep=1)
    corpus = emb.select("vec_id", "embedding").join(assigned, "vec_id")
    return cosine_topk(
        corpus, "vec_id", "embedding", probes, TOP_K,
        bucket_col="centroid_id", probe_buckets=probe_buckets,
    ).orderBy("probe_id", "rnk")


ANN_IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
c AS (
  SELECT vec_id AS centroid_id, emb AS ce FROM e WHERE vec_id < {IVF_K}
),
assign AS (
  SELECT vec_id, emb, centroid_id FROM (
    SELECT e.vec_id, e.emb, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.emb, c.ce) DESC,
                 c.centroid_id ASC) AS crnk
    FROM e CROSS JOIN c) t
  WHERE crnk = 1
),
p AS (
  SELECT vec_id AS probe_id, emb AS pe FROM e WHERE vec_id < {N_PROBES}
),
pb AS (
  SELECT probe_id, pe, centroid_id FROM (
    SELECT p.probe_id, p.pe, c.centroid_id,
      ROW_NUMBER() OVER (PARTITION BY p.probe_id
        ORDER BY list_cosine_similarity(p.pe, c.ce) DESC,
                 c.centroid_id ASC) AS brnk
    FROM p CROSS JOIN c) t
  WHERE brnk <= {IVF_NPROBE}
),
cand AS (
  SELECT pb.probe_id, a.vec_id AS neighbor_id,
    list_cosine_similarity(pb.pe, a.emb) AS cos_sim
  FROM pb JOIN assign a USING (centroid_id)
  WHERE a.vec_id <> pb.probe_id
)
SELECT probe_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT probe_id, neighbor_id, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY probe_id
      ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
  FROM cand) t
WHERE rnk <= {TOP_K}
ORDER BY probe_id, rnk
"""


# Recall bounds for the hashed flags (r5). Test assertions
# (test_llm_ops/test_pq) hold the tighter algorithmic bounds (0.9 /
# 0.8); the hashed flags sit one notch below so ordinary sf-to-sf
# variation can't flip a driver row while a real regression still
# does. Measured: indexed 0.93-1.0, PQ 0.82-1.0, LSH 0.65-0.9 across
# sf0.001-1.
IVF_INDEXED_RECALL_BOUND = 0.85
PQ_RECALL_BOUND = 0.7
LSH_RECALL_BOUND = 0.6


def _with_recall_flag(
    exact: DataFrame,
    approx: DataFrame,
    bound: float,
    flag_col: str,
    keys: tuple[str, str] = ("probe_id", "neighbor_id"),
    extra_ok: DataFrame | None = None,
) -> DataFrame:
    """exact rows + one constant boolean column: recall of the
    approximate result against the exact rows is >= bound. The 1-row
    aggregate is broadcast back (the tpch_q15 shape). The exact
    frame feeds BOTH the audit aggregate and the returned rows, so
    it is spilled to a parquet stage — its (expensive) subtree
    executes once and the small result is re-read from durable
    storage per branch (localCheckpoint would pin the blocks in
    executor memory, unrecoverable after executor loss).

    ``extra_ok`` (r14): an optional 1-row single-boolean frame ANDed
    into the flag — e.g. ann_ivf_after_delete's "zero deleted ids
    served" audit rides the same flag column instead of duplicating
    this aggregate shape."""
    exact = spill_to_parquet(exact, "recall_exact")
    hits = exact.select(*keys).join(
        approx.select(*keys).withColumn("hit", F.lit(1)),
        list(keys),
        "left",
    )
    stats = hits.agg(
        (
            F.coalesce(F.sum("hit"), F.lit(0))
            / F.greatest(F.count(F.lit(1)), F.lit(1))
            >= bound
        ).alias(flag_col)
    )
    if extra_ok is not None:
        stats = stats.crossJoin(extra_ok.toDF("__extra_ok")).select(
            (F.col(flag_col) & F.col("__extra_ok")).alias(flag_col)
        )
    return exact.crossJoin(F.broadcast(stats))


# 6 bands x 3 bits: at cos>=0.4 (theta~66deg, per-bit agreement
# ~0.63) expected recall = 1-(1-0.63^3)^6 ~ 0.82; higher similarity
# thresholds recall near 1.0. More bits/band (and more bands) trade
# candidate volume for recall at scale.
LSH_PLANES = 18
LSH_BANDS = 6


def _lsh_projections(dim: int = DIM, planes: int = LSH_PLANES):
    """Deterministic random hyperplanes (seeded), shared by executors."""
    import numpy as np

    rng = np.random.RandomState(42)
    return rng.standard_normal((planes, dim))


def lsh_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection signatures, banded bucketing,
    candidates only from bucket collisions, then exact cosine
    verification. The driver query ``embedding_neardup_lsh`` wraps
    it with a recall audit against the exact pair scan so the row
    hash-checks.

    Scale honesty (r7, measured in the sf10 smoke): with 3-bit
    bands, two RANDOM vectors collide in some band with prob
    1-(1-1/8)^6 ≈ 0.55 — the bucket scan prunes the quadratic pair
    space only ~2×. Low-threshold near-dup (cos barely above the
    random-cosine noise floor) is inherently unclusterable, so this
    operator is the recall-audited SMALL-SCALE tool; the 100 TB
    dedup path is ``ivf_neardup_pairs`` (high-similarity duplicates,
    bucket count scaled to corpus size, linear work)."""
    import numpy as np
    import pandas as pd

    planes = _lsh_projections()
    bc = spark.sparkContext.broadcast(planes)
    emb = load(spark, sf_dir, "embeddings")

    def signatures(batches):
        P = bc.value
        bits_per_band = LSH_PLANES // LSH_BANDS
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float32).astype(np.float64)
            signs = (X @ P.T) >= 0  # (n, planes) sign bits
            rows = {"vec_id": [], "band": [], "bucket": []}
            for b in range(LSH_BANDS):
                seg = signs[:, b * bits_per_band : (b + 1) * bits_per_band]
                bucket = np.zeros(len(X), dtype=np.int64)
                for i in range(seg.shape[1]):
                    bucket = bucket * 2 + seg[:, i]
                rows["vec_id"].extend(pdf["vec_id"].tolist())
                rows["band"].extend([b] * len(X))
                rows["bucket"].extend(bucket.tolist())
            yield pd.DataFrame(rows)

    sigs = emb.mapInPandas(signatures, schema="vec_id long, band int, bucket long")

    # Per-BUCKET verification, not per-PAIR: shuffling every bucket
    # collision as a candidate row then equi-joining the vectors back
    # twice materializes O(Σ n_bucket²) rows — 153M at sf1, the whole
    # wall-time. Instead the (band, bucket) groups (one equi-shuffle)
    # each run ``_bucket_pairs`` — a blocked matmul prefilter, then
    # the exact fold — and emit ONLY the pairs that clear the
    # threshold, so the candidate set lives and dies inside the task.
    # Survivor count is O(true near-dups × bands). Bucket sizes are
    # bounded by the band width (2^bits buckets/band; tune LSH_PLANES
    # up if a corpus skews a bucket past executor memory). A pair
    # colliding in several bands carries the same score in each, so
    # ``distinct`` keeps one.
    return (
        sigs.join(emb.select("vec_id", "embedding"), "vec_id")
        .groupBy("band", "bucket")
        .applyInPandas(
            _bucket_pairs(NEARDUP_THRESHOLD),
            schema="vec_a long, vec_b long, cos_sim double",
        )
        .distinct()
        .orderBy("vec_a", "vec_b")
    )


# embedding_neardup_lsh is QUARANTINED as a small-scale diagnostic:
# the r7 sf10 smoke measured its 3-bit sign-RP bands pruning random
# pairs only ~2x (quadratic candidate growth), so it was RETIRED from
# the 100 TB claim (SURVEY C18). It refuses corpora past this bound
# and points at embedding_neardup_ivf, the measured-linear scale
# path, instead of letting a user mistake it for production.
LSH_DIAGNOSTIC_MAX_CORPUS = 100_000


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-SCALE DIAGNOSTIC ONLY — not a 100 TB path (see
    LSH_DIAGNOSTIC_MAX_CORPUS above; embedding_neardup_ivf is the
    scale route). Driver query (hash-exact as of r5; previously
    rows-only): the exact near-dup pair set (same rows as
    ``embedding_neardup``, DuckDB-replicable) plus one constant
    ``lsh_recall_ok`` boolean — the banded-LSH pair set recalls >=
    LSH_RECALL_BOUND of the exact pairs. The seeded random
    hyperplanes make the LSH set deterministic but not
    SQL-expressible, so the recall AUDIT is the hashed artifact: the
    oracle asserts TRUE, and a recall regression flips the flag and
    fails the driver hash. tests/test_llm_ops.py keeps the tighter
    per-sf recall assertion."""
    n_corpus = load(spark, sf_dir, "embeddings").count()
    if n_corpus > LSH_DIAGNOSTIC_MAX_CORPUS:
        raise ValueError(
            f"embedding_neardup_lsh is a small-scale recall DIAGNOSTIC "
            f"(sign-RP bands measured pruning random pairs only ~2x at "
            f"10x data) and refuses corpora past "
            f"{LSH_DIAGNOSTIC_MAX_CORPUS} vectors (got {n_corpus}); "
            "use embedding_neardup_ivf, the measured-linear scale path"
        )
    exact = embedding_neardup(spark, sf_dir)
    lsh = lsh_neardup_pairs(spark, sf_dir)
    return _with_recall_flag(
        exact, lsh, LSH_RECALL_BOUND, "lsh_recall_ok",
        keys=("vec_a", "vec_b"),
    ).orderBy("vec_a", "vec_b")


EMBEDDING_NEARDUP_LSH_SQL = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                         CAST(b.embedding AS DOUBLE[])) AS cos_sim,
  TRUE AS lsh_recall_ok
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


def ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index variant
    of ann_ivf — Lance proper's core feature (a vector index stored
    with the dataset): embeddings are written as a lance dataset,
    ``build_ivf_index`` fits distributed k-means and persists
    bucket-partitioned postings under ``_indexes/ivf/``, and the
    search scans only the probes' nprobe bucket partitions (Spark
    partition pruning on literal bucket ids — asserted on the plan
    in tests). At 100 TB the search IO is nprobe/k of the index,
    independent of corpus size.

    Hash discipline (r5; previously rows-only): k-means-refined
    centroids aren't SQL-replicable, so the hashed output is the
    exact brute-force top-k plus a constant ``ivf_recall_ok`` flag —
    recall of the index search vs exact >= IVF_INDEXED_RECALL_BOUND —
    which the oracle asserts literally TRUE. The index build+search
    still runs in full; tests keep the tighter >=0.9 assertion."""
    import os
    import shutil

    from ..sources.datasource import register
    from ..sources.vector_index import ann_search, build_ivf_index

    register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join("/tmp/lance_duckdb_spark", tag, "ivfindex.lance")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.dirname(root), exist_ok=True)
    emb = load(spark, sf_dir, "embeddings")
    emb.select("vec_id", "embedding").write.format("lance").mode(
        "overwrite"
    ).save(root)
    build_ivf_index(spark, root, k=IVF_K, lloyd_iters=2)
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    # Lloyd-refined centroids pack clusters tighter than the raw
    # seed centroids ann_ivf uses, so borderline neighbors spread
    # across more buckets: probe 6/16 (measured recall 0.93 vs 0.86
    # at nprobe=4); at production scale (k=4096) nprobe stays a
    # small fraction of k
    approx = ann_search(spark, root, probes, k_neighbors=TOP_K, nprobe=6)
    exact = ann_topk_bruteforce(spark, sf_dir)
    return _with_recall_flag(
        exact, approx, IVF_INDEXED_RECALL_BOUND, "ivf_recall_ok"
    ).orderBy("probe_id", "rnk")


def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lance proper's DEFAULT index
    type, IVF_PQ: coarse IVF buckets plus product-quantized
    residuals, so the persisted postings hold 8 one-byte codes per
    vector instead of 64 floats (the 100 TB memory/IO argument for
    PQ). Search prunes to the probes' buckets, ranks candidates by
    asymmetric distance over the codes alone, then exact-reranks
    the top refine*k via take-by-id on the dataset.

    Hash discipline (r5; previously rows-only): same recall-flag
    pattern as ann_ivf_indexed — the hashed rows are the exact
    brute-force top-k plus a constant ``pq_recall_ok`` boolean
    (recall of the PQ search vs exact >= PQ_RECALL_BOUND), asserted
    TRUE by the oracle; tests/test_pq.py keeps the tighter >=0.8
    assertion."""
    import os
    import shutil

    from ..sources.datasource import register
    from ..sources.vector_index import ann_search_pq, build_ivf_pq_index

    register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join("/tmp/lance_duckdb_spark", tag, "ivfpq.lance")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.dirname(root), exist_ok=True)
    emb = load(spark, sf_dir, "embeddings")
    emb.select("vec_id", "embedding").write.format("lance").mode(
        "overwrite"
    ).save(root)
    build_ivf_pq_index(spark, root, k=IVF_K, lloyd_iters=2)
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    approx = ann_search_pq(
        spark, root, probes, k_neighbors=TOP_K, nprobe=6, refine=4
    )
    exact = ann_topk_bruteforce(spark, sf_dir)
    return _with_recall_flag(
        exact, approx, PQ_RECALL_BOUND, "pq_recall_ok"
    ).orderBy("probe_id", "rnk")


# Filtered ANN search (r13, r12 VERDICT item 1 — the production
# vector-search call shape; Lance proper's nearest+filter scan,
# rust/scanner.rs with rust/lib.rs:148-236 and lance_scan's pushdown
# in src/lance_scan.cpp). The predicate rides the INDEXED search with
# PRE-filter semantics: the top-k window ranks qualifying rows only —
# a post-filtered unfiltered top-k would under-return (at ~20%
# selectivity, ~8 of 10 results vanish). `label` is the embeddings
# table's metadata column; the filter reaches the dataset scan
# through the datasource pushdown and the candidate set is
# semi-joined on vec_id before ranking (sources/vector_index.py
# _filter_ids).
ANN_FILTER_PRED = "label IN (2, 5)"
# At ~20% selectivity the qualifying neighbors spread across more
# buckets than an unfiltered top-k's (each bucket holds ~5x fewer
# qualifying rows), so the filtered search probes 12/16 buckets (vs
# 6 unfiltered) — the standard filtered-ANN nprobe escalation; at
# production k=4096 the same 2x-over-unfiltered factor stays a small
# fraction of k. Measured recall 0.88-0.99 across sf0.001/0.01/0.1
# (nprobe=8 drew 0.72-0.83 — the escalation is what buys the
# headroom); flag bound one notch below the measured floor (the r5
# discipline: sf jitter can't flip a driver row, a real regression
# still does).
FILTERED_RECALL_BOUND = 0.8
FILTERED_NPROBE = 12


def _ann_topk_filtered_exact(
    spark: SparkSession, sf_dir: str, pred: str | None = ANN_FILTER_PRED
) -> DataFrame:
    """Exact filtered top-k: brute force over ONLY the qualifying
    corpus rows — the ground truth a pre-filter search must chase
    (and the SQL-replicable hashed sub-result of ann_ivf_filtered;
    with ``pred`` a survivor predicate, of ann_ivf_after_delete;
    with ``pred=None``, ann_topk_bruteforce). The first N_PROBES
    vectors are the probes, scored by ``cosine_topk``."""
    emb = load(spark, sf_dir, "embeddings")
    probes = [
        (r["vec_id"], r["embedding"])
        for r in emb.where(F.col("vec_id") < N_PROBES)
        .select("vec_id", "embedding")
        .collect()
    ]
    corpus = emb if pred is None else emb.where(pred)
    return cosine_topk(corpus, "vec_id", "embedding", probes, TOP_K)


def _staged_ivf_dataset(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    delete_pred: str | None = None,
) -> str:
    """Shared staging core for the indexed driver queries: a
    (vec_id, embedding, label) lance dataset + IVF index under
    /tmp/.../<name>, optionally followed by a deletion-vector DELETE
    (``delete_pred`` — the after-delete scenario's version 2). Reuse
    the staged artifact when already present and current (the
    lance_take discipline): content is deterministic per sf (same
    rows, same sort-free write, deterministic k-means init + Lloyd,
    and a DELETE whose mask is a pure function of vec_id), so a
    rebuilt artifact is bit-identical to the reused one — serving
    cost, not output, is what changes. The row count comes from the
    parquet FOOTER, not a count() action. ONE implementation (r14
    review) so the staging/reuse discipline cannot drift between
    ann_ivf_filtered / lance_sql_ann / ann_ivf_after_delete."""
    import json as _json
    import os
    import shutil

    from pyspark.sql.types import StructType

    from ..sources import lance_format as lf
    from ..sources.datasource import register
    from ..sources.vector_index import build_ivf_index, read_index_meta

    register(spark)
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = os.path.join("/tmp/lance_duckdb_spark", tag, name)
    emb = load(spark, sf_dir, "embeddings")
    src = emb.select("vec_id", "embedding", "label")
    expected_version = 1 if delete_pred is None else 2
    reuse = False
    try:
        import pyarrow.parquet as _pq

        n_src = _pq.read_metadata(
            os.path.join(sf_dir, "embeddings.parquet")
        ).num_rows
        m = lf.read_manifest(root)
        meta = read_index_meta(root)
        reuse = (
            m.version == expected_version
            and sum(f.num_rows for f in m.fragments) == n_src
            and (
                delete_pred is None
                or sum(f.num_deleted for f in m.fragments) > 0
            )
            and StructType.fromJson(_json.loads(m.schema_json))
            == src.schema
            and meta["dataset_version"] == 1
            and meta["k"] == IVF_K
            and meta["column"] == "embedding"
        )
    except Exception:
        reuse = False
    if not reuse:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.dirname(root), exist_ok=True)
        src.write.format("lance").mode("overwrite").save(root)
        build_ivf_index(spark, root, k=IVF_K, lloyd_iters=2)
        if delete_pred is not None:
            from ..catalog import lance_sql

            lance_sql(
                spark, f"DELETE FROM '{root}' WHERE {delete_pred}"
            ).collect()
    return root


def _staged_filtered_root(spark: SparkSession, sf_dir: str) -> str:
    """The staged dataset+index shared by ann_ivf_filtered AND
    lance_sql_ann (see _staged_ivf_dataset)."""
    return _staged_ivf_dataset(spark, sf_dir, "ivffiltered.lance")


def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (r13): predicate + vector in ONE indexed search.
    The embeddings table (vec_id, embedding, label) is written as a
    lance dataset, IVF-indexed, and searched with
    ``filter=ANN_FILTER_PRED`` — pre-filter semantics, buckets still
    partition-pruned, staleness-guarded like every indexed search.

    Hash discipline (the ann_ivf_indexed recall-flag pattern):
    k-means-refined centroids aren't SQL-replicable, so the hashed
    rows are the EXACT filtered brute-force top-k plus a constant
    ``filtered_recall_ok`` boolean — recall of the filtered index
    search vs filtered-exact >= FILTERED_RECALL_BOUND — which the
    oracle asserts literally TRUE. Every result of the index search
    satisfying the predicate is additionally asserted in
    tests/test_filtered_ann.py (with delta-extend and staleness
    coverage)."""
    from ..sources.vector_index import ann_search

    root = _staged_filtered_root(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    approx = ann_search(
        spark,
        root,
        probes,
        k_neighbors=TOP_K,
        nprobe=FILTERED_NPROBE,
        filter=ANN_FILTER_PRED,
    )
    exact = _ann_topk_filtered_exact(spark, sf_dir)
    return _with_recall_flag(
        exact, approx, FILTERED_RECALL_BOUND, "filtered_recall_ok"
    ).orderBy("probe_id", "rnk")


# The curation loop's delete step: ~10% of the corpus (every vec_id
# ≡ 3 mod 10 — uniform across buckets, so no nprobe escalation is
# needed beyond the unfiltered setting's headroom) is deletion-
# vector-DELETEd AFTER the index build. The search must then serve
# WITHOUT a rebuild and WITHOUT resurrecting deleted neighbors —
# vector_index._staleness_gate's deletion-aware live mask.
AFTER_DELETE_PRED = "vec_id % 10 = 3"
AFTER_DELETE_SURVIVOR_PRED = "vec_id % 10 <> 3"
AFTER_DELETE_NPROBE = 8
# measured post-delete recall vs survivor-exact: 0.94 / 0.94 / 1.00
# at sf0.001 / 0.01 / 0.1 (nprobe=8 of 16 buckets; deletion is
# non-selective so no escalation needed); bound one notch below the
# measured floor (r5 discipline: sf jitter can't flip a driver row,
# a real regression still does)
AFTER_DELETE_RECALL_BOUND = 0.8


def ann_ivf_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (r14, r13 VERDICT item 2 — deletion-aware index
    serving): write embeddings as a lance dataset, build the IVF
    index, deletion-vector-DELETE ~10% of rows (version 2), then
    ``ann_search`` at the HEAD. Before r14 this refused (full
    rebuild demanded); now the search anti-joins candidates against
    the live deletion masks (Lance proper's scan-time masking,
    rust/scanner.rs) and serves the exact top-k over SURVIVORS —
    O(deleted rows) extra work, index untouched.

    Hash discipline (the ann_ivf_filtered recall-flag pattern):
    hashed rows are the exact survivor-only brute-force top-k plus a
    constant ``after_delete_ok`` boolean — TRUE iff (a) recall of
    the post-delete index search vs survivor-exact >= bound AND (b)
    the index search served ZERO deleted ids. The oracle asserts it
    literally TRUE; tests/test_deletion_aware.py covers the serving
    ladder (delete-only serves, append/rewrite still refuse,
    allow_stale still means the snapshot)."""
    from ..sources.vector_index import ann_search

    root = _staged_ivf_dataset(
        spark, sf_dir, "ivfafterdel.lance", delete_pred=AFTER_DELETE_PRED
    )
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    approx = ann_search(
        spark,
        root,
        probes,
        k_neighbors=TOP_K,
        nprobe=AFTER_DELETE_NPROBE,
    )
    exact = _ann_topk_filtered_exact(
        spark, sf_dir, pred=AFTER_DELETE_SURVIVOR_PRED
    )
    # the served ids feed TWO consumers — the zero-deleted-ids audit
    # below and _with_recall_flag's hit join — and as two distinct
    # plan subtrees each re-ran the whole serve path (bucket-pruned
    # posting scan, probe join, scored top-k window, live-mask
    # anti-join). Spill the narrow (probe_id, neighbor_id) projection
    # once (r14 optimization, the _with_recall_flag discipline): the
    # serve subtree executes once, both consumers read the tiny
    # parquet. Longs roundtrip bit-exactly; neither consumer reads
    # any other column.
    approx = spill_to_parquet(
        approx.select("probe_id", "neighbor_id"), "afterdel-approx"
    )
    # (b) is the deletion-aware contract itself: a single deleted id
    # in the served top-k means the live mask failed. Derived from
    # AFTER_DELETE_PRED (vec_id -> neighbor_id) so the audit can
    # never drift from the staged DELETE's predicate (r14 review).
    neighbor_deleted = AFTER_DELETE_PRED.replace("vec_id", "neighbor_id")
    none_deleted = approx.agg(
        (
            F.coalesce(
                F.sum(F.when(F.expr(neighbor_deleted), 1)), F.lit(0)
            )
            == 0
        ).alias("d_ok")
    )
    return _with_recall_flag(
        exact,
        approx,
        AFTER_DELETE_RECALL_BOUND,
        "after_delete_ok",
        extra_ok=none_deleted,
    ).orderBy("probe_id", "rnk")


ANN_AFTER_DELETE_SQL = f"""
SELECT probe_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk,
       TRUE AS after_delete_ok
FROM (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
    list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                           CAST(c.embedding AS DOUBLE[])) AS cos_sim,
    ROW_NUMBER() OVER (
      PARTITION BY p.vec_id
      ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) DESC,
               c.vec_id ASC) AS rnk
  FROM embeddings p, embeddings c
  WHERE p.vec_id < {N_PROBES} AND c.vec_id != p.vec_id
    AND c.vec_id % 10 != 3
)
WHERE rnk <= {TOP_K}
ORDER BY probe_id, rnk
"""


ANN_FILTERED_SQL = f"""
SELECT probe_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk,
       TRUE AS filtered_recall_ok
FROM (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
    list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                           CAST(c.embedding AS DOUBLE[])) AS cos_sim,
    ROW_NUMBER() OVER (
      PARTITION BY p.vec_id
      ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) DESC,
               c.vec_id ASC) AS rnk
  FROM embeddings p, embeddings c
  WHERE p.vec_id < {N_PROBES} AND c.vec_id != p.vec_id
    AND c.label IN (2, 5)
)
WHERE rnk <= {TOP_K}
ORDER BY probe_id, rnk
"""


# -- ANN through SQL (the DuckDB-UX spelling) -------------------------------

# One SQL statement serves ONE query vector (the reference's users
# rank against a literal or parameter vector); the driver query
# issues a few statements to exercise the path meaningfully without
# turning the bench entry into a loop benchmark.
SQL_ANN_PROBES = 3


def lance_sql_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query (r14, r13 VERDICT item 3): the SQL spelling of
    filtered ANN — ``SELECT vec_id, cosine_similarity(embedding,
    [<literal vector>]) AS score FROM '<root>' WHERE label IN (2,5)
    AND vec_id <> <pid> ORDER BY score DESC LIMIT k`` — recognized
    by ``lance_sql`` (catalog._run_ann) and served from the
    persisted IVF index: bucket-pruned postings scan, pre-filter
    semi-join, deletion-aware gate — never a brute-force scan. The
    reference's users type SQL against DuckDB's
    ``list_cosine_similarity``; this is that UX on Spark.

    Reuses ann_ivf_filtered's staged dataset + index (identical
    staging discipline). Hash discipline (recall-flag pattern):
    hashed rows are the exact filtered brute-force top-k for the
    SQL_ANN_PROBES query vectors plus a constant ``sql_ann_ok``
    recall flag the oracle asserts literally TRUE. Shape/metric
    refusals and bucket pruning are pytest-asserted
    (tests/test_sql_ann.py)."""
    from ..catalog import lance_sql

    root = _staged_filtered_root(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    probe_rows = (
        emb.where(F.col("vec_id") < SQL_ANN_PROBES)
        .select("vec_id", "embedding")
        .collect()
    )
    parts = []
    for r in probe_rows:
        pid = int(r["vec_id"])
        lit = ", ".join(repr(float(x)) for x in r["embedding"])
        stmt = (
            f"SELECT vec_id, cosine_similarity(embedding, [{lit}]) "
            f"AS score FROM '{root}' "
            f"WHERE label IN (2, 5) AND vec_id <> {pid} "
            f"ORDER BY score DESC LIMIT {TOP_K}"
        )
        parts.append(
            lance_sql(spark, stmt).select(
                F.lit(pid).alias("probe_id"),
                F.col("vec_id").alias("neighbor_id"),
            )
        )
    approx = parts[0]
    for p in parts[1:]:
        approx = approx.unionByName(p)
    exact = _ann_topk_filtered_exact(spark, sf_dir).where(
        F.col("probe_id") < SQL_ANN_PROBES
    )
    return _with_recall_flag(
        exact, approx, FILTERED_RECALL_BOUND, "sql_ann_ok"
    ).orderBy("probe_id", "rnk")


LANCE_SQL_ANN_SQL = f"""
SELECT probe_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk,
       TRUE AS sql_ann_ok
FROM (
  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
    list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                           CAST(c.embedding AS DOUBLE[])) AS cos_sim,
    ROW_NUMBER() OVER (
      PARTITION BY p.vec_id
      ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])) DESC,
               c.vec_id ASC) AS rnk
  FROM embeddings p, embeddings c
  WHERE p.vec_id < {SQL_ANN_PROBES} AND c.vec_id != p.vec_id
    AND c.label IN (2, 5)
)
WHERE rnk <= {TOP_K}
ORDER BY probe_id, rnk
"""


# -- IVF-bucketed near-dup (the 100 TB dedup path) --------------------------

# each vector joins its NDUP_ASSIGN nearest centroid buckets: a pair
# is found iff the two bucket sets intersect. Multi-assignment is
# the boundary remedy — a near-identical pair (the dedup target,
# cos >= ~0.8) almost always shares its nearest centroid; pairs
# split across a Voronoi boundary are caught via the second
# assignment. SemDeDup-style cluster-then-compare.
NDUP_ASSIGN = 2


# Two-level (coarse-quantizer) IVF (r9 VERDICT item 1): past this
# fine-centroid count, flat assignment is refused its own scale
# hazards — the k ~ n/500 rule makes the n*k assignment O(n^2/500)
# by algebra, and the driver-side k-vector collect/broadcast grows
# with the corpus. Above the bound the operators auto-route through
# two_level_assign (driver holds only ~sqrt(k) coarse seeds).
TWO_LEVEL_MIN_K = 4096
TWO_LEVEL_PROBES = 4
CELL_SALT = 8  # cogroup sub-groups per cell (hot-cell straggler cap)
# Bounded-broadcast tier: while the FINE table fits this many bytes
# (k x dim x 8), the two-level assignment broadcasts it grouped by
# cell and runs as ONE zero-shuffle map pass — same candidates, same
# ranking, bit-identical output to the cogroup form (test-asserted).
# Past the bound (k > ~131k at dim 64) the cogroup form engages: its
# shuffle replicates each vector `probes` times, but nothing grows
# on the driver. 64 MB is deliberately far below broadcast limits —
# the point is a FIXED ceiling, not a tuned one.
TWO_LEVEL_BROADCAST_BYTES = 64 * 1024 * 1024


def two_level_assign(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    keep_n: int,
    coarse_m: int,
    probes: int,
) -> DataFrame:
    """Two-level IVF assignment: route every vector to its top
    ``keep_n`` of ``k`` fine centroids WITHOUT ever materializing
    the k centroids on the driver.

    Structure (all deterministic, oracle-replicable):

    - fine centroids = the ``k`` lowest-vec_id vectors (the ann_ivf
      seed convention, standing in for a k-means fit);
    - coarse seeds = the ``coarse_m`` lowest-vec_id vectors (a
      prefix of the fine set) — the ONLY driver collect/broadcast,
      ~sqrt(k) rows;
    - each fine centroid lives in its nearest coarse cell (cos DESC,
      cell_id ASC — rank 1), computed distributedly;
    - each vector probes its top ``probes`` coarse cells, then ranks
      only the fine centroids living in those cells; per-cell local
      top-``keep_n`` candidates merge through one slim global window
      (cos DESC, centroid_id ASC).

    Scale shape: per-vector work is coarse_m + probes * k/coarse_m
    dots (vs k flat — O(sqrt(k)) at coarse_m ~ sqrt(k)); the driver
    holds coarse_m vectors (vs k); the cogroup shuffles each vector
    ``probes`` times. Every cosine is ``_fold``'s, so the two-level selection is bit-replicable by the DuckDB
    oracle (embedding_neardup_ivf pins it hash-exact).

    Returns (vec_id, centroid_id, crnk) with crnk in 1..keep_n;
    vectors whose probed cells hold fewer than keep_n fine centroids
    get fewer ranks (same clamp as the flat path)."""
    import numpy as np
    import pandas as pd

    coarse_m = max(1, min(coarse_m, k))
    coarse_rows = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(coarse_m)
        .collect()
    )
    S = np.array(
        [r["embedding"] for r in coarse_rows], dtype=np.float32
    ).astype(np.float64)
    s_ids = np.array([r["vec_id"] for r in coarse_rows], dtype=np.int64)
    s_nrm = np.sqrt(_fold(S.T, S.T))
    bc = spark.sparkContext.broadcast((s_ids, S, s_nrm))

    def nearest_cells(n_cells: int):
        def fn(batches):
            ids_s, Sm, nrm_s = bc.value
            keep = min(n_cells, len(Sm))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(
                    list(pdf["embedding"]), dtype=np.float32
                ).astype(np.float64)
                nx = np.sqrt(_fold(X.T, X.T))
                _require_nonzero_norms(nx)
                cos = _cos_matrix(X, nx, Sm, nrm_s)
                order = np.lexsort(
                    (np.broadcast_to(ids_s, cos.shape), -cos), axis=1
                )[:, :keep]
                out = pdf.loc[pdf.index.repeat(keep)].reset_index(
                    drop=True
                )
                out["cell_id"] = ids_s[order].reshape(-1)
                yield out[["vec_id", "embedding", "cell_id"]]

        return fn

    cell_schema = "vec_id long, embedding array<float>, cell_id long"
    fine = emb.select("vec_id", "embedding").orderBy("vec_id").limit(k)
    cells = fine.mapInPandas(nearest_cells(1), schema=cell_schema)
    # a single large parquet file arrives in O(size/maxPartitionBytes)
    # splits — far fewer than the cores at sfd100+ — and the probe
    # pass is the corpus's numpy-heavy stage, so spread it explicitly
    # (round-robin, no key: per-row outputs are batch-independent)
    par = max(emb.sparkSession.sparkContext.defaultParallelism, 8)
    dim = len(coarse_rows[0]["embedding"]) if coarse_rows else 0
    if k * dim * 8 <= TWO_LEVEL_BROADCAST_BYTES:
        # bounded-broadcast tier: the whole fine table (grouped by
        # cell) rides one broadcast and the assignment is a single
        # ZERO-SHUFFLE map pass — no probes-fold replication of the
        # corpus through a cogroup shuffle (the sfd1000 cogroup run
        # measured ~46 GB of shuffle + spill for 21M vectors). The
        # candidates, cosine folds, and tie-breaks are identical, so
        # the output is bit-identical to the cogroup form
        # (test-asserted in tests/test_llm_ops.py).
        fine_rows = cells.collect()  # <= TWO_LEVEL_BROADCAST_BYTES
        grouped: dict[int, list] = {}
        for r in fine_rows:
            grouped.setdefault(int(r["cell_id"]), []).append(
                (int(r["vec_id"]), r["embedding"])
            )
        packed = {}
        for c, rows_ in grouped.items():
            f_ids = np.array([t[0] for t in rows_], dtype=np.int64)
            FM = np.array(
                [t[1] for t in rows_], dtype=np.float32
            ).astype(np.float64)
            packed[c] = (f_ids, FM, np.sqrt(_fold(FM.T, FM.T)))
        bc_fine = spark.sparkContext.broadcast(packed)

        def assign_bcast(batches):
            ids_s, Sm, nrm_s = bc.value
            fine_map = bc_fine.value
            pkeep = min(probes, len(Sm))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(
                    list(pdf["embedding"]), dtype=np.float32
                ).astype(np.float64)
                nx = np.sqrt(_fold(X.T, X.T))
                _require_nonzero_norms(nx)
                vid = pdf["vec_id"].to_numpy()
                cos_s = _cos_matrix(X, nx, Sm, nrm_s)
                probe_cells = ids_s[
                    np.lexsort(
                        (np.broadcast_to(ids_s, cos_s.shape), -cos_s),
                        axis=1,
                    )[:, :pkeep]
                ]
                n = len(X)
                CC: list[list] = [[] for _ in range(n)]
                CI: list[list] = [[] for _ in range(n)]
                for p in range(pkeep):
                    col = probe_cells[:, p]
                    for c in np.unique(col):
                        ent = fine_map.get(int(c))
                        if ent is None:
                            continue
                        m = col == c
                        f_ids, FM, f_nrm = ent
                        Xs = X[m]
                        cosf = _cos_matrix(Xs, nx[m], FM, f_nrm)
                        kk = min(keep_n, len(FM))
                        o = np.lexsort(
                            (np.broadcast_to(f_ids, cosf.shape), -cosf),
                            axis=1,
                        )[:, :kk]
                        rr = np.arange(len(Xs))[:, None]
                        sel_cos = cosf[rr, o]
                        sel_ids = f_ids[o]
                        for ii, gr in enumerate(np.nonzero(m)[0]):
                            CC[gr].append(sel_cos[ii])
                            CI[gr].append(sel_ids[ii])
                vv, cc_, rk_ = [], [], []
                for i in range(n):
                    if not CC[i]:
                        continue
                    cosv = np.concatenate(CC[i])
                    idv = np.concatenate(CI[i])
                    o = np.lexsort((idv, -cosv))[:keep_n]
                    for rank, j in enumerate(o, 1):
                        vv.append(vid[i])
                        cc_.append(idv[j])
                        rk_.append(rank)
                yield pd.DataFrame(
                    {
                        "vec_id": np.array(vv, dtype=np.int64),
                        "centroid_id": np.array(cc_, dtype=np.int64),
                        "crnk": np.array(rk_, dtype=np.int32),
                    }
                )

        return (
            emb.select("vec_id", "embedding")
            .repartition(par)
            .mapInPandas(
                assign_bcast,
                schema="vec_id long, centroid_id long, crnk int",
            )
        )
    probed = (
        emb.select("vec_id", "embedding")
        .repartition(par)
        .mapInPandas(nearest_cells(probes), schema=cell_schema)
    )
    # SALT the cogroup: cell populations are uneven (random seed
    # cells draw 2-10x the mean), and applyInPandas materializes a
    # whole group in one task — the sfd1000 smoke measured one hot
    # cell owning a multi-minute straggler. Probers split across
    # CELL_SALT sub-groups (per-row results don't depend on group
    # composition, so output is unchanged); the small fine side
    # replicates per salt.
    probed = probed.withColumn(
        "salt", F.pmod(F.col("vec_id"), F.lit(CELL_SALT)).cast("int")
    )

    def cell_topk(left: "pd.DataFrame", right: "pd.DataFrame"):
        # left = vectors probing this cell, right = the cell's fine
        # centroids; emit each vector's local top-keep_n candidates
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"vec_id": [], "centroid_id": [], "cos_sim": []}
            ).astype(
                {"vec_id": "int64", "centroid_id": "int64",
                 "cos_sim": "float64"}
            )
        X = np.array(list(left["embedding"]), dtype=np.float32).astype(
            np.float64
        )
        C = np.array(list(right["embedding"]), dtype=np.float32).astype(
            np.float64
        )
        c_ids = right["centroid_id"].to_numpy()
        nx, nc = np.sqrt(_fold(X.T, X.T)), np.sqrt(_fold(C.T, C.T))
        cos = _cos_matrix(X, nx, C, nc)
        keep = min(keep_n, len(C))
        order = np.lexsort(
            (np.broadcast_to(c_ids, cos.shape), -cos), axis=1
        )[:, :keep]
        rows = np.arange(len(X))[:, None]
        return pd.DataFrame(
            {
                "vec_id": np.repeat(left["vec_id"].to_numpy(), keep),
                "centroid_id": c_ids[order].reshape(-1),
                "cos_sim": cos[rows, order].reshape(-1),
            }
        )

    salted_cells = (
        cells.select(
            F.col("vec_id").alias("centroid_id"), "embedding", "cell_id"
        )
        .withColumn(
            "salt",
            F.explode(F.array(*[F.lit(i) for i in range(CELL_SALT)])),
        )
    )
    cand = (
        probed.groupBy("cell_id", "salt")
        .cogroup(salted_cells.groupBy("cell_id", "salt"))
        .applyInPandas(
            cell_topk, schema="vec_id long, centroid_id long, cos_sim double"
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.asc("centroid_id")
    )
    return (
        cand.withColumn("crnk", F.row_number().over(w))
        .where(F.col("crnk") <= keep_n)
        .select("vec_id", "centroid_id", "crnk")
    )


def ivf_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = NEARDUP_THRESHOLD,
    k: int = IVF_K,
    coarse_m: int | None = None,
    probes: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via IVF bucketing — the 100 TB shape for
    EMBEDDING dedup (cf. the SemDeDup recipe: k-means cluster, then
    compare only within clusters): assign every vector to its
    ``NDUP_ASSIGN`` nearest of ``k`` deterministic seed centroids
    (the k lowest-vec_id vectors — the ann_ivf convention), run the
    exact pair scan WITHIN each bucket only, and union. With k
    scaled to corpus size (k ≈ n/500), per-bucket work is bounded
    and total work is O(n · bucket) — linear — versus the
    sign-RP-LSH variant whose 3-bit bands prune random pairs only
    ~2x (measured: quadratic candidate growth in the r7 sf10 smoke;
    lsh_neardup_pairs remains the recall-audited small-scale tool,
    this is the scale path).

    Deterministic end to end (seed centroids, fold-ordered cosine,
    explicit tie-breaks), so the DuckDB oracle replicates the
    ALGORITHM itself and the driver row is hash-exact — including
    which boundary pairs the bucketing misses. Honest scope: IVF
    near-dup targets genuinely-similar duplicates; pairs barely
    above the random-cosine noise floor (cos ~3σ, e.g. 0.4 at
    dim 64) are not clusterable by ANY bucketing scheme without
    quadratic work, and recall for those is audited in
    tests/test_llm_ops.py, not promised.

    Assignment is ``nearest_centroids`` (or ``two_level_assign``):
    every vector-centroid cosine is the fold DuckDB evaluates, so the
    rank-2 cut can never disagree with the oracle's ROW_NUMBER. The
    in-bucket scan is ``_bucket_pairs``: a matmul prefilter at a
    proven-lossless 1e-6 margin, then the exact fold, in the task."""
    import math

    emb = load(spark, sf_dir, "embeddings")
    if coarse_m is None and k >= TWO_LEVEL_MIN_K:
        # auto-route through the coarse quantizer: flat assignment at
        # the k ~ n/500 rule is O(n^2/500) and collects k vectors to
        # the driver — the named flat-IVF scale ceiling
        coarse_m = max(1, math.isqrt(k))
    if coarse_m:
        assigned = two_level_assign(
            spark,
            emb.select("vec_id", "embedding"),
            k,
            NDUP_ASSIGN,
            coarse_m,
            probes or TWO_LEVEL_PROBES,
        )
    else:
        cents = [
            (r["vec_id"], r["embedding"])
            for r in emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
        ]
        assigned = nearest_centroids(emb, "vec_id", "embedding", cents, NDUP_ASSIGN)
    # a pair sharing both buckets is scored in each, to the same bits
    return (
        assigned.select("vec_id", "centroid_id")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .groupBy("centroid_id")
        .applyInPandas(
            _bucket_pairs(threshold), schema="vec_a long, vec_b long, cos_sim double"
        )
        .distinct()
        .orderBy("vec_a", "vec_b")
    )


def embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the IVF-bucketed near-dup pair set through the
    TWO-LEVEL (coarse-quantizer) assignment — r9 VERDICT item 1's
    scale path, driver-proven hash-exact: 4 coarse cells over the 16
    fine seed centroids, 2 probed cells per vector, rank-2 fine
    assignment within the probed cells. The oracle replicates the
    whole deterministic two-level selection (cell routing, probe
    set, per-vector fine rank with explicit tie-breaks, in-bucket
    exact pairs), misses and all."""
    return ivf_neardup_pairs(spark, sf_dir, coarse_m=4, probes=2)


EMBEDDING_NEARDUP_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, embedding AS ce
  FROM embeddings ORDER BY vec_id LIMIT {IVF_K}
),
coarse AS (
  SELECT vec_id AS cell_id, embedding AS se
  FROM embeddings ORDER BY vec_id LIMIT 4
),
cells AS (
  SELECT centroid_id, ce, cell_id FROM (
    SELECT c.centroid_id, c.ce, s.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY c.centroid_id
        ORDER BY list_cosine_similarity(CAST(c.ce AS DOUBLE[]),
                                        CAST(s.se AS DOUBLE[])) DESC,
                 s.cell_id ASC) AS rnk
    FROM c, coarse s
  ) WHERE rnk = 1
),
probed AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, s.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(s.se AS DOUBLE[])) DESC,
                 s.cell_id ASC) AS prnk
    FROM embeddings e, coarse s
  ) WHERE prnk <= 2
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, f.centroid_id,
      ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(f.ce AS DOUBLE[])) DESC,
                 f.centroid_id ASC) AS crnk
    FROM embeddings e
    JOIN probed p ON p.vec_id = e.vec_id
    JOIN cells f ON f.cell_id = p.cell_id
  ) WHERE crnk <= {NDUP_ASSIGN}
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM assigned x JOIN assigned y
    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
)
SELECT p.vec_a, p.vec_b,
  list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                         CAST(eb.embedding AS DOUBLE[])) AS cos_sim
FROM cand p
JOIN embeddings ea ON ea.vec_id = p.vec_a
JOIN embeddings eb ON eb.vec_id = p.vec_b
WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                             CAST(eb.embedding AS DOUBLE[])) >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


QUERIES = {
    "embedding_neardup": embedding_neardup,
    "embedding_neardup_lsh": embedding_neardup_lsh,
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_ivf": ann_ivf,
    "ann_ivf_indexed": ann_ivf_indexed,
    "ann_ivf_pq": ann_ivf_pq,
    "ann_ivf_filtered": ann_ivf_filtered,
    "ann_ivf_after_delete": ann_ivf_after_delete,
    "lance_sql_ann": lance_sql_ann,
    "embedding_neardup_ivf": embedding_neardup_ivf,
}

ORACLE = {
    "embedding_neardup_ivf": EMBEDDING_NEARDUP_IVF_SQL,
    "embedding_neardup": EMBEDDING_NEARDUP_SQL,
    "embedding_neardup_lsh": EMBEDDING_NEARDUP_LSH_SQL,
    "ann_topk_bruteforce": ANN_TOPK_SQL,
    "ann_ivf": ANN_IVF_SQL,
    "ann_ivf_indexed": _topk_flag_sql("ivf_recall_ok"),
    "ann_ivf_pq": _topk_flag_sql("pq_recall_ok"),
    "ann_ivf_filtered": ANN_FILTERED_SQL,
    "ann_ivf_after_delete": ANN_AFTER_DELETE_SQL,
    "lance_sql_ann": LANCE_SQL_ANN_SQL,
}
