"""Scalar-quantized (SQ8) vector search with PROVABLY LOSSLESS exact
top-k (SURVEY.md §2.C — the quantization tier Lance proper ships as
its SQ index family; reference anchor: rust/lib.rs exposes Lance's
index surface, of which IVF/PQ/SQ are the standard members; this repo
already covers IVF and IVF_PQ in similarity.py / vector_index.py).

The 100 TB motivation is bandwidth, not candidates: an int8 code
vector is 4x smaller than float32 (8x smaller than the DOUBLE the
exact fold needs), so a quantized scan reads a quarter of the bytes
and runs the heavy probe-x-corpus scoring as a BLAS GEMM over codes.
What makes it a first-class operator rather than an approximation:

- per-vector symmetric quantization, scale s = 127/max|v_d|, code =
  floor(v*s + 0.5): reconstruction error per dimension is <= 0.5/s;
- the quantized cosine therefore carries a COMPUTABLE per-pair error
  bound eps = (0.5/s_y * L1(x_hat) + 0.5/s_x * L1(y)) / (|x||y|)
  (triangle inequality over the dot), inflated by a float-rounding
  guard;
- per Arrow batch, rows whose upper bound clears the batch's k-th
  best lower bound are EXACT-rescored with the bit-exact sequential
  fold (similarity.py numeric discipline) — a provable superset of
  the batch's true top-k, so the batch winners are exact, so the
  global window over batch winners is exact. The same
  prefilter-then-exact-recheck pattern as embedding_neardup's BLAS
  margin: quantization decides only WHICH rows pay the exact fold,
  never what any emitted score is.

Consequently ann_sq8_topk's output is bit-identical to
ann_topk_bruteforce and SHARES its DuckDB oracle — the strongest
correctness statement a compressed-domain search can make.

Scale ledger: corpus — one scan, no shuffle (each worker emits at
most TOP_K rows per probe per batch); probes — broadcast (N_PROBES
rows); driver — never sees a vector. Shuffle volume is
O(batches * probes * k) slim rows into the final window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_frame
from ..tables import load
from .similarity import ANN_TOPK_SQL, N_PROBES, TOP_K, _clamp, _fold, pair_cosine

SQ8_MAX_CODE = 127.0

# float32 GEMM over codes is exact integer arithmetic only while
# 127*127*dim < 2^24 (every product <= 16129 is exact; the sum stays
# under the 24-bit mantissa). Above this, the GEMM runs in float64 —
# still exact for any practical dim (products exact in 53 bits, sums
# exact to dim ~ 2^29) — so the lossless bound holds at 768/1536-dim
# production embeddings too, just without the 4-byte GEMM operands.
SQ8_F32_GEMM_MAX_DIM = (1 << 24) // (127 * 127)  # = 1040


def _gemm_dtype(dim: int):
    import numpy as np

    return np.float32 if dim <= SQ8_F32_GEMM_MAX_DIM else np.float64


def _quantize(X):
    """Symmetric per-vector SQ8: returns (codes float32 — exact
    integers in [-127,127], scales float64). Zero vectors quantize
    to zero codes with scale 1 (their cosine is NaN either way and
    the testdata has none; the guard just keeps arithmetic finite).
    Codes stay in float32 because 127*127*64 < 2^24 — the GEMM over
    them is exact integer arithmetic on BLAS floats."""
    import numpy as np

    amax = np.abs(X).max(axis=1)
    scales = np.where(amax > 0, SQ8_MAX_CODE / np.where(amax > 0, amax, 1.0), 1.0)
    codes = np.floor(X * scales[:, None] + 0.5)
    return codes.astype(np.float32), scales


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C53: exact ANN top-k served from SQ8-quantized codes — the
    compressed-domain scan with a lossless-bound rescore. Output and
    oracle are ann_topk_bruteforce's, bit for bit."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    probe_rows = (
        emb.where(F.col("vec_id") < N_PROBES)
        .select("vec_id", "embedding")
        .collect()
    )
    if not probe_rows:
        return local_frame(
            spark,
            [],
            "probe_id long, neighbor_id long, cos_sim double, rnk int",
        )
    P = np.array([r["embedding"] for r in probe_rows], dtype=np.float32).astype(
        np.float64
    )
    p_ids = np.array([r["vec_id"] for r in probe_rows], dtype=np.int64)
    Pc, p_scales = _quantize(P)
    P_hat = Pc.astype(np.float64) / p_scales[:, None]  # dequantized probes
    p_nrm = np.sqrt(_fold(P.T, P.T))  # exact probe norms
    p_l1_hat = np.abs(P_hat).sum(axis=1)
    bc = spark.sparkContext.broadcast(
        (p_ids, P, Pc, p_scales, p_nrm, p_l1_hat)
    )

    def scan(batches):
        ids_p, Pm, Pcm, s_p, nrm_p, l1_hat_p = bc.value
        k = TOP_K
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Y = np.array(list(pdf["embedding"]), dtype=np.float32).astype(
                np.float64
            )
            y_ids = pdf["vec_id"].to_numpy()
            Yc, s_y = _quantize(Y)
            y_nrm = np.sqrt(_fold(Y.T, Y.T))  # exact corpus norms
            y_l1 = np.abs(Y).sum(axis=1)
            # the compressed-domain GEMM: exact integer dot of codes
            # (float32 BLAS while 127^2*dim < 2^24, float64 above —
            # see SQ8_F32_GEMM_MAX_DIM; either way exact integers)
            gt = _gemm_dtype(Y.shape[1])
            Dq = (Yc.astype(gt) @ Pcm.astype(gt).T).astype(
                np.float64
            ) / (s_y[:, None] * s_p[None, :])
            denom = y_nrm[:, None] * nrm_p[None, :]
            approx = Dq / denom
            # lossless bound: quantization error + float-round guard
            eps = (
                (0.5 / s_y)[:, None] * l1_hat_p[None, :]
                + (0.5 / s_p)[None, :] * y_l1[:, None]
            ) / denom
            eps = eps * (1.0 + 1e-9) + 1e-12
            self_pair = y_ids[:, None] == ids_p[None, :]
            lb = np.where(self_pair, -np.inf, approx - eps)
            ub = np.where(self_pair, -np.inf, approx + eps)
            out = {"probe_id": [], "neighbor_id": [], "cos_sim": []}
            for j in range(Pm.shape[0]):
                n_rows = (~self_pair[:, j]).sum()
                if n_rows == 0:
                    continue
                kk = min(k, int(n_rows))
                # batch threshold: the kk-th best LOWER bound —
                # any true top-kk row must have ub >= it
                thresh = np.partition(lb[:, j], len(lb) - kk)[len(lb) - kk]
                cand = np.nonzero(ub[:, j] >= thresh)[0]
                # exact rescore of the provable superset only
                cos = _clamp(
                    _fold(Y[cand].T, Pm[j]) / (y_nrm[cand] * nrm_p[j])
                )
                order = np.lexsort((y_ids[cand], -cos))[:kk]
                sel = cand[order]
                out["probe_id"].extend([ids_p[j]] * len(sel))
                out["neighbor_id"].extend(y_ids[sel].tolist())
                out["cos_sim"].extend(cos[order].tolist())
            yield pd.DataFrame(out).astype(
                {"probe_id": "int64", "neighbor_id": "int64",
                 "cos_sim": "float64"}
            )

    from .common import spread

    winners = spread(emb.select("vec_id", "embedding")).mapInPandas(
        scan, "probe_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        winners.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cos_sim", "rnk")
        .orderBy("probe_id", "rnk")
    )


_SQ8_STORE_SCHEMA = (
    "vec_id long, codes array<tinyint>, scale double, "
    "nrm double, l1 double"
)


def _encoded(emb: DataFrame) -> DataFrame:
    """(vec_id, codes, scale, nrm, l1) — the SQ8 row for each vector:
    int8 codes plus the three doubles the lossless search bound
    needs (scale, the EXACT sequential-fold norm of the original,
    its L1 mass). ONE encoder for build and extend."""
    import numpy as np
    import pandas as pd

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float32).astype(
                np.float64
            )
            codes, scales = _quantize(X)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": list(codes.astype(np.int8)),
                    "scale": scales,
                    "nrm": np.sqrt(_fold(X.T, X.T)),
                    "l1": np.abs(X).sum(axis=1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        encode, _SQ8_STORE_SCHEMA
    )


def _sq8_meta_path(store_dir: str) -> str:
    import os

    return os.path.join(store_dir, "_meta.json")


def _publish_sq8_meta(store_dir: str, meta: dict) -> None:
    """Atomic publish through the iolayer — a reader sees either
    the old part list or the new one, never a torn state. Same
    discipline as the FTS index meta (operators/fts.py)."""
    import json as _json

    from ..sources import iolayer as iol

    iol.write_text(_sq8_meta_path(store_dir), _json.dumps(meta))


def _sq8_parts(store_dir: str) -> list[str]:
    import json as _json

    from ..sources import iolayer as iol

    return _json.loads(iol.read_text(_sq8_meta_path(store_dir)))[
        "parts"
    ]


def read_sq8_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The served view of the store: the union of exactly the parts
    the published meta lists — staged-but-unpublished increments
    (crash debris, in-flight retries) are invisible."""
    import os

    from ..sources import iolayer as iol

    return spark.read.parquet(
        *[
            iol.spark_read_path(os.path.join(store_dir, p))
            for p in _sq8_parts(store_dir)
        ]
    )


def build_sq8_store(spark: SparkSession, emb: DataFrame, store_dir: str) -> None:
    """Persist the SQ8 tier — 4x smaller than float32 vectors (codes
    are array<tinyint>; the three bound doubles amortize over dim).
    Once written, serving never recomputes anything from originals
    except the final exact rescore of bound-surviving candidates.

    Layout: each build/extend increment is its own uniquely-named
    ``part_<hex>`` subdir; ONE atomic ``_meta.json`` replace names
    the served parts (the FTS index publish pattern, fts.py)."""
    import os
    import uuid as _uuid

    from ..sources import iolayer as iol

    iol.makedirs(store_dir)
    part = f"part_{_uuid.uuid4().hex[:8]}"
    _encoded(emb).write.mode("overwrite").parquet(
        iol.spark_write_path(os.path.join(store_dir, part))
    )
    _publish_sq8_meta(store_dir, {"parts": [part]})


def extend_sq8_store(
    spark: SparkSession, new_emb: DataFrame, store_dir: str
) -> None:
    """O(appended vectors) store maintenance: SQ8 encoding is purely
    per-vector (scale, codes, norm, L1 never depend on other rows),
    so extending the store is one newly-encoded part — no global
    statistic to merge. Crash safety comes from the staged-publish
    layout, not from parquet append semantics: the increment lands
    in its own ``part_<hex>`` subdir and becomes visible only via
    the atomic meta replace, so a crash at ANY point (mid-write or
    between write and publish) leaves the served store untouched,
    and a retry writes a fresh part and publishes once — never a
    double-append (r9 advice: mode('append') retries duplicated
    rows, and duplicate (probe, neighbor) candidates double-rank a
    neighbor in the served top-k)."""
    import os
    import uuid as _uuid

    from ..sources import iolayer as iol

    part = f"part_{_uuid.uuid4().hex[:8]}"
    _encoded(new_emb).write.mode("overwrite").parquet(
        iol.spark_write_path(os.path.join(store_dir, part))
    )
    _publish_sq8_meta(
        store_dir, {"parts": _sq8_parts(store_dir) + [part]}
    )


def sq8_store_search(
    spark: SparkSession,
    emb: DataFrame,
    store_dir: str,
    filter: str | None = None,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Serve exact top-k from a persisted SQ8 store (the search body
    of ann_sq8_indexed, extracted r13 so a row predicate can ride
    along): scan the int8 codes, emit the lossless-bound candidate
    superset per batch, exact-rescore against the original vectors.

    ``filter`` (r13, r12 VERDICT item 1): a Spark SQL predicate over
    ``emb``'s columns with PRE-filter semantics — the store scan is
    semi-joined to the qualifying ids BEFORE the batch bound logic,
    so each batch's k-th-best threshold, the candidate superset, and
    the final window all rank qualifying rows only. The lossless
    guarantee is unchanged: the output is the exact brute-force
    top-k over the qualifying sub-corpus."""
    import numpy as np
    import pandas as pd

    from .common import spread

    probe_rows = (
        emb.where(F.col("vec_id") < N_PROBES)
        .select("vec_id", "embedding")
        .collect()
    )
    if not probe_rows:
        return local_frame(
            spark,
            [],
            "probe_id long, neighbor_id long, cos_sim double, rnk int",
        )
    P = np.array(
        [r["embedding"] for r in probe_rows], dtype=np.float32
    ).astype(np.float64)
    p_ids = np.array([r["vec_id"] for r in probe_rows], dtype=np.int64)
    Pc, p_scales = _quantize(P)
    P_hat = Pc.astype(np.float64) / p_scales[:, None]
    p_nrm = np.sqrt(_fold(P.T, P.T))
    p_l1_hat = np.abs(P_hat).sum(axis=1)
    bc = spark.sparkContext.broadcast((p_ids, Pc, p_scales, p_nrm, p_l1_hat))

    def probe_store(batches):
        ids_p, Pcm, s_p, nrm_p, l1_hat_p = bc.value
        k = TOP_K
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Yc = np.stack(
                [np.asarray(c, dtype=np.int8) for c in pdf["codes"]]
            )
            y_ids = pdf["vec_id"].to_numpy()
            s_y = pdf["scale"].to_numpy()
            y_nrm = pdf["nrm"].to_numpy()
            y_l1 = pdf["l1"].to_numpy()
            gt = _gemm_dtype(Yc.shape[1])
            Dq = (Yc.astype(gt) @ Pcm.astype(gt).T).astype(
                np.float64
            ) / (s_y[:, None] * s_p[None, :])
            denom = y_nrm[:, None] * nrm_p[None, :]
            approx = Dq / denom
            eps = (
                (0.5 / s_y)[:, None] * l1_hat_p[None, :]
                + (0.5 / s_p)[None, :] * y_l1[:, None]
            ) / denom
            eps = eps * (1.0 + 1e-9) + 1e-12
            self_pair = y_ids[:, None] == ids_p[None, :]
            lb = np.where(self_pair, -np.inf, approx - eps)
            ub = np.where(self_pair, -np.inf, approx + eps)
            out_p, out_n = [], []
            for j in range(Pcm.shape[0]):
                n_rows = (~self_pair[:, j]).sum()
                if n_rows == 0:
                    continue
                kk = min(k, int(n_rows))
                thresh = np.partition(lb[:, j], len(lb) - kk)[len(lb) - kk]
                cand = np.nonzero(ub[:, j] >= thresh)[0]
                out_p.extend([ids_p[j]] * len(cand))
                out_n.extend(y_ids[cand].tolist())
            yield pd.DataFrame({"probe_id": out_p, "neighbor_id": out_n}).astype(
                {"probe_id": "int64", "neighbor_id": "int64"}
            )

    store = read_sq8_store(spark, store_dir)
    if filter is not None:
        store = store.join(
            emb.where(filter).select("vec_id"), "vec_id", "left_semi"
        )
    if exclude_ids is not None:
        # live deletion mask (r14 deletion-aware serving, the SQ8
        # store's analogue of vector_index._staleness_gate's
        # exclusion frame): anti-joined BEFORE the batch bound
        # logic, same placement rationale as `filter` — dropped rows
        # must not shape the per-batch k-th-best threshold, or the
        # lossless candidate-superset guarantee would break for the
        # surviving sub-corpus. The frame is a (vec_id) column, e.g.
        # ids masked by deletion vectors since the store was built.
        store = store.join(
            exclude_ids.select("vec_id"), "vec_id", "left_anti"
        )
    candidates = spread(store).mapInPandas(
        probe_store, "probe_id long, neighbor_id long"
    )
    # exact rescore over ONE narrow pass of the original vectors.
    # The candidate relation is slim (two longs per row) and NORMALLY
    # tiny (<= batches*k per probe plus bound-overlap extras), but on
    # a pathologically uniform corpus — every cosine within eps of
    # the k-th — it can approach corpus x N_PROBES rows, so it is NOT
    # force-broadcast (r8 review): AQE broadcasts it when it is small
    # and falls back to a shuffle join when it is not; correctness is
    # unaffected either way. Probes stay a broadcast 10-row dim.
    probes_df = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    scored = pair_cosine(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ne"))
        .join(candidates, "neighbor_id")
        .join(F.broadcast(probes_df), "probe_id"),
        "pe",
        "ne",
    ).select("probe_id", "neighbor_id", "cos_sim")
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("probe_id", "neighbor_id", "cos_sim", "rnk")
        .orderBy("probe_id", "rnk")
    )


def ann_sq8_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C54: the PERSISTED-store spelling of ann_sq8_topk — build the
    int8 code store once, serve the search by scanning the store
    (a quarter of the vector bytes) and touching original vectors
    only in the exact rescore of bound-surviving candidates (a
    broadcast semi-join over one narrow pass of the original table;
    on a vec_id-partitioned layout that pass prunes to point reads).
    Same lossless-bound candidate logic as ann_sq8_topk, so the
    output is bit-identical to ann_topk_bruteforce and shares its
    oracle — the storage tier changes WHERE bytes are read, never
    what any emitted score is."""
    import os
    import shutil

    emb = load(spark, sf_dir, "embeddings")
    tag = os.path.basename(sf_dir.rstrip("/"))
    store_dir = os.path.join("/tmp/lance_duckdb_spark", tag, "sq8_store")
    shutil.rmtree(store_dir, ignore_errors=True)
    build_sq8_store(spark, emb, store_dir)
    return sq8_store_search(spark, emb, store_dir)


QUERIES = {
    "ann_sq8_topk": ann_sq8_topk,
    "ann_sq8_indexed": ann_sq8_indexed,
}
# lossless bound + exact rescore — bit-identical to brute force
ORACLE = {
    "ann_sq8_topk": ANN_TOPK_SQL,
    "ann_sq8_indexed": ANN_TOPK_SQL,
}
