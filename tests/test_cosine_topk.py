"""The cosine kernels of ``similarity`` against the SQL form they replace.

The reference is a pair-join expression built here: the dot product
unrolled into ``t0 + t1 + ...`` over ``CAST(v[i] AS DOUBLE)`` terms,
divided by the product of the two norms unrolled the same way, and
clamped by ``least(1, greatest(-1, ...))``. Each kernel is checked
against it in its own shape: ``cosine_topk`` against a ``row_number``
window on (cos_sim desc, id asc) over probe x corpus pairs (or
probe-bucket x posting pairs), ``pair_cosine`` against the expression
on every pair, and ``nearest_centroids`` (the probes as centroids)
against a ``row_number`` window on (cos desc, centroid_id asc) per
corpus row. Rows are compared as tuples with floats as ``float.hex``,
so ``-0.0`` and ``0.0`` differ and every score must be the same
double, not a close one.
"""

from __future__ import annotations

import contextlib
import shutil
import uuid

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from lance_duckdb_spark.operators.similarity import (
    cosine_topk,
    nearest_centroids,
    pair_cosine,
)
from lance_duckdb_spark.plans.checks import executed_plan

DIM = 4


def _bits(rows):
    return [
        tuple(v.hex() if isinstance(v, float) else v for v in r) for r in rows
    ]


def _sql_dot(a, b, dim):
    """The dot product as one left-associative SQL sum of ``dim`` terms."""
    return F.expr(
        " + ".join(f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(dim))
    )


def _sql_norm(a, dim):
    return F.sqrt(_sql_dot(a, a, dim))


def _sql_cosine(a, b, dim):
    return F.least(
        F.lit(1.0),
        F.greatest(F.lit(-1.0), _sql_dot(a, b, dim) / (_sql_norm(a, dim) * _sql_norm(b, dim))),
    )


def _sql_topk(spark, corpus, probes, k, exclude_self=True, buckets=None, dim=DIM):
    """The SQL top-k: norms below the join, one dot above."""
    schema = "probe_id long, pe array<double>"
    if buckets is None:
        pf = spark.createDataFrame(probes, schema)
    else:
        schema = "probe_id long, bucket_id long, pe array<double>"
        pf = spark.createDataFrame(
            [(p, b, v) for p, v in probes for b in buckets.get(p, ())] or [],
            schema,
        )
    pf = pf.withColumn("p_nrm", _sql_norm("pe", dim))
    c = corpus.withColumn("n_nrm", _sql_norm("v", dim)).withColumnRenamed("v", "ne")
    if buckets is None:
        cond = F.col("probe_id") != F.col("id") if exclude_self else F.lit(True)
        pairs = c.join(F.broadcast(pf), cond)
    else:
        pairs = c.join(F.broadcast(pf), "bucket_id")
        if exclude_self:
            pairs = pairs.where(F.col("probe_id") != F.col("id"))
    scored = pairs.select(
        "probe_id",
        F.col("id").alias("neighbor_id"),
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(-1.0), _sql_dot("pe", "ne", dim) / (F.col("p_nrm") * F.col("n_nrm"))
            ),
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .orderBy("probe_id", "rnk")
        .collect()
    )


def _kernel(corpus, probes, k, **kw):
    kw.setdefault("dim", DIM)
    return (
        cosine_topk(corpus, "id", "v", probes, k, **kw)
        .orderBy("probe_id", "rnk")
        .collect()
    )


def _pairs(spark, corpus, probes):
    pf = spark.createDataFrame(probes, "probe_id long, pe array<double>")
    return corpus.withColumnRenamed("v", "ne").crossJoin(F.broadcast(pf))


def _sql_pair(spark, corpus, probes, k):
    return (
        _pairs(spark, corpus, probes)
        .select("probe_id", "id", _sql_cosine("pe", "ne", DIM).alias("cos_sim"))
        .orderBy("probe_id", "id")
        .collect()
    )


def _pair_kernel(spark, corpus, probes, k):
    return (
        pair_cosine(_pairs(spark, corpus, probes), "pe", "ne", DIM)
        .select("probe_id", "id", "cos_sim")
        .orderBy("probe_id", "id")
        .collect()
    )


def _sql_nearest(spark, corpus, probes, k):
    w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("centroid_id"))
    return (
        _pairs(spark, corpus, probes)
        .select(
            "id",
            F.col("probe_id").alias("centroid_id"),
            _sql_cosine("ne", "pe", DIM).alias("c"),
        )
        .withColumn("crnk", F.row_number().over(w))
        .where(F.col("crnk") <= k)
        .select("id", "centroid_id", "crnk")
        .orderBy("id", "crnk")
        .collect()
    )


def _nearest_kernel(spark, corpus, probes, k):
    return (
        nearest_centroids(corpus, "id", "v", probes, k, DIM)
        .orderBy("id", "crnk")
        .collect()
    )


# the kernels that score pairs without a probe set's exclusions:
# (name, SQL reference, kernel), each called as f(spark, corpus, probes, k)
PAIR_SHAPES = [
    ("pair_cosine", _sql_pair, _pair_kernel),
    ("nearest_centroids", _sql_nearest, _nearest_kernel),
]


def _check_pair_shapes(spark, corpus, probes, k):
    for name, sql, kernel in PAIR_SHAPES:
        want = sql(spark, corpus, probes, k)
        assert want, name
        assert _bits(kernel(spark, corpus, probes, k)) == _bits(want), name


def _raise_in_pair_shapes(spark, corpus, probes, match):
    for name, sql, kernel in PAIR_SHAPES:
        with pytest.raises(Exception, match=match):
            sql(spark, corpus, probes, 3)
        with pytest.raises(Exception, match=match):
            kernel(spark, corpus, probes, 3)


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _batches(spark, n=3):
    """Small Arrow batches, so the per-batch partial top-k is merged."""
    return _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", str(n))


def _frame(spark, rows, bucketed=False):
    schema = "id long, v array<float>" + (", bucket_id long" if bucketed else "")
    return spark.createDataFrame(rows, schema).repartition(3)


def _random_rows(seed=5, n=40, dim=DIM):
    rng = np.random.RandomState(seed)
    mat = (rng.rand(n, dim).astype(np.float32) - np.float32(0.5)).tolist()
    rows = [(i, mat[i]) for i in range(n)]
    # ties: three identical vectors, broken by id
    rows += [(100 + i, mat[7]) for i in range(3)]
    return rows


def _clamping_vector(dim=DIM):
    """A float32 vector whose cosine with itself rounds above 1."""
    rng = np.random.RandomState(11)
    while True:
        x = rng.rand(dim).astype(np.float32).astype(np.float64)
        acc = x[0] * x[0]
        for i in range(1, dim):
            acc = acc + x[i] * x[i]
        n = np.sqrt(acc)
        if acc / (n * n) > 1.0:
            return [float(v) for v in x]


def test_random_vectors_ties_and_self_exclusion(spark):
    rows = _random_rows()
    corpus = _frame(spark, rows)
    probes = [(r[0], r[1]) for r in rows[:5]] + [(7, rows[7][1])]
    probes = list(dict(probes).items())
    with _batches(spark):
        for excl in (True, False):
            for k in (3, 10, 100):  # 100: more than the candidates
                want = _sql_topk(spark, corpus, probes, k, exclude_self=excl)
                got = _kernel(corpus, probes, k, exclude_self=excl)
                assert _bits(got) == _bits(want), (excl, k)
        # centroids 7 and 107 are the same vector: ties break by id
        _check_pair_shapes(spark, corpus, probes + [(107, rows[7][1])], 3)
    ties = [r for r in _bits(got) if r[0] == 7 and r[1] in (7, 100, 101, 102)]
    assert [r[1] for r in ties] == [7, 100, 101, 102]


def test_identical_vectors_clamp_to_one(spark):
    x = _clamping_vector()
    rows = [(1, x), (2, x), (3, [0.5, 0.25, 0.125, 1.0])]
    corpus = _frame(spark, rows)
    probes = [(1, x)]
    want = _sql_topk(spark, corpus, probes, 5)
    got = _kernel(corpus, probes, 5)
    assert _bits(got) == _bits(want)
    assert got[0]["neighbor_id"] == 2 and got[0]["cos_sim"] == 1.0
    _check_pair_shapes(spark, corpus, probes + [(4, [0.5, 0.25, 0.125, 1.0])], 2)


def test_leading_negative_zero_term(spark):
    # every product is -0.0: a fold from the first term gives -0.0,
    # a fold from 0.0 would give +0.0
    rows = [(1, [-0.0, 0.0, -1.0, 1.0]), (2, [1.0, 1.0, 1.0, 1.0])]
    corpus = _frame(spark, rows)
    probes = [(9, [1.0, -1.0, 0.0, -0.0])]
    want = _sql_topk(spark, corpus, probes, 5)
    got = _kernel(corpus, probes, 5)
    assert _bits(got) == _bits(want)
    assert (-0.0).hex() in {r[2] for r in _bits(got)}
    _check_pair_shapes(spark, corpus, probes, 1)


def test_nan_element_clamps_to_one(spark):
    # least(1.0, greatest(-1.0, NaN)) is 1.0 in Spark
    rows = [(1, [float("nan"), 1.0, 1.0, 1.0]), (2, [1.0, 2.0, 3.0, 4.0])]
    corpus = _frame(spark, rows)
    probes = [(9, [1.0, 1.0, 1.0, 1.0])]
    want = _sql_topk(spark, corpus, probes, 5)
    got = _kernel(corpus, probes, 5)
    assert _bits(got) == _bits(want)
    assert got[0]["neighbor_id"] == 1 and got[0]["cos_sim"] == 1.0
    _check_pair_shapes(spark, corpus, probes + [(8, [4.0, 3.0, 2.0, 1.0])], 2)


def test_null_vectors_and_elements_clamp_to_minus_one(spark):
    # a NULL quotient is not a NULL score: Spark's greatest skips
    # NULL, so least(1.0, greatest(-1.0, NULL)) is -1.0
    rows = _random_rows(n=12) + [
        (50, None),
        (51, [1.0, None, 2.0, 3.0]),
        (52, [1.0, 2.0, 3.0, 4.0, None]),  # null beyond dim: ignored
    ]
    corpus = _frame(spark, rows)
    probes = [(0, rows[0][1]), (1, rows[1][1]), (60, None)]
    with _batches(spark):
        want = _sql_topk(spark, corpus, probes, 100)
        got = _kernel(corpus, probes, 100)
        _check_pair_shapes(spark, corpus, probes, 2)
    assert _bits(got) == _bits(want)
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append(r)
    assert [(r["neighbor_id"], r["cos_sim"]) for r in by_probe[0][-2:]] == [
        (50, -1.0),
        (51, -1.0),
    ]
    assert all(r["cos_sim"] == -1.0 for r in by_probe[60])
    assert all(r["cos_sim"] > -1.0 for r in by_probe[0] if r["neighbor_id"] == 52)


def test_zero_vector_matches_sql(spark):
    rows = [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, 2.0, 3.0, 4.0])]
    corpus = _frame(spark, rows)
    probes = [(9, [1.0, 1.0, 1.0, 1.0])]
    # ANSI (the session default): the SQL division raises, so must the kernel
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _sql_topk(spark, corpus, probes, 5)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _kernel(corpus, probes, 5)
    _raise_in_pair_shapes(spark, corpus, probes, "DIVIDE_BY_ZERO")
    with _conf(spark, "spark.sql.ansi.enabled", "false"):
        want = _sql_topk(spark, corpus, probes, 5)
        got = _kernel(corpus, probes, 5)
        _check_pair_shapes(spark, corpus, probes + [(8, [0.0] * 4)], 2)
    assert _bits(got) == _bits(want)
    assert [r["cos_sim"] == -1.0 for r in got] == [False, True]


def test_short_and_long_vectors(spark):
    long_rows = [(1, [1.0, 2.0, 3.0, 4.0, 9.0]), (2, [4.0, 3.0, 2.0, 1.0])]
    corpus = _frame(spark, long_rows)
    probes = [(9, [1.0, 1.0, 2.0, 1.0, -7.0])]
    want = _sql_topk(spark, corpus, probes, 5)
    got = _kernel(corpus, probes, 5)
    assert _bits(got) == _bits(want) and len(got) == 2
    _check_pair_shapes(spark, corpus, probes, 1)
    short = _frame(spark, long_rows + [(3, [1.0, 2.0])])
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        _sql_topk(spark, short, probes, 5)
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        _kernel(short, probes, 5)
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        _kernel(corpus, [(9, [1.0, 1.0])], 5)
    _raise_in_pair_shapes(spark, short, probes, "INVALID_ARRAY_INDEX")
    _raise_in_pair_shapes(spark, corpus, [(9, [1.0, 1.0])], "INVALID_ARRAY_INDEX")


def test_empty_batches_and_empty_probes(spark):
    rows = _random_rows(n=10)
    corpus = _frame(spark, rows).repartition(8)  # most partitions empty
    probes = [(0, rows[0][1])]
    want = _sql_topk(spark, corpus, probes, 4)
    assert _bits(_kernel(corpus, probes, 4)) == _bits(want)
    none = corpus.where("id < 0")
    assert _kernel(none, probes, 4) == []
    assert _kernel(corpus, [], 4) == []


def test_buckets_match_probe_bucket_join(spark):
    rows = [(i, v, i % 4) for i, v in _random_rows(n=30)]
    corpus = _frame(spark, rows, bucketed=True)
    probes = [(0, rows[0][1]), (1, rows[1][1]), (2, rows[2][1]), (3, rows[3][1])]
    buckets = {0: [0, 1], 1: [1], 2: [3, 2, 0]}  # probe 3: no bucket
    with _batches(spark, 4):
        for excl in (True, False):
            want = _sql_topk(spark, corpus, probes, 6, excl, buckets)
            got = _kernel(
                corpus,
                probes,
                6,
                exclude_self=excl,
                bucket_col="bucket_id",
                probe_buckets=buckets,
            )
            assert _bits(got) == _bits(want), excl
    assert {r["probe_id"] for r in got} == {0, 1, 2}


def test_topk_plans_hold_no_nested_loop_join(spark, sf_dir):
    from lance_duckdb_spark.operators.similarity import (
        IVF_K,
        _ann_topk_filtered_exact,
        ann_topk_bruteforce,
    )
    from lance_duckdb_spark.sources import datasource as ds
    from lance_duckdb_spark.sources.vector_index import ann_search, build_ivf_index
    from lance_duckdb_spark.tables import load

    for df in (ann_topk_bruteforce(spark, sf_dir), _ann_topk_filtered_exact(spark, sf_dir)):
        plan = executed_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "MapInArrow" in plan, plan
    root = f"/tmp/lance_duckdb_spark/test_topk_{uuid.uuid4().hex[:8]}.lance"
    try:
        ds.register(spark)
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
        emb.write.format("lance").mode("overwrite").save(root)
        build_ivf_index(spark, root, k=IVF_K, lloyd_iters=2)
        probes = emb.where(F.col("vec_id") < 3).withColumnRenamed("vec_id", "probe_id")
        for kw in ({}, {"filter": "label IN (2, 5)"}):
            plan = executed_plan(ann_search(spark, root, probes, k_neighbors=5, **kw))
            assert "BroadcastNestedLoopJoin" not in plan, plan
            assert "MapInArrow" in plan, plan
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_vector_plans_hold_no_unrolled_dot(spark, sf_dir):
    """Every exact vector score runs in an Arrow kernel: no plan of
    the vector queries projects element 63 of a vector, as an
    unrolled 64-term SQL dot would."""
    import re

    from lance_duckdb_spark.registry import QUERY_REGISTRY

    for name in (
        "ann_ivf",
        "ann_knn_join",
        "embedding_neardup_ivf",
        "embedding_neardup_lsh",
        "ann_ivf_pq",
        "ann_sq8_indexed",
    ):
        plan = executed_plan(QUERY_REGISTRY[name](spark, sf_dir))
        assert not re.search(r"#\d+\[63\]", plan), (name, plan)
