"""Driver-side frames (session.local_frame): rows the driver already
holds — DML result rows and deletion masks — are built
from an Arrow table, so below Spark's local-relation threshold they
plan as ``LocalTableScan`` and collect or broadcast with no Spark
job. A list-built frame plans as ``Scan ExistingRDD`` and runs a job
every time. Covered here:

- the plan shape and zero-job collect of every ``lance_sql`` DML
  result frame and the inline deletion-mask frame, and an ANN search
  plan with no RDD scan;
- type fidelity against ``spark.createDataFrame(rows, schema)`` for
  every schema the call sites use, and the fallback above the
  threshold;
- no ``createDataFrame`` call in the package outside the helper.
"""

from __future__ import annotations

import ast
import datetime
import os
import shutil
import uuid
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from lance_duckdb_spark.catalog import lance_sql
from lance_duckdb_spark.plans.checks import executed_plan
from lance_duckdb_spark.session import local_frame
from lance_duckdb_spark.sources import datasource as ds
from lance_duckdb_spark.sources import lance_format as lf
from lance_duckdb_spark.tables import load

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lance_duckdb_spark",
)


def _collect_jobs(spark, df):
    """(rows, number of Spark jobs the collect started)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rows = df.collect()
    return rows, len(set(tracker.getJobIdsForGroup(None)) - before)


def _assert_local(spark, df):
    plan = executed_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    rows, jobs = _collect_jobs(spark, df)
    assert jobs == 0, f"collect started {jobs} Spark job(s)"
    return rows


@pytest.fixture()
def nation_root(spark, sf_dir, tmp_path):
    root = str(tmp_path / "nation.lance")
    ds.register(spark)
    load(spark, sf_dir, "nation").write.format("lance").mode(
        "overwrite"
    ).save(root)
    return root


def test_dml_result_frames_are_local(spark, nation_root, tmp_path):
    root = nation_root
    out = lance_sql(spark, f"DELETE FROM '{root}' WHERE n_nationkey = 0")
    assert [tuple(r) for r in _assert_local(spark, out)] == [(1,)]
    out = lance_sql(
        spark,
        f"UPDATE '{root}' SET n_name = lower(n_name) WHERE n_nationkey = 1",
    )
    assert [tuple(r) for r in _assert_local(spark, out)] == [(1,)]
    out = lance_sql(
        spark,
        f"MERGE INTO '{root}' t USING (SELECT CAST(2 AS INT) AS n_nationkey, "
        f"'X' AS n_name) s ON t.n_nationkey = s.n_nationkey "
        f"WHEN MATCHED THEN UPDATE SET n_name = s.n_name",
    )
    assert [tuple(r) for r in _assert_local(spark, out)] == [(1, 0, 0)]
    out = lance_sql(
        spark,
        f"INSERT INTO '{root}' (n_nationkey, n_name) "
        f"VALUES (CAST(700 AS INT), 'a')",
    )
    assert [tuple(r) for r in _assert_local(spark, out)] == [(1,)]
    dst = str(tmp_path / "copy.lance")
    out = lance_sql(
        spark,
        f"COPY (SELECT n_nationkey FROM '{root}' WHERE n_nationkey < 5) "
        f"TO '{dst}' (FORMAT LANCE)",
    )
    assert [tuple(r) for r in _assert_local(spark, out)] == [(4,)]


def test_inline_deletion_mask_frame_is_local(spark, nation_root):
    from lance_duckdb_spark.sources.maintenance import _deletion_masks_df

    lance_sql(spark, f"DELETE FROM '{nation_root}' WHERE n_nationkey < 3")
    man = lf.read_manifest(nation_root)
    assert any(f.deletion_file for f in man.fragments)
    masks = _deletion_masks_df(spark, nation_root, man.fragments)
    rows = _assert_local(spark, masks)
    assert len(rows) == 3


def test_ann_search_plan_has_no_rdd_scan(spark, sf_dir):
    """The probe vectors and their buckets ride in the top-k kernel's
    closure (``similarity.cosine_topk``): no frame is built from them,
    so nothing in the search plan scans an RDD."""
    from pyspark.sql import functions as F

    from lance_duckdb_spark.operators.similarity import IVF_K
    from lance_duckdb_spark.sources.vector_index import (
        ann_search,
        build_ivf_index,
    )

    root = f"/tmp/lance_duckdb_spark/test_localframe_{uuid.uuid4().hex[:8]}.lance"
    try:
        ds.register(spark)
        emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        emb.write.format("lance").mode("overwrite").save(root)
        build_ivf_index(spark, root, k=IVF_K, lloyd_iters=2)
        probes = emb.where(F.col("vec_id") < 2).withColumnRenamed(
            "vec_id", "probe_id"
        )
        plan = executed_plan(ann_search(spark, root, probes, k_neighbors=3))
        assert "ExistingRDD" not in plan, plan
        assert "MapInArrow" in plan, plan
    finally:
        shutil.rmtree(root, ignore_errors=True)


_ZONE_SCHEMA = StructType(
    [
        StructField("total_rows", LongType(), False),
        StructField("min_k", IntegerType(), True),
        StructField("max_k", IntegerType(), True),
    ]
)
_COMMITTED = StructType(
    [
        StructField("d", DateType()),
        StructField("ts", TimestampNTZType()),
        StructField("amt", DecimalType(12, 2)),
        StructField("s", StringType()),
    ]
)


@pytest.mark.parametrize(
    "rows,schema",
    [
        (
            [(1, 2, "x", True, 1.5), (None, None, None, None, None)],
            "a long, b int, c string, d boolean, e double",
        ),
        (
            [([1.0, 2.5], [1, 2]), ([], []), (None, [None, 3]), ([None], None)],
            "v array<double>, w array<long>",
        ),
        (
            [("f.parquet", [0, 5, 9], None), ("g.parquet", [1], "d.json")],
            "file string, positions array<long>, dfile string",
        ),
        ([], "rows_deleted long"),
        ([], "event_type string, n_events long, sum_value double"),
        ([(7, None, 3)], _ZONE_SCHEMA),
        ([], _COMMITTED),
        (
            [
                (
                    datetime.date(1998, 12, 1),
                    datetime.datetime(1998, 12, 1, 23, 59, 58, 123456),
                    Decimal("-1234567890.12"),
                    "é",
                ),
                (None, None, None, None),
            ],
            _COMMITTED,
        ),
    ],
    ids=[
        "scalars", "arrays", "take_tasks", "empty_count", "empty_ddl",
        "not_null_field", "empty_committed", "committed_values",
    ],
)
def test_local_frame_matches_list_frame(spark, rows, schema):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_above_threshold_stays_correct(spark):
    rows = [(i, float(i) / 3) for i in range(100)]
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        df = local_frame(spark, rows, "k long, v double")
        assert "LocalTableScan" not in executed_plan(df)
        assert df.orderBy("k").collect() == spark.createDataFrame(
            rows, "k long, v double"
        ).collect()
    finally:
        spark.conf.set(key, prev)


def _create_dataframe_calls(tree: ast.AST):
    """(enclosing function name, line) of every ``*.createDataFrame(``
    call in ``tree``."""
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                out.append((fn, child.lineno))
            walk(child, name)

    walk(tree, None)
    return out


def test_no_create_dataframe_outside_local_frame():
    found = []
    for dirpath, _, files in os.walk(PACKAGE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            rel = os.path.relpath(path, PACKAGE)
            found += [
                (rel, fn, line) for fn, line in _create_dataframe_calls(tree)
            ]
    assert found, "the helper itself must call createDataFrame"
    stray = [c for c in found if c[:2] != ("session.py", "local_frame")]
    assert not stray, (
        f"createDataFrame outside session.local_frame: {stray}; build "
        "driver-side frames with local_frame"
    )
