"""Deletion masks above ``MASK_INLINE_MAX``: the ``_deletions/*.json``
side files are exploded in tasks and joined to the fragment scan on
``(__dfile, __pos)``, the scan side mapped fragment -> deletion file
by a broadcast frame. The mask side keeps its file-size estimate, so
Spark broadcasts it (no shuffle of the scan) unless
``autoBroadcastJoinThreshold`` says otherwise. The cap is lowered to
0 here so a small dataset takes that path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lance_duckdb_spark.catalog import lance_sql
from lance_duckdb_spark.operators.lance_ops import version_changes
from lance_duckdb_spark.plans.checks import executed_plan
from lance_duckdb_spark.sources import datasource as ds
from lance_duckdb_spark.sources import lance_format as lf
from lance_duckdb_spark.sources import maintenance
from lance_duckdb_spark.sources import vector_index as vi
from lance_duckdb_spark.tables import load


@pytest.fixture()
def masked_root(spark, sf_dir, tmp_path):
    """customer in two fragments (v1, v2), then two DELETEs (v3, v4)."""
    root = str(tmp_path / "customer.lance")
    ds.register(spark)
    cust = load(spark, sf_dir, "customer")
    cust.where("c_custkey % 2 = 0").write.format("lance").mode("overwrite").save(root)
    cust.where("c_custkey % 2 = 1").write.format("lance").mode("append").save(root)
    lance_sql(spark, f"DELETE FROM '{root}' WHERE c_custkey % 5 = 0")
    lance_sql(spark, f"DELETE FROM '{root}' WHERE c_custkey % 7 = 0")
    return root


def _tagged(spark, root, frags, key):
    return spark.read.parquet(*[os.path.join(root, f.file) for f in frags]).select(
        key,
        F.col("_metadata.file_name").alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    )


def _live(spark, root, key="c_custkey"):
    man = lf.read_manifest(root)
    return maintenance._anti_join_masks(
        spark, root, _tagged(spark, root, man.fragments, key), man.fragments
    ).select(key)


def _keys(df):
    return sorted(r[0] for r in df.collect())


def _jobs(spark, df):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    rows = df.collect()
    return rows, len(set(tracker.getJobIdsForGroup(None)) - before)


def test_json_masks_broadcast_without_scan_shuffle(spark, tmp_path, monkeypatch):
    """4 fragments of 2 000 rows, 6 000 masked positions (~30 KB of
    JSON). With a 1 MB broadcast threshold the exploded masks fit,
    while an inner join of masks and the 4-row fragment frame is
    estimated as the product of the two and does not."""
    root = str(tmp_path / "range.lance")
    ds.register(spark)
    for i in range(4):
        spark.range(i * 2000, (i + 1) * 2000).write.format("lance").mode(
            "overwrite" if i == 0 else "append"
        ).save(root)
    monkeypatch.setattr(maintenance, "MASK_INLINE_MAX", 0)
    lance_sql(spark, f"DELETE FROM '{root}' WHERE id % 4 <> 0")
    want = list(range(0, 8000, 4))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1m")
    try:
        live = _live(spark, root, "id")
        plan = executed_plan(live)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        rows, jobs = _jobs(spark, _live(spark, root, "id"))
        assert sorted(r[0] for r in rows) == want
        # the JSON mask broadcast and the scan
        assert jobs == 3, jobs
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        live = _live(spark, root, "id")
        assert "SortMergeJoin" in executed_plan(live)
        assert _keys(live) == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_json_masks_keep_dml_masked_ids_and_changes(spark, masked_root, monkeypatch):
    man = lf.read_manifest(masked_root)
    inline_ids = _keys(vi._masked_ids(spark, masked_root, man, "c_custkey"))
    inline_changes = sorted(
        tuple(r) for r in version_changes(spark, masked_root, 2, 4).collect()
    )
    monkeypatch.setattr(maintenance, "MASK_INLINE_MAX", 0)
    assert _keys(vi._masked_ids(spark, masked_root, man, "c_custkey")) == inline_ids
    assert inline_ids and all(k % 5 == 0 or k % 7 == 0 for k in inline_ids)
    changes = sorted(tuple(r) for r in version_changes(spark, masked_root, 2, 4).collect())
    assert changes == inline_changes and changes
    # a third DELETE reads the JSON masks on its hit scan
    lance_sql(spark, f"DELETE FROM '{masked_root}' WHERE c_custkey % 3 = 0")
    monkeypatch.setattr(maintenance, "MASK_INLINE_MAX", 100_000)
    left = _keys(_live(spark, masked_root))
    assert left and all(k % 3 and k % 5 and k % 7 for k in left)
