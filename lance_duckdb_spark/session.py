"""Tuned SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the settings
below are the ones we would ship on a real cluster (AQE with
partition coalescing + skew-join handling, Arrow transfers for the
few Pandas-UDF operators). Queries in ``operators/`` never depend on
session config for *correctness* — broadcast decisions are explicit
hints — so they run unchanged under the driver's own session.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# Spark keeps compiled generated classes (whole-stage code, projections,
# predicates) in one LRU cache per JVM of spark.sql.codegen.cache.maxEntries
# entries, 100 by default. A session that cycles through more distinct plan
# shapes than that evicts each class before its next use, so every cycle
# recompiles all of them: at 100 entries each steady perfbench pass
# recompiled 144 classes on ann_serving and 129 on lance_dml (sf0.1).
# tools/codegen_census.py measured the working set of the whole registry:
# one pass of all 153 queries in one session at sf0.01 compiles
# REGISTRY_CODEGEN_CLASSES distinct classes (per query median 12, p90 26,
# max 89) and grows metaspace from 77 to 223 MB. 4096 entries hold the
# registry with headroom; re-run the census when the registry grows.
REGISTRY_CODEGEN_CLASSES = 2254
CODEGEN_CACHE_MAX_ENTRIES = 4096


def get_spark(app_name: str = "lance_duckdb_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # split-size floor: the 4 MB default caps a 12 MB file at 3
        # input splits, idling 29 of 32 cores on every small-file
        # scan. 256 KB lets bytesPerCore drive the split count; at
        # cluster scale files are large, bytesPerCore >> this floor,
        # and maxPartitionBytes (128 MB) governs as usual.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .getOrCreate()
    )


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """The one way the package builds a frame from driver-held rows
    (tuples in ``schema`` field order; ``schema`` a StructType or a
    DDL string).

    The rows go through a ``pyarrow.Table``, not a Python list: a
    list-built frame plans as ``Scan ExistingRDD`` and starts a Spark
    job every time it is collected or broadcast, while an Arrow table
    below ``spark.sql.execution.arrow.localRelationThreshold`` becomes
    a ``LocalRelation`` that collects and broadcasts on the driver with
    no job. Above the threshold Spark ships the table to executors as
    before, so the result is correct at any size.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = (
        list(zip(*rows, strict=True)) if rows else [()] * len(arrow_schema)
    )
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
