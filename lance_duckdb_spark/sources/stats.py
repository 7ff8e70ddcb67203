"""Aggregate pushdown from manifest statistics.

The manifest already records, per immutable fragment, the exact row
count and per-column [min, max] zone maps (written with the fragment,
never stale — lance_format.write_fragment). That makes three of the
most common warehouse aggregates servable with ZERO fragment IO:

- ``COUNT(*)``  = Σ fragment live row counts (exact even under
  deletion vectors — the manifest tracks num_deleted per fragment);
- ``MIN(col)`` / ``MAX(col)`` = fold of the fragment zone maps —
  exact as long as no rows were deleted (a deletion vector could
  have removed the extreme row, turning the zone map into a
  conservative bound), so deletions make min/max REFUSE toward a
  real scan rather than silently over-reporting.

At 100 TB this is the difference between a dashboard count touching
~200k manifest entries on the driver and a 1000-executor scan.
DuckDB/the reference get the same effect from parquet row-group
metadata; here the manifest IS that metadata layer.

All-NULL handling matches SQL: a fragment whose column is entirely
NULL records no zone map (write_fragment), and SQL MIN/MAX ignore
NULLs — so missing per-fragment stats for a schema column simply drop
out of the fold, and a column with no stats anywhere yields NULL.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame
from . import lance_format as lf


def manifest_aggregates(
    spark: SparkSession,
    root: str,
    columns: list[str],
    version: int | None = None,
) -> DataFrame:
    """One-row DataFrame: ``total_rows`` plus ``min_<c>``/``max_<c>``
    for every requested column, computed entirely from the manifest
    (no fragment file is ever opened — asserted in
    tests/test_stats_pushdown.py by deleting the data files first).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    manifest = lf.read_manifest(root, version)
    schema = StructType.fromJson(json.loads(manifest.schema_json))
    fields_by_name = {f.name: f for f in schema.fields}
    # only these types ever get zone maps (lance_format._column_stats);
    # anything else must REFUSE rather than fold an empty stats set
    # into a silently-wrong NULL min/max over populated data
    zone_mappable = (
        ByteType, ShortType, IntegerType, LongType,
        FloatType, DoubleType, StringType, BooleanType,
    )
    for c in columns:
        if c not in fields_by_name:
            raise lf.LanceDatasetError(
                f"no column {c!r} in dataset schema "
                f"(has {sorted(fields_by_name)})"
            )
        if not isinstance(fields_by_name[c].dataType, zone_mappable):
            raise lf.LanceDatasetError(
                f"column {c!r} ({fields_by_name[c].dataType.simpleString()})"
                " carries no zone maps (only int/float/string/bool do);"
                " MIN/MAX for it needs a real scan"
            )
    deleted = sum(f.num_deleted for f in manifest.fragments)
    if deleted and columns:
        raise lf.LanceDatasetError(
            f"dataset has {deleted} rows deleted via deletion "
            "vectors: zone maps are conservative bounds, not exact "
            "MIN/MAX, once rows are deleted — compact first "
            "(materializes deletions and rewrites zone maps) or run "
            "a real scan"
        )
    total = sum(f.live_rows for f in manifest.fragments)
    row: list = [total]
    out_fields = [StructField("total_rows", LongType(), False)]
    for c in columns:
        mins = [
            f.stats[c][0]
            for f in manifest.fragments
            if f.stats and c in f.stats
        ]
        maxs = [
            f.stats[c][1]
            for f in manifest.fragments
            if f.stats and c in f.stats
        ]
        row += [min(mins) if mins else None, max(maxs) if maxs else None]
        t = fields_by_name[c].dataType
        out_fields.append(StructField(f"min_{c}", t, True))
        out_fields.append(StructField(f"max_{c}", t, True))
    return local_frame(spark, [tuple(row)], StructType(out_fields))
