"""Persisted scalar index over a lance dataset column.

Lance proper pairs its vector indices with SCALAR indices (BTree /
bitmap under `_indices/`) so point/range predicates on non-clustered
columns prune fragments without relying on write-time ordering —
zone maps only help when values are clustered; a scalar index maps
VALUES to the fragments that contain them regardless of layout.

Spark-first shape:
- ``build_scalar_index``: one distributed pass over the live
  fragment files — distinct (value, fragment file) pairs with
  counts — written as parquet SORTED by value, so a value/range
  probe of the index is itself min/max-prunable. Index size is
  bounded by Σ per-fragment distinct values, not row count.
- ``scalar_index_scan``: probe the index for the predicate's
  fragment set (a collect bounded by fragment count — the same
  contract as collecting k centroids), then scan with the
  ``fragment_files`` allowlist option; the reader plans ONE input
  partition per allowed fragment and never opens the rest.

Deletion vectors: deleted rows may leave their values in the index
until compaction — the index stays CONSERVATIVE (may admit a
fragment with only deleted matches; the scan itself applies the
deletion mask, so results are exact).

Staleness contract: like the vector indices, the index records the
dataset version it was built at and refuses to serve a moved head
unless ``allow_stale=True`` (the fragment_files allowlist is
version-bound).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from . import iolayer as iol
from . import lance_format as lf
from .datasource import register

INDEX_ROOT = "_indexes/scalar"


class StaleScalarIndexError(lf.LanceDatasetError):
    pass


def _index_dir(root: str, column: str) -> str:
    return os.path.join(root, INDEX_ROOT, column)


def build_scalar_index(
    spark: SparkSession, root: str, column: str
) -> dict:
    """One shuffle on (value, fragment): map-side partial agg
    collapses each fragment's rows to its distinct values before
    anything moves."""
    from pyspark.sql.types import StructType

    register(spark)
    from . import lance_native as ln

    if ln.is_native_dataset(root):
        raise lf.LanceDatasetError(
            "scalar indexes over datasets created by Lance proper are "
            "not supported without the lance wheel (the fragment "
            "allowlist scan option only exists for the JSON-manifest "
            "store)"
        )
    manifest = lf.read_manifest(root)
    # the fragment read below resolves columns by CURRENT name (r13
    # guard): building on a renamed column would index all-NULL and
    # serve silently empty results
    lf.require_physical_identity(manifest, "build_scalar_index")
    committed = StructType.fromJson(json.loads(manifest.schema_json))
    if column not in committed.fieldNames():
        raise lf.LanceDatasetError(
            f"no column {column!r} in dataset schema"
        )
    paths = [
        iol.spark_read_path(os.path.join(root, f.file))
        for f in manifest.fragments
    ]
    if not paths:
        # spark.read.parquet() with zero paths crashes opaquely —
        # name the actual problem instead (r4 ADVICE edge)
        raise lf.LanceDatasetError(
            f"dataset {root!r} (version {manifest.version}) has no "
            "fragments; a scalar index over an empty dataset is "
            "meaningless — append data first"
        )
    rows = (
        spark.read.schema(committed)
        .parquet(*paths)
        .select(
            F.col(column).alias("value"),
            F.col("_metadata.file_name").alias("__file"),
        )
        # NULL never matches an eq/between probe: indexing it would
        # only write dead entries (one per fragment of a sparse
        # column; r5 review finding)
        .where(F.col("value").isNotNull())
        .groupBy("value", "__file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    # basename -> manifest-relative path (fragment basenames are
    # uuid-unique by construction)
    base_to_rel = {os.path.basename(f.file): f.file for f in manifest.fragments}
    mapping = local_frame(
        spark,
        list(base_to_rel.items()),
        schema="__file string, fragment string",
    )
    idx_dir = _index_dir(root, column)
    # stage into a FRESH uniquely-named entries dir and publish it
    # via the meta, exactly the vector-index rebuild discipline: an
    # in-place overwrite of the live entries/ let a concurrent scan
    # list the dir mid-rewrite and compute a fragment allowlist from
    # a SUBSET of the index — silently missing rows (r8 review
    # finding); a crash between the two writes likewise left new
    # entries under the old meta. Superseded entry dirs are swept
    # inside the publish lock.
    import uuid as _uuid

    entries_name = f"entries_{_uuid.uuid4().hex[:8]}"
    (
        rows.join(F.broadcast(mapping), "__file")
        .select("value", "fragment", "n_rows")
        .sort("value")
        .write.mode("overwrite")
        .parquet(iol.spark_write_path(os.path.join(idx_dir, entries_name)))
    )
    meta = {
        "column": column,
        "dataset_version": manifest.version,
        "entries_dir": entries_name,
    }
    iol.makedirs(idx_dir)
    meta_path = os.path.join(idx_dir, "index.json")
    lock = meta_path + ".lock"
    # conditional create — same primitive as the manifest CAS
    if not iol.put_if_absent(lock, b""):
        raise lf.LanceDatasetError(
            f"concurrent scalar-index build detected ({lock} exists); "
            "retry after the other builder finishes (or remove the "
            "lock if its holder crashed)"
        )
    try:
        iol.write_text(meta_path, json.dumps(meta))
        for name in iol.listdir(idx_dir):
            if name.startswith("entries") and name != entries_name:
                iol.rmtree(os.path.join(idx_dir, name))
    finally:
        iol.remove(lock)
    return meta


def read_scalar_index_meta(root: str, column: str) -> dict:
    p = os.path.join(_index_dir(root, column), "index.json")
    if not iol.exists(p):
        raise lf.LanceDatasetError(
            f"no scalar index on {column!r} at {root}; "
            "run build_scalar_index first"
        )
    return json.loads(iol.read_text(p))


def scalar_index_scan(
    spark: SparkSession,
    root: str,
    column: str,
    *,
    eq=None,
    lo=None,
    hi=None,
    allow_stale: bool = False,
) -> DataFrame:
    """Scan only the fragments the index proves can contain rows
    matching ``column == eq`` (or ``lo <= column <= hi``); the
    predicate is ALSO applied to the scan, so results equal a full
    filter scan exactly — the index changes IO, never answers."""
    meta = read_scalar_index_meta(root, column)
    head_man = lf.read_manifest(root)
    pin_version = meta["dataset_version"]
    if head_man.version != meta["dataset_version"] and not allow_stale:
        # Deletion-aware serving (r14): per-fragment zone maps stay
        # CONSERVATIVE under deletes (a mask only removes rows, so
        # the recorded min/max can only over-approximate — a false
        # positive costs one pruned-in fragment scan, never a wrong
        # answer). A deletion-only divergence therefore serves LIVE:
        # pin the scan at the examined head version — the datasource
        # applies its deletion masks — instead of refusing. A
        # metadata-only bump likewise just re-pins. Appends/rewrites
        # still refuse: new fragments have no entries (silent
        # under-return), rewritten ones have stale value ranges.
        try:
            base = lf.read_manifest(root, meta["dataset_version"])
        except lf.LanceDatasetError as e:
            # vacuumed indexed version: fall back to the pre-r14
            # refusal instead of a bare version-not-found (r14 review)
            raise StaleScalarIndexError(
                f"scalar index on {column!r} was built at dataset "
                f"version {meta['dataset_version']}, whose manifest "
                "is no longer retained (vacuumed); rebuild the index "
                f"({str(e)[:120]})"
            )
        kind, detail = lf.head_divergence(base, head_man)
        if kind in ("rewritten", "appended"):
            raise StaleScalarIndexError(
                f"scalar index on {column!r} was built at dataset "
                f"version {meta['dataset_version']} but version "
                f"{head_man.version} {kind} fragment(s) (e.g. "
                f"{detail[:2]}); rebuild the index (or pass "
                "allow_stale=True to scan the indexed snapshot)"
            )
        pin_version = head_man.version
    entries = spark.read.parquet(
        iol.spark_read_path(
            os.path.join(
                _index_dir(root, column),
                meta.get("entries_dir", "entries"),
            )
        )
    )
    if eq is not None:
        entries = entries.where(F.col("value") == eq)
        pred = F.col(column) == eq
    else:
        if lo is None or hi is None:
            raise ValueError("pass eq=... or both lo=... and hi=...")
        entries = entries.where(F.col("value").between(lo, hi))
        pred = F.col(column).between(lo, hi)
    frags = sorted(
        {r["fragment"] for r in entries.select("fragment").distinct().collect()}
    )
    # ALWAYS pin an examined version: the staleness check above is
    # check-then-act, and the scan is lazy — an append between the
    # check and the action would otherwise pass the fragment
    # allowlist (old names still present) and silently omit the new
    # rows (r5 review finding). The pin is the indexed version by
    # default, or the examined head version for a deletion-only /
    # metadata-only divergence (r14 deletion-aware serving) — either
    # way a version this function inspected, never a racing later one.
    reader = spark.read.format("lance").option(
        "version", str(pin_version)
    )
    if not frags:
        # provably empty: scan nothing but keep the schema/predicate
        return reader.load(root).where(F.lit(False))
    return (
        reader.option("fragment_files", ",".join(frags))
        .load(root)
        .where(pred)
    )
